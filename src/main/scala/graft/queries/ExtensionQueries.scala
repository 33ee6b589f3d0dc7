package graft.queries

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.builders.Tpch
import graft.functions.TextFunctions
import graft.model.{DataCube, Hierarchy, Measure}
import graft.operators.{Dedup, Events, Sampling, Similarity}

/** North-star extension queries (BASELINE.json): the training-data-pipeline
  * operators — text analysis, dedup family, similarity search, windowed
  * events — each DuckDB-oracle-checked where SQL-expressible.
  *
  * Portability conventions (same as ParityQueries): md5-derived hashes only
  * (bit-identical in DuckDB), doubles rounded before comparison whenever an
  * engine-side summation order could differ, exact decimal for money-like
  * sums, every output fully ordered NULLS FIRST.
  */
object ExtensionQueries extends ExtensionQueryHelpers
    with TextQueries with RetrievalAnnQueries with StarQueries
    with CurationQueries {

  /** name -> (query fn, oracle SQL or null). */
  val all: Seq[(String, (SparkSession, String) => DataFrame, String)] = Seq(
    ("q16_text_stats", q16 _, q16Sql),
    ("q17_langid", q17 _, q17Sql),
    ("q18_dedup_exact", q18 _, q18Sql),
    ("q19_dedup_jaccard", q19 _, q19Sql),
    ("q20_dedup_minhash_lsh", q20 _, q20Sql),
    ("q21_dedup_simhash", q21 _, q21Sql),
    ("q22_knn_brute", q22 _, q22Sql),
    ("q23_embedding_near_dup", q23 _, q23Sql),
    ("q24_events_tumbling", q24 _, q24Sql),
    ("q25_sessionize", q25 _, q25Sql),
    ("q26_from_table", q26 _, q26Sql),
    ("q27_count_distinct", q27 _, q27Sql),
    ("q28_winnow_fingerprint", q28 _, q28Sql),
    ("q29_token_bpe", q29 _, q29Sql),
    ("q30_json_props", q30 _, q30Sql),
    ("q31_approx_distinct", q31 _, q31Sql), // exact count + 5% tolerance verdict
    ("q32_events_sliding", q32 _, q32Sql),
    ("q33_sql_views", q33 _, q33Sql),
    ("q34_dedup_components", q34 _, q34Sql),
    ("q35_hash_split", q35 _, q35Sql),
    ("q36_quantiles", q36 _, q36Sql),
    ("q37_salted_join", q37 _, q37Sql),
    ("q38_repetition", q38 _, q38Sql),
    ("q39_decontaminate", q39 _, q39Sql),
    ("q40_pack_sequences", q40 _, q40Sql),
    ("q41_funnel", q41 _, q41Sql),
    ("q42_redact_pii", q42 _, q42Sql),
    ("q43_top_terms", q43 _, q43Sql),
    ("q44_image_near_dup", q44 _, q44Sql), // golden planted-pair set
    ("q45_dedup_corpus", q45 _, q45Sql),
    ("q46_dup_ngram_share", q46 _, q46Sql),
    ("q47_chunking", q47 _, q47Sql),
    ("q48_mixing_weights", q48 _, q48Sql),
    ("q49_attribution", q49 _, q49Sql),
    ("q50_approx_quantiles", q50 _, q50Sql),
    ("q51_trailing_rate", q51 _, q51Sql),
    ("q52_session_native", q52 _, q52Sql),
    ("q53_bloom_decontaminate", q53 _, q53Sql),
    ("q54_skew_report", q54 _, q54Sql),
    ("q55_dedup_delta", q55 _, q55Sql),
    ("q56_sample_to_budget", q56 _, q56Sql),
    ("q57_video_near_dup", q57 _, q57Sql), // golden planted-pair set
    ("q58_neardup_delta", q58 _, q58Sql),
    ("q59_vec_neardup_delta", q59 _, q59Sql),
    ("q60_asof_join", q60 _, q60Sql),
    ("q61_range_join", q61 _, q61Sql),
    ("q62_star_ingest", q62 _, q62Sql),
    ("q63_scd2_dimension", q63 _, q63Sql),
    ("q64_star_retract", q64 _, q64Sql),
    ("q65_stratified_exact", q65 _, q65Sql),
    ("q66_drill_across", q66 _, q66Sql),
    ("q67_semi_additive", q67 _, q67Sql),
    ("q68_time_intelligence", q68 _, q68Sql),
    ("q69_share_of_parent", q69 _, q69Sql),
    ("q70_topk_other", q70 _, q70Sql),
    ("q71_asof_tolerance", q71 _, q71Sql),
    ("q72_scd1_update", q72 _, q72Sql),
    ("q73_sketch_cube", q73 _, q73Sql),
    ("q74_retention_cohorts", q74 _, q74Sql),
    ("q75_histogram_cube", q75 _, q75Sql),
    ("q76_frequent_terms", q76 _, q76Sql),
    ("q77_quality_audit", q77 _, q77Sql),
    ("q78_sketch_ingest", q78 _, q78Sql),
    ("q79_agg_navigator", q79 _, q79Sql),
    ("q80_nav_refresh", q80 _, q80Sql),
    ("q81_cube_routed", q81 _, q81Sql),
    ("q82_rollup_routed", q82 _, q82Sql),
    ("q83_lm_score", q83 _, q83Sql),
    ("q84_nav_stream", q84 _, q84Sql),
    ("q85_bm25_search", q85 _, q85Sql),
    ("q86_heavy_hitters", q86 _, q86Sql),
    ("q87_range_routed", q87 _, q87Sql),
    ("q88_sliding_distinct", q88 _, q88Sql),
    ("q89_bm25_incremental", q89 _, q89Sql),
    ("q90_dedup_report", q90 _, q90Sql),
    ("q91_pq_verdict", q91 _, q91Sql),
    ("q92_ivfpq_stored", q92 _, q92Sql),
    ("q93_quality_classifier", q93 _, q93Sql),
    ("q94_fuzzy_join", q94 _, q94Sql),
    ("q95_entity_resolution", q95 _, q95Sql),
    ("q96_kmeans", q96 _, q96Sql), // verdict + ClusteringSpec geometry
    ("q97_diversity_sample", q97 _, q97Sql),
    ("q98_entity_delta", q98 _, q98Sql),
    ("q99_bpe_train", q99 _, q99Sql), // verdict + BpeSpec exact merges
    ("q100_semantic_dedup", q100 _, q100Sql),
    ("q101_er_multiblock", q101 _, q101Sql),
    ("q102_nav_retract", q102 _, q102Sql),
    ("q103_keepbest_dedup", q103 _, q103Sql),
    ("q104_importance_resample", q104 _, q104Sql),
    ("q105_shuffle_shards", q105 _, q105Sql),
    ("q106_curation_pipeline", q106 _, q106Sql),
    ("q107_er_delta_multiblock", q107 _, q107Sql),
    ("q108_duplicate_spans", q108 _, q108Sql),
    ("q109_span_removal", q109 _, q109Sql),
    ("q110_nav_retract_minmax", q110 _, q110Sql),
    ("q111_dsir_bigram", q111 _, q111Sql),
    ("q112_hybrid_search", q112 _, q112Sql),
    ("q113_ivfpq_refined", q113 _, q113Sql),
    ("q114_span_decontaminate", q114 _, q114Sql),
    ("q115_decontaminate_removal", q115 _, q115Sql),
    ("q116_proto_prune", q116 _, q116Sql),
    ("q117_ccnet_buckets", q117 _, q117Sql),
    ("q118_leak_attribution", q118 _, q118Sql),
    ("q119_curation_v2", q119 _, q119Sql),
    ("q120_curriculum_shards", q120 _, q120Sql),
    ("q121_source_overlap", q121 _, q121Sql),
    ("q122_leaksafe_split", q122 _, q122Sql),
    ("q123_profile", q123 _, q123Sql),
    ("q124_volume_anomalies", q124 _, q124Sql),
    ("q125_split_curriculum", q125 _, q125Sql),
    ("q126_paragraph_dedup", q126 _, q126Sql),
    ("q127_profile_quantiles", q127 _, q127Sql),
    ("q128_unimax_mixing", q128 _, q128Sql),
    ("q129_paragraph_delta", q129 _, q129Sql),
    ("q130_hard_negatives", q130 _, q130Sql),
    ("q131_zorder_profile", q131 _, q131Sql),
    ("q132_novelty", q132 _, q132Sql),
    ("q133_divergence", q133 _, q133Sql),
    ("q134_gopher_rules", q134 _, q134Sql),
    ("q135_compaction_plan", q135 _, q135Sql),
    ("q136_repetition_rules", q136 _, q136Sql),
    ("q137_html_extract", q137 _, q137Sql),
    ("q138_url_canonical", q138 _, q138Sql),
    ("q139_curation_v3", q139 _, q139Sql),
    ("q140_filtered_knn", q140 _, q140Sql),
    ("q141_repeated_lines", q141 _, q141Sql),
    ("q142_langid_trained", q142 _, q142Sql),
    ("q143_curation_v4", q143 _, q143Sql),
    ("q144_sequence_packing", q144 _, q144Sql),
    ("q145_weighted_interleave", q145 _, q145Sql),
    ("q146_sq8_knn", q146 _, q146Sql),
    ("q147_rp_knn", q147 _, q147Sql), // verdict + Round14Spec JL laws
    ("q148_bucketed_join", q148 _, q148Sql),
    ("q149_ivfsq_stored", q149 _, q149Sql), // verdict + Round14Spec SQ laws
    ("q150_temperature_mix", q150 _, q150Sql),
    ("q151_packed_binned", q151 _, q151Sql),
    ("q152_curation_funnel", q152 _, q152Sql),
    ("q153_unigram_train", q153 _, q153Sql), // verdict + Round15Spec EM laws
    ("q154_index_health", q154 _, q154Sql),
    ("q155_packed_tokenized", q155 _, q155Sql), // verdict + BpeSpec laws
    ("q156_maintain_index", q156 _, q156Sql),
    ("q157_maintain_store", q157 _, q157Sql),
    ("q158_packed_unigram", q158 _, q158Sql) // verdict + BpeSpec laws
  )
}
