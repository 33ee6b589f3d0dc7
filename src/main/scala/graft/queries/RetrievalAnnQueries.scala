package graft.queries

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.builders.Tpch
import graft.functions.TextFunctions
import graft.model.{DataCube, Hierarchy, Measure}
import graft.operators.{Dedup, Events, Sampling, Similarity}

/** Similarity-search, retrieval, and record-matching queries:
  * brute/LSH/IVF/PQ kNN, BM25 (stored + incremental), hybrid RRF fusion,
  * fuzzy join, entity resolution, clustering, BPE.
  * Part of the [[ExtensionQueries]] surface (see its scaladoc for the
  * portability conventions every oracle follows).
  */
private[queries] trait RetrievalAnnQueries { self: ExtensionQueryHelpers =>

  // -------------------------------------------------------------------
  // q22 — brute-force cosine top-k similarity search
  // -------------------------------------------------------------------
  def q22(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val q = e.filter(col("vec_id") < 5)
    sorted(Similarity.bruteKnn(q, e, k = 5)
      .withColumn("cos", round(col("cos"), 4)))
  }

  val q22Sql: String =
    """WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
      |p AS (
      |  SELECT q.vec_id query_id, e.vec_id neighbor_id, q.embedding qe, e.embedding ce
      |  FROM q JOIN embeddings e ON e.vec_id != q.vec_id
      |), ex AS (
      |  SELECT query_id, neighbor_id,
      |         unnest(qe)::DOUBLE qv, unnest(ce)::DOUBLE cv
      |  FROM p
      |), d AS (
      |  SELECT query_id, neighbor_id,
      |         SUM(qv*cv) / sqrt(SUM(qv*qv)) / sqrt(SUM(cv*cv)) AS cos
      |  FROM ex GROUP BY 1, 2
      |), rk AS (
      |  SELECT query_id, neighbor_id,
      |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS INT) AS rank,
      |         round(cos, 4) AS cos
      |  FROM d
      |)
      |SELECT query_id, neighbor_id, rank, cos FROM rk WHERE rank <= 5
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q140 — FILTERED vector search (pre-filter / FAISS IDSelector
  //        semantics): top-k among corpus vectors satisfying a metadata
  //        predicate (vec_id % 3 = 1 — per-source search, date scopes,
  //        permission filters at serving time). Exact over the filtered
  //        corpus; the stored-IVF twin pushes the SAME predicate into
  //        the parquet scan of the probed cells (PlanSpec pins the
  //        pushdown; PipelineOpsSpec gates its recall vs this result).
  // -------------------------------------------------------------------
  def q140(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val q = e.filter(col("vec_id") < 5)
    sorted(Similarity.bruteKnn(q, e.filter(col("vec_id") % 3 === 1), k = 5)
      .withColumn("cos", round(col("cos"), 4)))
  }

  val q140Sql: String =
    """WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
      |p AS (
      |  SELECT q.vec_id query_id, e.vec_id neighbor_id, q.embedding qe, e.embedding ce
      |  FROM q JOIN embeddings e ON e.vec_id != q.vec_id AND e.vec_id % 3 = 1
      |), ex AS (
      |  SELECT query_id, neighbor_id,
      |         unnest(qe)::DOUBLE qv, unnest(ce)::DOUBLE cv
      |  FROM p
      |), d AS (
      |  SELECT query_id, neighbor_id,
      |         SUM(qv*cv) / sqrt(SUM(qv*qv)) / sqrt(SUM(cv*cv)) AS cos
      |  FROM ex GROUP BY 1, 2
      |), rk AS (
      |  SELECT query_id, neighbor_id,
      |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS INT) AS rank,
      |         round(cos, 4) AS cos
      |  FROM d
      |)
      |SELECT query_id, neighbor_id, rank, cos FROM rk WHERE rank <= 5
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q23 — embedding near-duplicate pairs (cosine ≥ threshold)
  // -------------------------------------------------------------------
  def q23(s: SparkSession, dir: String): DataFrame =
    sorted(Similarity.nearDupPairs(emb(s, dir), threshold = 0.47)
      .withColumn("cos", round(col("cos"), 4)))

  val q23Sql: String =
    """WITH p AS (
      |  SELECT a.vec_id i, b.vec_id j, a.embedding va, b.embedding vb
      |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      |), ex AS (
      |  SELECT i, j, unnest(va)::DOUBLE x, unnest(vb)::DOUBLE y FROM p
      |), d AS (
      |  SELECT i, j, SUM(x*y) / sqrt(SUM(x*x)) / sqrt(SUM(y*y)) AS cos
      |  FROM ex GROUP BY 1, 2
      |)
      |SELECT i, j, round(cos, 4) AS cos FROM d WHERE cos >= 0.47
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q59 — INCREMENTAL embedding near-dup dedup against a STORED IVF
  //       index (the vector twin of q58): the embeddings table is the
  //       already-ingested corpus (saved as a cell-partitioned IVF
  //       index); the delta plants all three behaviors deterministically
  //       — vec_id%10==0 re-ingested verbatim (cross hit → drop),
  //       %10==1 rotated by 13 positions (fresh → survive; rotation is
  //       an isometry, so rotated-vs-rotated cosines equal the raw pair
  //       cosines, and rotated-vs-raw cosines are empirically ≤ 0.57 at
  //       every gate scale vs the 0.9 threshold — pinned per-dataset by
  //       check_correctness.py's q59 margin pin), %10==2 rotated TWICE
  //       under two ids (within-delta twin pair → min id survives).
  //       Delta ids are MULTIPLICATIVELY encoded (vec_id*4+1, *4+2):
  //       collision-free within the delta for ANY corpus id set, unlike
  //       a fixed additive offset (which collides once ids span it —
  //       the ScaleProbe lesson from this same round).
  //       Deterministic despite nprobe < nlist: an identical re-ingest
  //       ranks cells exactly like its stored twin (nprobe 4 ≥ replicate
  //       2 ⇒ guaranteed cell overlap), and cos-1.0 within twins collide
  //       in every LSH table. Oracle: exact-cosine cross + within pairs,
  //       recursive-CTE closure, tainted-component drop (q58's shape).
  // -------------------------------------------------------------------
  def q59(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_q59_ivf_" +
      Integer.toHexString(dir.hashCode)
    // one refinement iteration: q59's determinism never depends on
    // centroid QUALITY (an identical re-ingest ranks cells identically
    // to its stored twin under ANY centroids), so the extra k-means
    // passes only pay driver-action latency per call
    Similarity.saveIvfIndex(e, path, nlist = 16, replicate = 2,
      kmeansIters = 1)
    val rot = concat(slice(col("embedding"), 14, 51),
      slice(col("embedding"), 1, 13))
    val delta = e.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") * 4 + 1).as("vec_id"), col("embedding"))
      .unionByName(e.filter(col("vec_id") % 10 === 1)
        .select((col("vec_id") * 4 + 1).as("vec_id"), rot.as("embedding")))
      .unionByName(e.filter(col("vec_id") % 10 === 2)
        .select(explode(array(col("vec_id") * 4 + 1, col("vec_id") * 4 + 2))
          .as("vec_id"), rot.as("embedding")))
    // explicit light banding (16 planes × 8 tables): every true pair in
    // this fixture is an identical-vector pair (cos 1.0 — the margin pin
    // above), and identical vectors collide in EVERY table under any
    // banding, so recall stays 1 deterministically while the bucket-row
    // explode shrinks 7× vs the threshold-derived 12×55
    val (surv, _) = Similarity.nearDupDelta(s, path, delta, threshold = 0.9,
      planes = 16, tables = 8)
    sorted(surv.select("vec_id"))
  }

  val q59Sql: String =
    """WITH RECURSIVE delta AS (
      |  SELECT vec_id * 4 + 1 AS vid, embedding AS v
      |  FROM embeddings WHERE vec_id % 10 = 0
      |  UNION ALL
      |  SELECT vec_id * 4 + 1, embedding[14:] || embedding[:13]
      |  FROM embeddings WHERE vec_id % 10 = 1
      |  UNION ALL
      |  SELECT vec_id * 4 + 1, embedding[14:] || embedding[:13]
      |  FROM embeddings WHERE vec_id % 10 = 2
      |  UNION ALL
      |  SELECT vec_id * 4 + 2, embedding[14:] || embedding[:13]
      |  FROM embeddings WHERE vec_id % 10 = 2
      |), cp AS (
      |  SELECT c.vec_id i, d.vid j, c.embedding va, d.v vb
      |  FROM embeddings c, delta d
      |), cex AS (SELECT i, j, unnest(va)::DOUBLE x, unnest(vb)::DOUBLE y FROM cp
      |), cd AS (
      |  SELECT i, j, SUM(x*y)/sqrt(SUM(x*x))/sqrt(SUM(y*y)) cos
      |  FROM cex GROUP BY 1, 2
      |), crosshit AS (SELECT DISTINCT j FROM cd WHERE cos >= 0.9
      |), wp0 AS (
      |  SELECT a.vid i, b.vid j, a.v va, b.v vb
      |  FROM delta a JOIN delta b ON a.vid < b.vid
      |), wex AS (SELECT i, j, unnest(va)::DOUBLE x, unnest(vb)::DOUBLE y FROM wp0
      |), wp AS (
      |  SELECT i, j FROM (
      |    SELECT i, j, SUM(x*y)/sqrt(SUM(x*x))/sqrt(SUM(y*y)) cos
      |    FROM wex GROUP BY 1, 2
      |  ) WHERE cos >= 0.9
      |), edges AS (
      |  SELECT i AS a, j AS b FROM wp UNION SELECT j, i FROM wp
      |), reach(a, b) AS (
      |  SELECT a, b FROM edges
      |  UNION
      |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
      |), comp AS (
      |  SELECT a AS doc_id, least(a, min(b)) AS component FROM reach GROUP BY a
      |), full_comp AS (
      |  SELECT d.vid AS doc_id, coalesce(c.component, d.vid) AS component
      |  FROM delta d LEFT JOIN comp c ON c.doc_id = d.vid
      |), tainted AS (
      |  SELECT DISTINCT component FROM full_comp
      |  WHERE doc_id IN (SELECT j FROM crosshit)
      |), losers AS (
      |  SELECT doc_id FROM full_comp
      |  WHERE component IN (SELECT component FROM tainted)
      |     OR doc_id <> component
      |)
      |SELECT vid AS vec_id FROM delta
      |WHERE vid NOT IN (SELECT doc_id FROM losers)
      |ORDER BY 1 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q91 — PRODUCT QUANTIZATION verdict (q31/q50 doctrine — the op is
  //       approximate and not SQL-expressible, so the hash-checked
  //       columns are the deterministic shape plus a robust-margin
  //       verdict): train 4×16-centroid codebooks on the fixture
  //       embeddings (dim 64 → 16 ints per vector, 16× compression),
  //       encode, and require that for ≥ 90% of 20 planted perturbed
  //       queries the source vector surfaces in the PQ top-5 by
  //       asymmetric distance.
  // -------------------------------------------------------------------
  def q91(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.Similarity
    val e = emb(s, dir).select("vec_id", "embedding")
    val srcs = e.filter(col("vec_id") % 25 === 0).limit(20)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val qrnd = new scala.util.Random(11)
    val queries = srcs.toSeq.map { case (id, v) =>
      (id + 100000L, v.map(x => x + 0.02f * qrnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val model = Similarity.trainPq(e, m = 16, ksub = 16, iters = 3)
    val codes = Similarity.pqEncode(e, model)
    val top = Similarity.pqKnn(queries, codes, model, k = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val hits = srcs.count { case (id, _) =>
      top.getOrElse(id + 100000L, Set.empty[Long]).contains(id) }
    Seq((srcs.length.toLong, if (hits >= 18) 1 else 0))
      .toDF("n_queries", "recall_ok")
  }

  val q91Sql: String =
    """SELECT CAST(20 AS BIGINT) AS n_queries, 1 AS recall_ok"""

  // -------------------------------------------------------------------
  // q92 — IVF-PQ SERVING verdict: q91's planted-perturbation check
  //       routed through the PERSISTED compressed index (cells × codes
  //       on disk, no raw vectors) and the static-pruned probe — the
  //       whole save → reload → probe round trip sits under the
  //       verdict. nprobe=8 of nlist=8 keeps the planted cell surely
  //       probed at fixture scale; the compression/pruning contracts
  //       are PipelineOpsSpec's job.
  // -------------------------------------------------------------------
  def q92(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.Similarity
    val e = emb(s, dir).select("vec_id", "embedding")
    val srcs = e.filter(col("vec_id") % 25 === 0).limit(20)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val qrnd = new scala.util.Random(13)
    val queries = srcs.toSeq.map { case (id, v) =>
      (id + 100000L, v.map(x => x + 0.02f * qrnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_q92_ivfpq_" +
      Integer.toHexString(dir.hashCode)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    Similarity.saveIvfPqIndex(e, root, nlist = 8, m = 16, ksub = 16,
      kmeansIters = 2, pqIters = 2, replicate = 2)
    val top = Similarity.quantizedKnnStored(s, root, queries, k = 5, nprobe = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val hits = srcs.count { case (id, _) =>
      top.getOrElse(id + 100000L, Set.empty[Long]).contains(id) }
    Seq((srcs.length.toLong, if (hits >= 18) 1 else 0))
      .toDF("n_queries", "recall_ok")
  }

  val q92Sql: String =
    """SELECT CAST(20 AS BIGINT) AS n_queries, 1 AS recall_ok"""

  // -------------------------------------------------------------------
  // q113 — IVF-PQ WITH EXACT RE-RANKING (the FAISS refine pattern over
  //        q92's index): the compressed index nominates k×refine ADC
  //        candidates, exact cosine against the raw vector table
  //        re-ranks them. Verdict pins (a) refined recall over the
  //        perturbed-query self-retrieval harness and (b) refinement
  //        never losing a hit the unrefined probe found (the candidate
  //        superset argument made empirical).
  // -------------------------------------------------------------------
  def q113(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.Similarity
    val e = emb(s, dir).select("vec_id", "embedding")
    val srcs = e.filter(col("vec_id") % 25 === 0).limit(20)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val qrnd = new scala.util.Random(13)
    val queries = srcs.toSeq.map { case (id, v) =>
      (id + 100000L, v.map(x => x + 0.02f * qrnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_q113_refine_" +
      Integer.toHexString(dir.hashCode)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    Similarity.saveIvfPqIndex(e, root, nlist = 8, m = 16, ksub = 16,
      kmeansIters = 2, pqIters = 2, replicate = 2)
    def hitsOf(df: org.apache.spark.sql.DataFrame): Int = {
      val top = df.collect().map(r => r.getLong(0) -> r.getLong(1))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      srcs.count { case (id, _) =>
        top.getOrElse(id + 100000L, Set.empty[Long]).contains(id) }
    }
    // the two probes read the same frozen on-disk index and are
    // independent — overlap them (guide-§2.6 job overlap) instead of
    // serializing two multi-job probe chains on the driver thread
    val probes = graft.util.Par.run(Seq(
      () => hitsOf(
        Similarity.quantizedKnnStored(s, root, queries, k = 5, nprobe = 8)),
      () => hitsOf(
        Similarity.quantizedKnnRefined(s, root, queries, e, k = 5, refine = 4,
          nprobe = 8))))
    val (plain, refined) = (probes(0), probes(1))
    Seq((srcs.length.toLong, if (refined >= 18) 1 else 0,
      if (refined >= plain) 1 else 0))
      .toDF("n_queries", "recall_ok", "no_regression")
  }

  val q113Sql: String =
    """SELECT CAST(20 AS BIGINT) AS n_queries, 1 AS recall_ok,
      |       1 AS no_regression""".stripMargin

  // -------------------------------------------------------------------
  // q89 — INCREMENTAL BM25: the store is built from the first half of
  //       the corpus, the second half folds in as an append-only batch
  //       (existing postings never read or rewritten; overlapping ids
  //       fail fast), and the probe — query terms pushed into the
  //       postings scan as literals, df/idf derived from the matched
  //       rows — must rank EXACTLY like a from-scratch index over the
  //       full corpus: the oracle is the same full-corpus BM25 SQL as
  //       q85 (the q55 ≡-plain-anti-join doctrine applied to search).
  // -------------------------------------------------------------------
  def q89(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.Corpus
    val d = docs(s, dir)
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_q89_bm25_" +
      Integer.toHexString(dir.hashCode)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    Corpus.saveBm25Store(d.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", root)
    Corpus.refreshBm25Store(d.filter(col("doc_id") % 2 === 1),
      "doc_id", "text", root)
    val qs = q85Queries.toDF("query_id", "qtext")
    sorted(Corpus.bm25SearchStored(s, root, qs, "query_id", "qtext", k = 10))
  }

  // def, not val: q85Sql is defined LATER in the file — a val here would
  // capture null during object init and silently vanish from oracleSql
  def q89Sql: String = q85Sql

  // -------------------------------------------------------------------
  // q86 — heavy-hitters sketch cube: per-(source,lang) Misra-Gries term
  //       summaries (ONE token scan, bounded cells), rolled up to
  //       top-5 terms per source FROM THE STORED CELLS — the frequent-
  //       items member of the sketch-cube family (q73 = HLL distinct,
  //       q75 = histogram). k=4096 exceeds the fixture vocabulary, so
  //       the cells are exact and the rollup is the deterministic exact
  //       top-5 the DuckDB oracle computes; the max_undercount column
  //       (Σ n_items/(k+1)) is the error bound a production k carries.
  // -------------------------------------------------------------------
  private val Q86K = 4096

  def q86(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sketches
    val tok = docs(s, dir).select(col("source"), col("lang"),
      explode(TextFunctions.tokens(col("text"))).as("term"))
      .filter(col("term") =!= "")
    val cells = Sketches.termSummaryAtGrain(
      tok, Seq("source", "lang"), "term", k = Q86K)
    sorted(Sketches.rollupHeavyHitters(
      cells, Seq("source"), "term_mg", k = Q86K, topK = 5))
  }

  val q86Sql: String =
    s"""WITH tok AS (
      |  SELECT source, lang,
      |         unnest(string_split_regex(trim(text), '\\s+')) AS term
      |  FROM documents
      |), t AS (
      |  SELECT source, term, count(*) AS est_count FROM tok
      |  WHERE term <> '' GROUP BY 1, 2
      |), n AS (
      |  SELECT source, CAST(floor(count(*) / ${Q86K + 1}.0) AS BIGINT)
      |           AS max_undercount
      |  FROM tok WHERE term <> '' GROUP BY 1
      |), ranked AS (
      |  SELECT source, term, est_count,
      |         row_number() OVER (PARTITION BY source
      |                            ORDER BY est_count DESC, term ASC) AS rnk
      |  FROM t
      |)
      |SELECT r.source, r.term, r.est_count, CAST(r.rnk AS INT) AS rank,
      |       n.max_undercount
      |FROM ranked r JOIN n USING (source)
      |WHERE r.rnk <= 5
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST,
      |         5 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q85 — BM25 ranked retrieval: top-10 docs for 3 fixed queries over a
  //       prebuilt impact-ordered postings index (weights precomputed at
  //       build, query time = broadcast term join + sum + bounded
  //       top-k). Scores rounded to 4 decimals BEFORE ranking so
  //       cross-engine ln()/summation-order drift cannot flip a rank.
  // -------------------------------------------------------------------
  // each query carries plain AND "_0"-suffixed variants of its terms:
  // absent terms fall out of the inner postings join, so at sf the plain
  // forms match and at the 8x validation scale (where make_bigsf.py
  // replica-suffixes every token) the _0 forms match replica 0 — the
  // same literal query set is non-vacuous at both scales
  private val q85Queries: Seq[(Long, String)] = Seq(
    (1L, "spark table scan spark_0 table_0 scan_0"),
    (2L, "customer order value merge customer_0 order_0 value_0 merge_0"),
    (3L, "window agg stream batch sort window_0 agg_0 stream_0 batch_0 sort_0"))

  def q85(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val qs = q85Queries.toDF("query_id", "qtext")
    sorted(graft.operators.Corpus.bm25Search(
      graft.operators.Corpus.bm25Index(docs(s, dir), "doc_id", "text"),
      qs, "query_id", "qtext", k = 10))
  }

  val q85Sql: String = {
    val values = q85Queries
      .map { case (id, t) => s"($id, '$t')" }.mkString(", ")
    s"""WITH q(query_id, qtext) AS (VALUES $values),
      |tok AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term
      |  FROM documents
      |), tf AS (
      |  SELECT doc_id, term, count(*) AS tf FROM tok
      |  WHERE term <> '' GROUP BY 1, 2
      |), dl AS (
      |  SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1
      |), stats AS (
      |  SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl
      |), dfreq AS (
      |  SELECT term, count(*) AS df FROM tf GROUP BY 1
      |), qt AS (
      |  SELECT DISTINCT query_id, term FROM (
      |    SELECT query_id,
      |           unnest(string_split_regex(trim(qtext), '\\s+')) AS term
      |    FROM q) WHERE term <> ''
      |), scored AS (
      |  SELECT qt.query_id, tf.doc_id,
      |         round(sum(
      |           ln(1 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
      |           * (tf.tf * (1.2 + 1))
      |           / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl))
      |         ), 4) AS score
      |  FROM qt
      |  JOIN tf USING (term)
      |  JOIN dfreq USING (term)
      |  JOIN dl ON dl.doc_id = tf.doc_id
      |  CROSS JOIN stats
      |  GROUP BY 1, 2
      |), ranked AS (
      |  SELECT query_id, doc_id, score,
      |         row_number() OVER (PARTITION BY query_id
      |                            ORDER BY score DESC, doc_id ASC) AS rnk
      |  FROM scored
      |)
      |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
      |       CAST(rnk AS INT) AS rank, score
      |FROM ranked WHERE rnk <= 10
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST,
      |         4 NULLS FIRST""".stripMargin
  }

  // -------------------------------------------------------------------
  // q94 — FUZZY STRING JOIN: all pairs of distinct 16-char document
  //       prefixes within Levenshtein distance 3. Candidates come from
  //       rarest-first q-gram prefix filtering (equi-join on single
  //       grams, provably recall-1 — FuzzyJoin scaladoc), verified by
  //       the codegen'd early-exit levenshtein builtin. Distinct keys
  //       by contract: identical-key multiplicity is exact dedup's job
  //       and would be the only quadratic term. Oracle: DuckDB's
  //       levenshtein over the distinct-key cross join.
  // -------------------------------------------------------------------
  def q94(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.FuzzyJoin
    val keys = docs(s, dir).select(substring(col("text"), 1, 16).as("k"))
    sorted(FuzzyJoin.pairsWithinDistance(keys, "k", maxDist = 3))
  }

  val q94Sql: String =
    """WITH k AS (
      |  SELECT DISTINCT substr(text, 1, 16) AS k FROM documents
      |)
      |SELECT a.k AS a, b.k AS b,
      |       CAST(levenshtein(a.k, b.k) AS INT) AS dist
      |FROM k a JOIN k b ON a.k < b.k
      |WHERE levenshtein(a.k, b.k) <= 3
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q95 — ENTITY RESOLUTION: planted-twin record linkage over customers.
  //       Base records are custkey%4==0 (id = custkey*4); %20==0 plants
  //       a DIRTY twin (name with its 10th character dropped — edit
  //       distance 1, id = custkey*4+1, lost balance), %20==8 plants an
  //       EXACT twin (same name, id = custkey*4+2). resolve() blocks on
  //       nation, fuzzy-matches names at distance ≤ 1, transitively
  //       closes (star + representative edges — linear, never
  //       member×member), labels entities by min id; golden records are
  //       one groupBy. Oracle: same construction, exact levenshtein
  //       pairs within nation, recursive-CTE closure.
  // -------------------------------------------------------------------
  def q95(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.EntityResolution
    val c = Tpch.table(s, dir, "customer")
    val base = c.filter(col("c_custkey") % 4 === 0)
      .select((col("c_custkey") * 4).as("rid"), col("c_name").as("name"),
        col("c_nationkey").as("nk"),
        col("c_acctbal").cast("decimal(12,2)").as("bal"))
    val dirty = c.filter(col("c_custkey") % 20 === 0)
      .select((col("c_custkey") * 4 + 1).as("rid"),
        concat(substring(col("c_name"), 1, 9), substring(col("c_name"), 11, 99))
          .as("name"),
        col("c_nationkey").as("nk"), lit(null).cast("decimal(12,2)").as("bal"))
    val exact = c.filter(col("c_custkey") % 20 === 8)
      .select((col("c_custkey") * 4 + 2).as("rid"), col("c_name").as("name"),
        col("c_nationkey").as("nk"),
        col("c_acctbal").cast("decimal(12,2)").as("bal"))
    val records = base.unionByName(dirty).unionByName(exact)
    val resolved = EntityResolution.resolve(records, "rid", "name", "nk",
      maxDist = 1)
    sorted(resolved.groupBy("entity_id").agg(
      count(lit(1)).as("n_records"),
      min(col("name")).as("name_canon"),
      sum(col("bal")).cast("double").as("bal_sum")))
  }

  val q95Sql: String =
    """WITH RECURSIVE base AS (
      |  SELECT c_custkey*4 AS rid, c_name AS name, c_nationkey AS nk,
      |         CAST(c_acctbal AS DECIMAL(12,2)) AS bal
      |  FROM customer WHERE c_custkey % 4 = 0
      |  UNION ALL
      |  SELECT c_custkey*4+1, substr(c_name,1,9) || substr(c_name,11),
      |         c_nationkey, NULL
      |  FROM customer WHERE c_custkey % 20 = 0
      |  UNION ALL
      |  SELECT c_custkey*4+2, c_name, c_nationkey,
      |         CAST(c_acctbal AS DECIMAL(12,2))
      |  FROM customer WHERE c_custkey % 20 = 8
      |), pairs AS (
      |  SELECT a.rid i, b.rid j FROM base a JOIN base b
      |  ON a.nk = b.nk AND a.rid < b.rid
      |  WHERE levenshtein(a.name, b.name) <= 1
      |), edges AS (
      |  SELECT i AS a, j AS b FROM pairs UNION SELECT j, i FROM pairs
      |), reach(a, b) AS (
      |  SELECT a, b FROM edges
      |  UNION
      |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
      |), comp AS (
      |  SELECT a AS rid, least(a, min(b)) AS comp FROM reach GROUP BY a
      |), lab AS (
      |  SELECT base.rid, coalesce(comp.comp, base.rid) AS entity_id,
      |         base.name, base.bal
      |  FROM base LEFT JOIN comp ON comp.rid = base.rid
      |)
      |SELECT entity_id, count(*) AS n_records, min(name) AS name_canon,
      |       CAST(sum(bal) AS DOUBLE) AS bal_sum
      |FROM lab GROUP BY 1
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST,
      |         4 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q96 — K-MEANS VERDICT: train spherical k-means on the embeddings
  //       (deterministic id-hash seeds, 3 Lloyd rounds) and check the
  //       algorithm's defining invariants Spark-side — Lloyd's
  //       objective (inertia) is non-increasing vs the seed centroids,
  //       and every row lands in a valid cell. The oracle regenerates
  //       the DuckDB-computable columns (row count, k) and the
  //       construction-true verdicts (q93's verdict pattern — cluster
  //       GEOMETRY is pinned by ClusteringSpec's planted-blob fixture,
  //       not SQL-expressible).
  // -------------------------------------------------------------------
  def q96(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.Clustering
    val e = emb(s, dir).select("vec_id", "embedding")
    val k = 12
    val seeds = Clustering.train(e, k, iters = 0)
    val trained = Clustering.train(e, k, iters = 3)
    val i0 = Clustering.inertia(e, seeds)
    val i3 = Clustering.inertia(e, trained)
    val a = Clustering.assign(e, trained)
      .agg(count(lit(1)).as("n"),
        sum(when(col("cluster") >= 0 && col("cluster") < k, 0)
          .otherwise(1)).as("bad"))
      .head()
    Seq((a.getLong(0), k, if (i3 <= i0 + 1e-9) 1 else 0,
      if (a.getLong(1) == 0L) 1 else 0))
      .toDF("n_points", "k", "lloyd_ok", "assign_ok")
  }

  val q96Sql: String =
    """SELECT count(*) AS n_points, 12 AS k, 1 AS lloyd_ok, 1 AS assign_ok
      |FROM embeddings""".stripMargin

  // -------------------------------------------------------------------
  // q97 — DIVERSITY (cluster-balanced) SAMPLING, membership-exact: at
  //       most 20 rows per cluster chosen by ascending (md5-derived
  //       hash, id). The cluster key here is construction-derived
  //       (vec_id % 12) so the ORACLE CHECKS MEMBERSHIP itself — the
  //       same hash arithmetic and (hash-as-double, id) order in DuckDB
  //       (q35's membership-exact pattern); pairing with trained
  //       k-means clusters is ClusteringSpec's job. The selection is
  //       the bounded top-k aggregation — never a data-sized window.
  // -------------------------------------------------------------------
  def q97(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sampling
    val e = emb(s, dir).withColumn("cluster", pmod(col("vec_id"), lit(12)))
    sorted(Sampling.diversitySample(e, "vec_id", "cluster", quota = 20)
      .select("cluster", "vec_id"))
  }

  val q97Sql: String =
    """WITH a AS (
      |  SELECT vec_id, vec_id % 12 AS cluster,
      |         CAST(CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)
      |              AS BIGINT) AS DOUBLE) AS h
      |  FROM embeddings
      |), r AS (
      |  SELECT cluster, vec_id,
      |         row_number() OVER (PARTITION BY cluster
      |                            ORDER BY h ASC, vec_id ASC) AS rn
      |  FROM a
      |)
      |SELECT cluster, vec_id FROM r WHERE rn <= 20
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q98 — INCREMENTAL ENTITY RESOLUTION (the q58/q59 doctrine applied
  //       to record linkage): resolve a stored customer corpus once
  //       (q95's base construction), then label a DELTA against the
  //       frozen labels — %20==0 plants a dirty twin (adopts by fuzzy
  //       match), %20==8 an exact twin (adopts), %20==12 two "X-"-
  //       prefixed records (2 edits from every stored name — a NEW
  //       entity, the within-delta twins collapsing to the min id).
  //       Corpus keys are bucketed and scanned, never paired among
  //       themselves; the closure runs on delta-sized node sets.
  //       Oracle: both closures as recursive CTEs + per-component
  //       adoption minimum.
  // -------------------------------------------------------------------
  def q98(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.EntityResolution
    val c = Tpch.table(s, dir, "customer")
    val base = c.filter(col("c_custkey") % 4 === 0)
      .select((col("c_custkey") * 4).as("rid"), col("c_name").as("name"),
        col("c_nationkey").as("nk"))
    val stored = EntityResolution.resolve(base, "rid", "name", "nk",
      maxDist = 1)
    val delta = c.filter(col("c_custkey") % 20 === 0)
      .select((col("c_custkey") * 4 + 1).as("rid"),
        concat(substring(col("c_name"), 1, 9), substring(col("c_name"), 11, 99))
          .as("name"),
        col("c_nationkey").as("nk"))
      .unionByName(c.filter(col("c_custkey") % 20 === 8)
        .select((col("c_custkey") * 4 + 2).as("rid"), col("c_name").as("name"),
          col("c_nationkey").as("nk")))
      .unionByName(c.filter(col("c_custkey") % 20 === 12)
        .select(explode(array(col("c_custkey") * 4 + 1,
          col("c_custkey") * 4 + 2)).as("rid"),
          concat(lit("X-"), col("c_name")).as("name"),
          col("c_nationkey").as("nk")))
    sorted(EntityResolution.resolveDelta(stored, delta, "rid", "name", "nk",
      maxDist = 1).select("rid", "entity_id"))
  }

  val q98Sql: String =
    """WITH RECURSIVE base AS (
      |  SELECT c_custkey*4 AS rid, c_name AS name, c_nationkey AS nk
      |  FROM customer WHERE c_custkey % 4 = 0
      |), bpairs AS (
      |  SELECT a.rid i, b.rid j FROM base a JOIN base b
      |  ON a.nk = b.nk AND a.rid < b.rid
      |  WHERE levenshtein(a.name, b.name) <= 1
      |), bedges AS (
      |  SELECT i AS a, j AS b FROM bpairs UNION SELECT j, i FROM bpairs
      |), breach(a, b) AS (
      |  SELECT a, b FROM bedges
      |  UNION
      |  SELECT r.a, e.b FROM breach r JOIN bedges e ON r.b = e.a
      |), bcomp AS (
      |  SELECT a AS rid, least(a, min(b)) AS comp FROM breach GROUP BY a
      |), blab AS (
      |  SELECT base.rid, coalesce(bcomp.comp, base.rid) AS entity_id,
      |         base.name, base.nk
      |  FROM base LEFT JOIN bcomp ON bcomp.rid = base.rid
      |), delta AS (
      |  SELECT c_custkey*4+1 AS rid,
      |         substr(c_name,1,9) || substr(c_name,11) AS name,
      |         c_nationkey AS nk
      |  FROM customer WHERE c_custkey % 20 = 0
      |  UNION ALL
      |  SELECT c_custkey*4+2, c_name, c_nationkey
      |  FROM customer WHERE c_custkey % 20 = 8
      |  UNION ALL
      |  SELECT c_custkey*4+1, 'X-' || c_name, c_nationkey
      |  FROM customer WHERE c_custkey % 20 = 12
      |  UNION ALL
      |  SELECT c_custkey*4+2, 'X-' || c_name, c_nationkey
      |  FROM customer WHERE c_custkey % 20 = 12
      |), dpairs AS (
      |  SELECT a.rid i, b.rid j FROM delta a JOIN delta b
      |  ON a.nk = b.nk AND a.rid < b.rid
      |  WHERE levenshtein(a.name, b.name) <= 1
      |), dedges AS (
      |  SELECT i AS a, j AS b FROM dpairs UNION SELECT j, i FROM dpairs
      |), dreach(a, b) AS (
      |  SELECT a, b FROM dedges
      |  UNION
      |  SELECT r.a, e.b FROM dreach r JOIN dedges e ON r.b = e.a
      |), dcomp AS (
      |  SELECT a AS rid, least(a, min(b)) AS comp FROM dreach GROUP BY a
      |), dlab AS (
      |  SELECT delta.rid, coalesce(dcomp.comp, delta.rid) AS comp
      |  FROM delta LEFT JOIN dcomp ON dcomp.rid = delta.rid
      |), adopt AS (
      |  SELECT d.rid, min(bl.entity_id) AS ad
      |  FROM delta d JOIN blab bl
      |  ON bl.nk = d.nk AND levenshtein(bl.name, d.name) <= 1
      |  GROUP BY 1
      |), capt AS (
      |  SELECT dlab.comp, min(adopt.ad) AS ca
      |  FROM dlab LEFT JOIN adopt ON adopt.rid = dlab.rid
      |  GROUP BY 1
      |)
      |SELECT dlab.rid, coalesce(capt.ca, dlab.comp) AS entity_id
      |FROM dlab JOIN capt ON capt.comp = dlab.comp
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q99 — BPE TOKENIZER TRAINING verdict: learn 64 merges from the
  //       corpus (one distributed word-count scan + bounded-dictionary
  //       driver merges — the production trainer shape) and encode the
  //       corpus back through the broadcast segmentation join. The
  //       oracle regenerates the DuckDB-computable columns (doc/word
  //       totals) and the construction-true compression verdict
  //       (n_words ≤ bpe tokens ≤ word chars — each merge strictly
  //       shrinks, char fallback bounds above); the merge SEQUENCE
  //       itself is pinned exactly by BpeSpec's hand-computed classic
  //       fixture (q93's verdict doctrine).
  // -------------------------------------------------------------------
  def q99(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.Bpe
    val d = docs(s, dir)
    val model = Bpe.trainBpe(d, "text", numMerges = 64)
    val enc = Bpe.encodeTokenCounts(d, "doc_id", "text", model)
      .agg(sum("n_bpe_tokens"), sum("n_words")).head()
    val (bpe, words) = (enc.getLong(0), enc.getLong(1))
    val chars = d.select(explode(TextFunctions.tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .agg(sum(length(col("w")))).head().getLong(0)
    val nDocs = d.count()
    Seq((nDocs, words,
      model.merges.length,
      if (bpe >= words && bpe <= chars) 1 else 0))
      .toDF("n_docs", "n_words", "n_merges", "compress_ok")
  }

  val q99Sql: String =
    """WITH w AS (
      |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
      |  FROM documents
      |)
      |SELECT (SELECT count(*) FROM documents) AS n_docs,
      |       (SELECT count(*) FROM w WHERE w <> '') AS n_words,
      |       64 AS n_merges, 1 AS compress_ok""".stripMargin

  // -------------------------------------------------------------------
  // q100 — SEMANTIC DEDUP (SemDeDup): cluster-then-within-cluster
  //        cosine pruning over a planted corpus — %7==0 re-ingested
  //        VERBATIM under vec_id*4+1 (cos 1.0 with its source: an
  //        identical vector ranks cells identically, so the pair shares
  //        every replicated cell and recall is 1 by construction),
  //        %7==1 rotated by 13 (isometry; ≤0.57 cosine vs everything —
  //        the q59 margin pin — so it must SURVIVE). Oracle: exact
  //        pairwise cosine over the same construction, recursive-CTE
  //        closure, min-id drop — the within-cluster restriction is
  //        invisible at recall 1.
  // -------------------------------------------------------------------
  def q100(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Clustering
    val e = emb(s, dir).select("vec_id", "embedding")
    val rot = concat(slice(col("embedding"), 14, 51),
      slice(col("embedding"), 1, 13))
    val all = e.select((col("vec_id") * 4).as("vec_id"), col("embedding"))
      .unionByName(e.filter(col("vec_id") % 7 === 0)
        .select((col("vec_id") * 4 + 1).as("vec_id"), col("embedding")))
      .unionByName(e.filter(col("vec_id") % 7 === 1)
        .select((col("vec_id") * 4 + 1).as("vec_id"), rot.as("embedding")))
    val cents = Clustering.train(all, k = 16, iters = 2)
    val (surv, _) = Clustering.semanticDedup(all, cents, threshold = 0.9,
      replicate = 2)
    sorted(surv.select("vec_id"))
  }

  val q100Sql: String =
    """WITH RECURSIVE allv AS (
      |  SELECT vec_id * 4 AS vid, embedding AS v FROM embeddings
      |  UNION ALL
      |  SELECT vec_id * 4 + 1, embedding
      |  FROM embeddings WHERE vec_id % 7 = 0
      |  UNION ALL
      |  SELECT vec_id * 4 + 1, embedding[14:] || embedding[:13]
      |  FROM embeddings WHERE vec_id % 7 = 1
      |), p AS (
      |  SELECT a.vid i, b.vid j, a.v va, b.v vb
      |  FROM allv a JOIN allv b ON a.vid < b.vid
      |), ex AS (
      |  SELECT i, j, unnest(va)::DOUBLE x, unnest(vb)::DOUBLE y FROM p
      |), wp AS (
      |  SELECT i, j FROM (
      |    SELECT i, j, SUM(x*y)/sqrt(SUM(x*x))/sqrt(SUM(y*y)) cos
      |    FROM ex GROUP BY 1, 2
      |  ) WHERE cos >= 0.9
      |), edges AS (
      |  SELECT i AS a, j AS b FROM wp UNION SELECT j, i FROM wp
      |), reach(a, b) AS (
      |  SELECT a, b FROM edges
      |  UNION
      |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
      |), comp AS (
      |  SELECT a AS vid, least(a, min(b)) AS component FROM reach GROUP BY a
      |), losers AS (
      |  SELECT vid FROM comp WHERE vid <> component
      |)
      |SELECT vid AS vec_id FROM allv
      |WHERE vid NOT IN (SELECT vid FROM losers)
      |ORDER BY 1 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q101 — MULTI-PASS ENTITY RESOLUTION (OR-of-blocking-keys): q95's
  //        construction PLUS a planted twin with a WRONG nation (1-char
  //        name deletion AND nk rotated by 7) — unreachable under
  //        single-key nation blocking, reachable through a second
  //        name-suffix pass (right(name, 8) survives the deletion: the
  //        customer number's last 8 digits are untouched).
  //        resolveMulti unions the per-pass edge sets before ONE
  //        closure. Oracle: pairs on (same nk OR same suffix) AND
  //        levenshtein ≤ 1, recursive-CTE closure.
  // -------------------------------------------------------------------
  def q101(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.EntityResolution
    val c = Tpch.table(s, dir, "customer")
    val base = c.filter(col("c_custkey") % 4 === 0)
      .select((col("c_custkey") * 4).as("rid"), col("c_name").as("name"),
        col("c_nationkey").as("nk"),
        col("c_acctbal").cast("decimal(12,2)").as("bal"))
    val dirty = c.filter(col("c_custkey") % 20 === 0)
      .select((col("c_custkey") * 4 + 1).as("rid"),
        concat(substring(col("c_name"), 1, 9), substring(col("c_name"), 11, 99))
          .as("name"),
        col("c_nationkey").as("nk"), lit(null).cast("decimal(12,2)").as("bal"))
    val wrongNation = c.filter(col("c_custkey") % 20 === 4)
      .select((col("c_custkey") * 4 + 3).as("rid"),
        concat(substring(col("c_name"), 1, 9), substring(col("c_name"), 11, 99))
          .as("name"),
        ((col("c_nationkey") + 7) % 25).as("nk"),
        col("c_acctbal").cast("decimal(12,2)").as("bal"))
    val records = base.unionByName(dirty).unionByName(wrongNation)
      .withColumn("sfx", expr("right(name, 8)"))
    val resolved = EntityResolution.resolveMulti(records, "rid", "name",
      Seq(Seq("nk"), Seq("sfx")), maxDist = 1)
    sorted(resolved.groupBy("entity_id").agg(
      count(lit(1)).as("n_records"),
      min(col("name")).as("name_canon"),
      sum(col("bal")).cast("double").as("bal_sum")))
  }

  val q101Sql: String =
    """WITH RECURSIVE base AS (
      |  SELECT c_custkey*4 AS rid, c_name AS name, c_nationkey AS nk,
      |         CAST(c_acctbal AS DECIMAL(12,2)) AS bal
      |  FROM customer WHERE c_custkey % 4 = 0
      |  UNION ALL
      |  SELECT c_custkey*4+1, substr(c_name,1,9) || substr(c_name,11),
      |         c_nationkey, NULL
      |  FROM customer WHERE c_custkey % 20 = 0
      |  UNION ALL
      |  SELECT c_custkey*4+3, substr(c_name,1,9) || substr(c_name,11),
      |         (c_nationkey + 7) % 25, CAST(c_acctbal AS DECIMAL(12,2))
      |  FROM customer WHERE c_custkey % 20 = 4
      |), recs AS (
      |  SELECT rid, name, nk, bal, right(name, 8) AS sfx FROM base
      |), pairs AS (
      |  SELECT a.rid i, b.rid j FROM recs a JOIN recs b
      |  ON (a.nk = b.nk OR a.sfx = b.sfx) AND a.rid < b.rid
      |  WHERE levenshtein(a.name, b.name) <= 1
      |), edges AS (
      |  SELECT i AS a, j AS b FROM pairs UNION SELECT j, i FROM pairs
      |), reach(a, b) AS (
      |  SELECT a, b FROM edges
      |  UNION
      |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
      |), comp AS (
      |  SELECT a AS rid, least(a, min(b)) AS comp FROM reach GROUP BY a
      |), lab AS (
      |  SELECT recs.rid, coalesce(comp.comp, recs.rid) AS entity_id,
      |         recs.name, recs.bal
      |  FROM recs LEFT JOIN comp ON comp.rid = recs.rid
      |)
      |SELECT entity_id, count(*) AS n_records, min(name) AS name_canon,
      |       CAST(sum(bal) AS DOUBLE) AS bal_sum
      |FROM lab GROUP BY 1
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST,
      |         4 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q107 — MULTI-PASS INCREMENTAL ENTITY RESOLUTION (q101 × q98): the
  //        stored corpus resolves under OR-of-blocking (nation OR
  //        name-suffix), then a delta labels against the frozen labels:
  //        %20==0 plants a dirty twin (adoptable through either pass),
  //        %20==4 a dirty twin with a WRONG nation (adoptable ONLY
  //        through the suffix pass — the single-pass delta operator
  //        provably cannot reach it), %20==12 two "X-"-prefixed records
  //        (new entity, within-delta collapse to the min id). Oracle:
  //        q98's two recursive closures + per-component adoption
  //        minimum, with the OR-of-passes predicate everywhere.
  // -------------------------------------------------------------------
  def q107(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.EntityResolution
    val passes = Seq(Seq("nk"), Seq("sfx"))
    val c = Tpch.table(s, dir, "customer")
    val base = c.filter(col("c_custkey") % 4 === 0)
      .select((col("c_custkey") * 4).as("rid"), col("c_name").as("name"),
        col("c_nationkey").as("nk"))
      .withColumn("sfx", expr("right(name, 8)"))
    val stored = EntityResolution.resolveMulti(base, "rid", "name",
      passes, maxDist = 1)
    val dirtyName =
      concat(substring(col("c_name"), 1, 9), substring(col("c_name"), 11, 99))
    val delta = c.filter(col("c_custkey") % 20 === 0)
      .select((col("c_custkey") * 4 + 1).as("rid"), dirtyName.as("name"),
        col("c_nationkey").as("nk"))
      .unionByName(c.filter(col("c_custkey") % 20 === 4)
        .select((col("c_custkey") * 4 + 3).as("rid"), dirtyName.as("name"),
          ((col("c_nationkey") + 7) % 25).as("nk")))
      .unionByName(c.filter(col("c_custkey") % 20 === 12)
        .select(explode(array(col("c_custkey") * 4 + 1,
          col("c_custkey") * 4 + 2)).as("rid"),
          concat(lit("X-"), col("c_name")).as("name"),
          col("c_nationkey").as("nk")))
      .withColumn("sfx", expr("right(name, 8)"))
    sorted(EntityResolution.resolveDeltaMulti(stored, delta, "rid", "name",
      passes, maxDist = 1).select("rid", "entity_id"))
  }

  val q107Sql: String =
    """WITH RECURSIVE base AS (
      |  SELECT c_custkey*4 AS rid, c_name AS name, c_nationkey AS nk,
      |         right(c_name, 8) AS sfx
      |  FROM customer WHERE c_custkey % 4 = 0
      |), bpairs AS (
      |  SELECT a.rid i, b.rid j FROM base a JOIN base b
      |  ON (a.nk = b.nk OR a.sfx = b.sfx) AND a.rid < b.rid
      |  WHERE levenshtein(a.name, b.name) <= 1
      |), bedges AS (
      |  SELECT i AS a, j AS b FROM bpairs UNION SELECT j, i FROM bpairs
      |), breach(a, b) AS (
      |  SELECT a, b FROM bedges
      |  UNION
      |  SELECT r.a, e.b FROM breach r JOIN bedges e ON r.b = e.a
      |), bcomp AS (
      |  SELECT a AS rid, least(a, min(b)) AS comp FROM breach GROUP BY a
      |), blab AS (
      |  SELECT base.rid, coalesce(bcomp.comp, base.rid) AS entity_id,
      |         base.name, base.nk, base.sfx
      |  FROM base LEFT JOIN bcomp ON bcomp.rid = base.rid
      |), delta0 AS (
      |  SELECT c_custkey*4+1 AS rid,
      |         substr(c_name,1,9) || substr(c_name,11) AS name,
      |         c_nationkey AS nk
      |  FROM customer WHERE c_custkey % 20 = 0
      |  UNION ALL
      |  SELECT c_custkey*4+3, substr(c_name,1,9) || substr(c_name,11),
      |         (c_nationkey + 7) % 25
      |  FROM customer WHERE c_custkey % 20 = 4
      |  UNION ALL
      |  SELECT c_custkey*4+1, 'X-' || c_name, c_nationkey
      |  FROM customer WHERE c_custkey % 20 = 12
      |  UNION ALL
      |  SELECT c_custkey*4+2, 'X-' || c_name, c_nationkey
      |  FROM customer WHERE c_custkey % 20 = 12
      |), delta AS (
      |  SELECT rid, name, nk, right(name, 8) AS sfx FROM delta0
      |), dpairs AS (
      |  SELECT a.rid i, b.rid j FROM delta a JOIN delta b
      |  ON (a.nk = b.nk OR a.sfx = b.sfx) AND a.rid < b.rid
      |  WHERE levenshtein(a.name, b.name) <= 1
      |), dedges AS (
      |  SELECT i AS a, j AS b FROM dpairs UNION SELECT j, i FROM dpairs
      |), dreach(a, b) AS (
      |  SELECT a, b FROM dedges
      |  UNION
      |  SELECT r.a, e.b FROM dreach r JOIN dedges e ON r.b = e.a
      |), dcomp AS (
      |  SELECT a AS rid, least(a, min(b)) AS comp FROM dreach GROUP BY a
      |), dlab AS (
      |  SELECT delta.rid, coalesce(dcomp.comp, delta.rid) AS comp
      |  FROM delta LEFT JOIN dcomp ON dcomp.rid = delta.rid
      |), adopt AS (
      |  SELECT d.rid, min(bl.entity_id) AS ad
      |  FROM delta d JOIN blab bl
      |  ON (bl.nk = d.nk OR bl.sfx = d.sfx)
      |     AND levenshtein(bl.name, d.name) <= 1
      |  GROUP BY 1
      |), capt AS (
      |  SELECT dlab.comp, min(adopt.ad) AS ca
      |  FROM dlab LEFT JOIN adopt ON adopt.rid = dlab.rid
      |  GROUP BY 1
      |)
      |SELECT dlab.rid, coalesce(capt.ca, dlab.comp) AS entity_id
      |FROM dlab JOIN capt ON capt.comp = dlab.comp
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q112 — HYBRID RETRIEVAL (RRF): BM25 lexical top-20 and brute-force
  //        dense-cosine top-20 per query fused by Reciprocal Rank
  //        Fusion (1/(60+rank), q85's round-before-rank doctrine on the
  //        fused score), fused top-10 returned. The oracle replays BOTH
  //        retrievers and the fusion: q85's BM25 scoring, q22's
  //        unnest-cosine ranking (self NOT excluded — query ids and doc
  //        ids are independent id spaces in hybrid search, and the query
  //        ids here deliberately collide with doc ids 1..3 to pin that),
  //        the same rank-bounded union + rounded RRF sum.
  // -------------------------------------------------------------------
  def q112(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = emb(s, dir)
    val qs = q85Queries.toDF("query_id", "qtext").join(
      e.select(col("vec_id").as("query_id"), col("embedding").as("qvec")),
      "query_id")
    sorted(graft.operators.Retrieval.hybridSearch(
      docs(s, dir), e, qs, k = 10, cand = 20))
  }

  val q112Sql: String = {
    val values = q85Queries
      .map { case (id, t) => s"($id, '$t')" }.mkString(", ")
    s"""WITH q(query_id, qtext) AS (VALUES $values),
      |tok AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term
      |  FROM documents
      |), tf AS (
      |  SELECT doc_id, term, count(*) AS tf FROM tok
      |  WHERE term <> '' GROUP BY 1, 2
      |), dl AS (
      |  SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1
      |), stats AS (
      |  SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl
      |), dfreq AS (
      |  SELECT term, count(*) AS df FROM tf GROUP BY 1
      |), qt AS (
      |  SELECT DISTINCT query_id, term FROM (
      |    SELECT query_id,
      |           unnest(string_split_regex(trim(qtext), '\\s+')) AS term
      |    FROM q) WHERE term <> ''
      |), lexscored AS (
      |  SELECT qt.query_id, tf.doc_id,
      |         round(sum(
      |           ln(1 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
      |           * (tf.tf * (1.2 + 1))
      |           / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl))
      |         ), 4) AS score
      |  FROM qt
      |  JOIN tf USING (term)
      |  JOIN dfreq USING (term)
      |  JOIN dl ON dl.doc_id = tf.doc_id
      |  CROSS JOIN stats
      |  GROUP BY 1, 2
      |), lexrank AS (
      |  SELECT query_id, doc_id,
      |         row_number() OVER (PARTITION BY query_id
      |                            ORDER BY score DESC, doc_id ASC) AS rnk
      |  FROM lexscored
      |), qv AS (
      |  SELECT vec_id AS query_id, embedding AS qe
      |  FROM embeddings WHERE vec_id IN (1, 2, 3)
      |), dp AS (
      |  SELECT qv.query_id, e.vec_id AS doc_id, qv.qe, e.embedding AS ce
      |  FROM qv CROSS JOIN embeddings e
      |), dex AS (
      |  SELECT query_id, doc_id,
      |         unnest(qe)::DOUBLE x, unnest(ce)::DOUBLE y
      |  FROM dp
      |), dcos AS (
      |  SELECT query_id, doc_id,
      |         SUM(x*y) / sqrt(SUM(x*x)) / sqrt(SUM(y*y)) AS cos
      |  FROM dex GROUP BY 1, 2
      |), densrank AS (
      |  SELECT query_id, doc_id,
      |         row_number() OVER (PARTITION BY query_id
      |                            ORDER BY cos DESC, doc_id ASC) AS rnk
      |  FROM dcos
      |), fused AS (
      |  SELECT query_id, doc_id, round(sum(1.0 / (60 + rnk)), 4) AS rrf
      |  FROM (SELECT query_id, doc_id, rnk FROM lexrank WHERE rnk <= 20
      |        UNION ALL
      |        SELECT query_id, doc_id, rnk FROM densrank WHERE rnk <= 20)
      |  GROUP BY 1, 2
      |), final AS (
      |  SELECT query_id, doc_id,
      |         CAST(row_number() OVER (PARTITION BY query_id
      |                                 ORDER BY rrf DESC, doc_id ASC) AS INT)
      |           AS rank,
      |         rrf
      |  FROM fused
      |)
      |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, rank, rrf
      |FROM final WHERE rank <= 10
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST,
      |         4 NULLS FIRST""".stripMargin
  }

  // -------------------------------------------------------------------
  // q130 — HARD-NEGATIVE MINING (the DPR / contrastive-training recipe):
  //        per anchor, the top-5 corpus vectors in the cosine band
  //        [0.30, 0.47) — informative negatives strictly below the q23
  //        near-dup ceiling, so no true duplicate is ever labeled a
  //        negative. The oracle replays the q22 unnest-cosine scorer
  //        with the band filter applied BEFORE ranking.
  // -------------------------------------------------------------------
  def q130(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    sorted(Similarity.hardNegatives(e.filter(col("vec_id") < 5), e,
        k = 5, lo = 0.30, hi = 0.47)
      .withColumn("cos", round(col("cos"), 4)))
  }

  val q130Sql: String =
    """WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
      |p AS (
      |  SELECT q.vec_id query_id, e.vec_id neighbor_id, q.embedding qe, e.embedding ce
      |  FROM q JOIN embeddings e ON e.vec_id != q.vec_id
      |), ex AS (
      |  SELECT query_id, neighbor_id,
      |         unnest(qe)::DOUBLE qv, unnest(ce)::DOUBLE cv
      |  FROM p
      |), d AS (
      |  SELECT query_id, neighbor_id,
      |         SUM(qv*cv) / sqrt(SUM(qv*qv)) / sqrt(SUM(cv*cv)) AS cos
      |  FROM ex GROUP BY 1, 2
      |), banded AS (
      |  SELECT query_id, neighbor_id, cos FROM d
      |  WHERE cos >= 0.30 AND cos < 0.47
      |), rk AS (
      |  SELECT query_id, neighbor_id,
      |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS INT) AS rank,
      |         round(cos, 4) AS cos
      |  FROM banded
      |)
      |SELECT query_id, neighbor_id, rank, cos FROM rk WHERE rank <= 5
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q146 — SCALAR-QUANTIZED (SQ8) kNN: train the per-dimension int8
  //        grid on the corpus, encode, and rank by cosine of the raw
  //        query against the per-row RECONSTRUCTION. The whole path is
  //        deterministic arithmetic (no codebooks, no sampling), so —
  //        unlike PQ's verdict row — the oracle replays quantization,
  //        dequantization, and ranking IN FULL in DuckDB: per-dim
  //        min/max → code = ⌊(v−mn)·255/span + 0.5⌋ clamped → recon =
  //        mn + c·span/255 → q22's cosine/rank tail (round-4 absorbs
  //        summation order, the proven q22 convention).
  // -------------------------------------------------------------------
  def q146(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val model = Similarity.trainSq(e)
    val codes = Similarity.sqEncode(e, model)
    sorted(Similarity.sqKnn(e.filter(col("vec_id") < 5), codes, model, k = 5)
      .withColumn("cos", round(col("cos"), 4)))
  }

  val q146Sql: String =
    """WITH pos AS (
      |  SELECT e.vec_id, g.i, e.embedding[g.i]::DOUBLE AS v
      |  FROM embeddings e,
      |       LATERAL (SELECT unnest(range(1, len(e.embedding)+1)) AS i) g
      |), stats AS (
      |  SELECT i, min(v) AS mn, max(v) - min(v) AS span FROM pos GROUP BY i
      |), recon AS (
      |  SELECT p.vec_id, p.i,
      |         s.mn + (CASE WHEN s.span <= 0 THEN 0
      |                      ELSE least(255, greatest(0,
      |                        CAST(floor((p.v - s.mn) * 255.0 / s.span + 0.5)
      |                          AS INT))) END) * s.span / 255.0 AS r
      |  FROM pos p JOIN stats s USING (i)
      |), q AS (
      |  SELECT vec_id, i, v FROM pos WHERE vec_id < 5
      |), d AS (
      |  SELECT q.vec_id AS query_id, r.vec_id AS neighbor_id,
      |         SUM(q.v*r.r) / sqrt(SUM(q.v*q.v)) / sqrt(SUM(r.r*r.r)) AS cos
      |  FROM q JOIN recon r ON q.i = r.i AND r.vec_id != q.vec_id
      |  GROUP BY 1, 2
      |), rk AS (
      |  SELECT query_id, neighbor_id,
      |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS INT) AS rank,
      |         round(cos, 4) AS cos
      |  FROM d
      |)
      |SELECT query_id, neighbor_id, rank, cos FROM rk WHERE rank <= 5
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q147 — RANDOM-PROJECTION kNN verdict (q91 doctrine — the reduced
  //        space is exact arithmetic but candidate membership is an
  //        approximation, so the hash-checked columns are the
  //        deterministic shape plus a robust-margin verdict): project
  //        dim 64 → 16 with the deterministic ±1/√16 JL matrix, nominate
  //        k×refine in the reduced space, exact re-rank, and require
  //        that ≥ 90% of 20 planted perturbed queries retrieve their
  //        source vector in the top-5. `no_regression` pins the refine
  //        step never losing a hit the reduced-only ranking found.
  // -------------------------------------------------------------------
  def q147(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = emb(s, dir).select("vec_id", "embedding")
    val srcs = e.filter(col("vec_id") % 25 === 0).limit(20)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val qrnd = new scala.util.Random(17)
    val queries = srcs.toSeq.map { case (id, v) =>
      (id + 100000L, v.map(x => x + 0.02f * qrnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    def hitsOf(df: DataFrame): Int = {
      val top = df.collect().map(r => r.getLong(0) -> r.getLong(1))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      srcs.count { case (id, _) =>
        top.getOrElse(id + 100000L, Set.empty[Long]).contains(id) }
    }
    val refined = hitsOf(
      Similarity.rpKnnRefined(queries, e, k = 5, dOut = 16, refine = 4))
    val reducedOnly = hitsOf(
      Similarity.rpKnnRefined(queries, e, k = 5, dOut = 16, refine = 1))
    Seq((srcs.length.toLong, if (refined >= 18) 1 else 0,
      if (refined >= reducedOnly) 1 else 0))
      .toDF("n_queries", "recall_ok", "no_regression")
  }

  val q147Sql: String =
    """SELECT CAST(20 AS BIGINT) AS n_queries, 1 AS recall_ok,
      |       1 AS no_regression""".stripMargin

  // -------------------------------------------------------------------
  // q149 — IVF-SQ8 SERVING verdict (q92/q113 doctrine): the residual
  //        int8 index persisted (cells × sq codes on disk, no raw
  //        vectors), probed through the static-pruned scan, with exact
  //        re-ranking — save → reload → probe → refine all under the
  //        planted-perturbation recall verdict. nprobe=8 of nlist=8
  //        keeps the planted cell surely probed at fixture scale.
  // -------------------------------------------------------------------
  def q149(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = emb(s, dir).select("vec_id", "embedding")
    val srcs = e.filter(col("vec_id") % 25 === 0).limit(20)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val qrnd = new scala.util.Random(19)
    val queries = srcs.toSeq.map { case (id, v) =>
      (id + 100000L, v.map(x => x + 0.02f * qrnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_q149_ivfsq_" +
      Integer.toHexString(dir.hashCode)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    graft.operators.Similarity.saveIvfSqIndex(e, root, nlist = 8,
      kmeansIters = 2, replicate = 2)
    def hitsOf(df: DataFrame): Int = {
      val top = df.collect().map(r => r.getLong(0) -> r.getLong(1))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      srcs.count { case (id, _) =>
        top.getOrElse(id + 100000L, Set.empty[Long]).contains(id) }
    }
    val plain = hitsOf(graft.operators.Similarity.quantizedKnnStored(
      s, root, queries, k = 5, nprobe = 8))
    val refined = hitsOf(graft.operators.Similarity.quantizedKnnRefined(
      s, root, queries, e, k = 5, refine = 4, nprobe = 8))
    Seq((srcs.length.toLong, if (refined >= 18) 1 else 0,
      if (refined >= plain) 1 else 0))
      .toDF("n_queries", "recall_ok", "no_regression")
  }

  val q149Sql: String =
    """SELECT CAST(20 AS BIGINT) AS n_queries, 1 AS recall_ok,
      |       1 AS no_regression""".stripMargin

  // -------------------------------------------------------------------
  // q154 — STORED-INDEX HEALTH REPORT: build an IVF index over the
  //        embeddings (replicate = 1, so stored rows = corpus rows
  //        exactly), append the full corpus once (rows double, appended
  //        fraction = 1/2 exactly), and report indexHealth. Every
  //        emitted column is arithmetic over the corpus count + the
  //        build parameters, so the oracle replays the report as a REAL
  //        hash row (rows_total/base/appended, appended_frac, dim,
  //        layout, nlist, the empty+occupied partition of nlist, and
  //        the fired rebuild recommendation) — drift in the footer
  //        census, the build-stamp attribution, or the advice threshold
  //        fails the hash. Cell-level spread stays spec-pinned
  //        (Round15Spec planted skew) — k-means placement is not
  //        SQL-replayable.
  // -------------------------------------------------------------------
  def q154(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    val e = emb(s, dir).select("vec_id", "embedding")
    // per-session discriminator (applicationId) in the scratch path:
    // keyed by dir.hashCode alone, two concurrent sessions (or a
    // hash-colliding second dataset dir) would race on the delete +
    // rebuild of the same path while the other reads it
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_q154_health_" +
      s"${s.sparkContext.applicationId}_${Integer.toHexString(dir.hashCode)}"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    Similarity.saveIvfIndex(e, root, nlist = 8, kmeansIters = 2,
      replicate = 1)
    val assign = s.read.parquet(s"$root/corpus")
      .select(col("neighbor_id"), col("cv"), col("cell"))
    Similarity.appendToIvfIndex(assign, root)
    Similarity.indexHealth(s, root)
      .select(col("layout"), col("nlist"), col("dim"),
        (col("cells_occupied") + col("cells_empty")).as("cells_all"),
        col("rows_total"), col("rows_base"), col("rows_appended"),
        col("appended_frac"), col("recommend_rebuild"))
  }

  val q154Sql: String =
    """SELECT 'ivf-flat' AS layout, 8 AS nlist,
      |       CAST((SELECT len(embedding) FROM embeddings LIMIT 1)
      |            AS INTEGER) AS dim,
      |       8 AS cells_all,
      |       CAST(2 * count(*) AS BIGINT) AS rows_total,
      |       CAST(count(*) AS BIGINT) AS rows_base,
      |       CAST(count(*) AS BIGINT) AS rows_appended,
      |       CAST(0.5 AS DOUBLE) AS appended_frac,
      |       true AS recommend_rebuild
      |FROM embeddings""".stripMargin

  // -------------------------------------------------------------------
  // q153 — UNIGRAM-LM TOKENIZER TRAINING verdict (Kudo 2018, the
  //        SentencePiece algorithm — the second standard subword
  //        trainer next to q99's BPE): one word-count scan seeds the
  //        substring vocabulary, Viterbi-EM over the bounded dictionary
  //        (distributed E-step, one integral-count aggregation per
  //        round) prunes to 256 pieces, the corpus encodes back through
  //        the broadcast segmentation join. Oracle regenerates the
  //        DuckDB-computable totals and the construction-true verdicts
  //        (vocab within bound with real multi-char pieces learned;
  //        n_words ≤ unigram tokens ≤ word chars — a piece covers ≥ 1
  //        char, the unk fallback is the char split). The exact
  //        EM/Viterbi behavior is pinned by Round15Spec's hand-computed
  //        fixture (q99/q93 verdict doctrine).
  // -------------------------------------------------------------------
  def q153(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.Bpe
    val d = docs(s, dir)
    val model = Bpe.trainUnigram(d, "text", vocabSize = 256,
      maxPieceLen = 6, seedSize = 4096, emRounds = 3)
    val enc = Bpe.unigramTokenCounts(d, "doc_id", "text", model,
        exactOov = true)
      .agg(sum("n_uni_tokens"), sum("n_words")).head()
    val (uni, words) = (enc.getLong(0), enc.getLong(1))
    val chars = d.select(explode(TextFunctions.tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .agg(sum(length(col("w")))).head().getLong(0)
    val nDocs = d.count()
    // vocab bound = max(vocabSize, required chars): trainUnigram keeps
    // every dictionary character unconditionally (SentencePiece
    // required_chars coverage), so a high-codepoint-diversity corpus
    // legitimately exceeds vocabSize by exactly its char overflow
    val nChars = model.pieces.keysIterator.count(_.length == 1)
    Seq((nDocs, words,
      if (model.pieces.size <= math.max(256, nChars) &&
        model.pieces.keysIterator.exists(_.length > 1)) 1 else 0,
      if (uni >= words && uni <= chars) 1 else 0))
      .toDF("n_docs", "n_words", "vocab_ok", "compress_ok")
  }

  // -------------------------------------------------------------------
  // q156 — INDEX MAINTENANCE entry point (indexHealth → conditional
  //        rebuildIvfIndex): plant exactly the drift q154 measures
  //        (append the full corpus in place — appended fraction 1/2),
  //        run maintainIndex, and verify it (a) returned the pre-rebuild
  //        health row with the fired flag, (b) rebuilt at the NEW path
  //        exactly once, and (c) the fresh layout collapsed the
  //        duplicated vectors (distinct on id+vector) back to the corpus
  //        count with zero appended rows. Every column is arithmetic
  //        over the corpus count + build parameters → REAL hash row
  //        (the q154 doctrine). The healthy-store no-op (zero jobs
  //        beyond the footer census, no write) is law-pinned in
  //        AnnIndexSpec — a no-op leaves nothing SQL-visible to hash.
  // -------------------------------------------------------------------
  def q156(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    val e = emb(s, dir).select("vec_id", "embedding")
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_q156_" +
      s"maint_${s.sparkContext.applicationId}_" +
      Integer.toHexString(dir.hashCode)
    val rebuiltPath = s"${base}_rebuilt"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(s.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    fs.delete(new org.apache.hadoop.fs.Path(rebuiltPath), true)
    Similarity.saveIvfIndex(e, base, nlist = 8, kmeansIters = 2,
      replicate = 1)
    val assign = s.read.parquet(s"$base/corpus")
      .select(col("neighbor_id"), col("cv"), col("cell"))
    Similarity.appendToIvfIndex(assign, base)
    val rep = Similarity.maintainIndex(s, base, rebuiltPath, nlist = 8,
      kmeansIters = 2, replicate = 1)
    val fresh = Similarity.indexHealth(s, rebuiltPath)
      .select(col("rows_total").as("new_rows_total"),
        col("appended_frac").as("new_appended_frac"))
    rep.select(col("layout"), col("rows_total"), col("appended_frac"),
        col("rebuilt"),
        when(col("new_path") === rebuiltPath, 1).otherwise(0)
          .as("new_path_set"))
      .crossJoin(fresh)
  }

  val q156Sql: String =
    """SELECT 'ivf-flat' AS layout,
      |       CAST(2 * count(*) AS BIGINT) AS rows_total,
      |       CAST(0.5 AS DOUBLE) AS appended_frac,
      |       true AS rebuilt, 1 AS new_path_set,
      |       CAST(count(*) AS BIGINT) AS new_rows_total,
      |       CAST(0.0 AS DOUBLE) AS new_appended_frac
      |FROM embeddings""".stripMargin

  val q153Sql: String =
    """WITH w AS (
      |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
      |  FROM documents
      |)
      |SELECT (SELECT count(*) FROM documents) AS n_docs,
      |       (SELECT count(*) FROM w WHERE w <> '') AS n_words,
      |       1 AS vocab_ok, 1 AS compress_ok""".stripMargin
}
