package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Hybrid retrieval: fuse the rankings of several retrievers (lexical
  * BM25, dense kNN, …) into one result list per query with Reciprocal
  * Rank Fusion (Cormack, Clarke & Buettcher, SIGIR'09):
  *
  *   rrf(q, d) = Σ over retrievers r that returned d for q of
  *               1 / (kRrf + rank_r(q, d))
  *
  * RRF is the production-standard hybrid because it needs NO score
  * calibration across retrievers — only ranks — and a document missing
  * from one list simply contributes nothing for it. The reference has no
  * retrieval at all; both retrievers and the fusion here are
  * Spark-native.
  *
  * Scale shape: each input ranking is already bounded per query by its
  * retriever's own top-k (the BM25 probe and every kNN path rank through
  * [[graft.model.Aggregators.topKByScore]]), so fusion sees at most
  * queries × Σ per-retriever k rows — one union, one (query_id, doc_id)
  * aggregation, then the same bounded top-k for the final ranking:
  * the integral-id heap, or for string ids the built-in window limit,
  * which keeps at most k rows per (partition, query) before the shuffle.
  *
  * Determinism: the fused score is rounded to 4 decimals BEFORE ranking
  * (the q85 doctrine — cross-engine float drift cannot flip a rank) and
  * ties break by doc id ascending. With two retrievers the pre-round sum
  * is bit-exact across engines outright (IEEE addition of two terms is
  * commutative); with more, the round absorbs association-order drift.
  */
object Retrieval {

  /** Fuse per-query rankings into the top `k` docs per query by RRF.
    *
    * Each input frame must carry `(query_id, doc_id, rank)` with `rank`
    * 1-based within its (retriever, query) — exactly the shape
    * [[Corpus.bm25Search]] emits and [[Similarity]]'s kNN paths emit
    * after renaming `neighbor_id`. Output: `(query_id, doc_id, rank,
    * rrf)` with `rank` the fused 1-based position. */
  def rrfFuse(rankings: Seq[DataFrame], k: Int, kRrf: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    require(k >= 1, s"k must be >= 1, got $k")
    require(kRrf >= 1, s"kRrf must be >= 1, got $kRrf")
    val cols = Seq("query_id", "doc_id", "rank")
    rankings.foreach { r =>
      require(cols.forall(r.columns.contains),
        s"each ranking needs columns $cols, got ${r.columns.toSeq}")
    }
    val scored = rankings
      .map(_.select(cols.map(col): _*))
      .reduce(_ unionByName _)
      .groupBy("query_id", "doc_id")
      .agg(round(sum(lit(1.0) / (lit(kRrf) + col("rank"))), 4).as("rrf"))
    graft.model.Aggregators.topKByScore(scored, Seq("query_id"), "rrf",
      "doc_id", k)
  }

  /** Convenience hybrid search: BM25 over `docs(idCol, textCol)` fused
    * with brute-force dense kNN over `embeddings(vecIdCol, vecCol)` —
    * the two corpora keyed by the same document id. `queries` carries
    * one row per query: `(qIdCol, qTextCol, qVecCol)`. Each retriever
    * contributes its top `cand`; the fused top `k` is returned.
    *
    * The dense side is the exact brute-force scorer — correct at any
    * recall target and fine when `queries` is small; swap in
    * [[Similarity.ivfKnnStored]] output via [[rrfFuse]] directly when
    * the query stream is large or the corpus is indexed — and pass
    * `excludeSelf = false` there too. Query ids and doc ids are
    * INDEPENDENT id spaces here, so the dense scorer keeps
    * query_id == doc_id pairs (no kNN self-exclusion): a query that
    * happens to share a number with a corpus doc must still retrieve
    * it. */
  def hybridSearch(docs: DataFrame, embeddings: DataFrame,
                   queries: DataFrame, k: Int, cand: Int = 20,
                   kRrf: Int = 60,
                   idCol: String = "doc_id", textCol: String = "text",
                   vecIdCol: String = "vec_id", vecCol: String = "embedding",
                   qIdCol: String = "query_id", qTextCol: String = "qtext",
                   qVecCol: String = "qvec"): DataFrame = {
    val lex = Corpus.bm25Search(Corpus.bm25Index(docs, idCol, textCol),
        queries, qIdCol, qTextCol, k = cand)
      .select(col("query_id"), col("doc_id"), col("rank"))
    val dense = Similarity.bruteKnn(
        queries.select(col(qIdCol), col(qVecCol)), embeddings, k = cand,
        qId = qIdCol, qVec = qVecCol, cId = vecIdCol, cVec = vecCol,
        excludeSelf = false)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
    rrfFuse(Seq(lex, dense), k, kRrf)
  }
}
