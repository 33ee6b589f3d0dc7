package graft.queries

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

import graft.builders.Tpch
import graft.functions.TextFunctions
import graft.model.{DataCube, Hierarchy, Measure}
import graft.operators.{Dedup, Events, Sampling, Similarity}
import graft.util.SessionMemo

/** Shared fixtures, build-once memos, and oracle-SQL building blocks of the
  * [[ExtensionQueries]] families. The query surface is unchanged by the
  * per-family file split — everything still resolves through the single
  * `ExtensionQueries` object; this trait only holds what more than one
  * family needs (`private[queries]`; the memos are `private[graft]` so
  * the bench can list them in `SparkEntry.builds`, and so is `sorted`,
  * which [[ParityQueries]] and PlanSpec share).
  */
private[queries] trait ExtensionQueryHelpers {


  /** A catalogue answer in its canonical order: every column ascending,
    * NULLs first. It is sorted inside ONE partition rather than by a
    * global `orderBy`: the range partitioner of a global sort first runs
    * a sampling job over the exchange's child and then runs that child
    * again for the shuffle, and catalogue answers are collected (or
    * written as one file) anyway. So the upstream plan runs once, in
    * parallel, and only the final sort is serial. The largest answer at
    * sf0.1 is q28's 553,860 rows (the DuckDB oracles' row counts); the
    * next is q51's 100,000, and 147 of the 158 have at most 9,375. Under
    * `count()` the optimizer drops the sort, and every answer row, not a
    * partial count, crosses the one-partition exchange. */
  private[graft] def sorted(df: DataFrame): DataFrame =
    df.repartition(1)
      .sortWithinPartitions(df.columns.map(c => col(c).asc_nulls_first).toSeq: _*)

  private[queries] def docs(s: SparkSession, dir: String): DataFrame =
    Tpch.table(s, dir, "documents")

  /** Shared 3-gram shingle index over documents — memoized and persisted
    * per (session, dir) so the dedup family (q19 Jaccard, q20 MinHash-LSH)
    * builds the inverted index once, mirroring the cube's
    * build-once-query-many model. The bench accounts the fill on its own
    * `build_shingles` line.
    *
    * The index is CAPPED (maxDf = [[Dedup.DefaultMaxDf]]) *before* the
    * persist: the cap is part of the dedup-family semantics (the oracle
    * applies the identical cap), and capping downstream of the cache would
    * re-run the df aggregation + semi-join in every branch of every
    * consuming plan — the round-2 bench paid 72 s for q19 alone that way.
    * Consumers pass this index with `maxDf = None`. */
  private[graft] val shingleMemo = new SessionMemo[DataFrame]("shingles",
    build = (s, dir) => Dedup.buildShingleIndex(docs(s, dir), "doc_id", "text", 3,
      maxDf = Some(Dedup.DefaultMaxDf)).persist(MEMORY_AND_DISK),
    fill = _.count(): Unit,
    release = _.unpersist(): Unit)
  private[queries] def shingles3(s: SparkSession, dir: String): DataFrame =
    shingleMemo.get(s, dir)

  /** Shared full-corpus MinHash-LSH near-dup pair set + its transitive
    * closure, persisted per (session, dir) — the shingles3 doctrine one
    * level up: SEVEN queries (q20/q34/q45/q90/q103/q122/q125) consume
    * the IDENTICAL `minhashLsh(docs, n=3, k=32, bands=8, threshold=0.8)`
    * pair set over the shared capped index, and five of them also close
    * it; without the cache each re-ran signature aggregation + banded
    * candidate join + exact verification (+ one closure) per query. The
    * components frame is the closure's output relation (local
    * union-find at fixture scale — a LocalRelation, free to reuse;
    * checkpointed labels on the distributed path), so release unpersists
    * only the pair set: ContextCleaner reclaims the closure's blocks once
    * the reference drops. The bench accounts the fill on its own
    * `build_neardup_pairs` line. */
  private[graft] val neardupMemo = new SessionMemo[(DataFrame, DataFrame)](
    "neardup_pairs",
    build = { (s, dir) =>
      val p = Dedup.minhashLsh(docs(s, dir), "doc_id", "text",
        n = 3, k = 32, bands = 8, threshold = 0.8,
        maxDf = None, shinglesDf = Some(shingles3(s, dir)))
        .persist(MEMORY_AND_DISK)
      // the closure evaluates `p`, filling its persist
      (p, Dedup.connectedComponents(p))
    },
    fill = _._1.count(): Unit,
    release = _._1.unpersist(): Unit)
  private[queries] def neardupPairs3(s: SparkSession, dir: String)
  : (DataFrame, DataFrame) = neardupMemo.get(s, dir)

  private[queries] def emb(s: SparkSession, dir: String): DataFrame =
    Tpch.table(s, dir, "embeddings")
  /** Fixture-generation-robust events reader — see Sources.readEvents
    * (handles both TIMESTAMP(NANOS)-as-long and TIMESTAMP(MICROS)/NTZ). */
  private[queries] def events(s: SparkSession, dir: String): DataFrame =
    graft.sources.Sources.readEvents(s, dir)

  /** Shared DuckDB shingle CTE (3-gram, distinct per doc) — the oracle
    * counterpart of Dedup.docShingles, including the short-doc fallback
    * (documents with < n tokens contribute their full token string as the
    * single shingle, so no document vanishes from dedup). `capDf` mirrors
    * the operator's maxDf stop-shingle cap: shingles in more than capDf
    * docs are dropped from the index AND the per-doc sizes, exactly like
    * Dedup.jaccardPairs. */
  private[queries] def shingleCteWith(capDf: Option[Int]): String = {
    val shFinal = capDf match {
      case None => ""
      case Some(cap) =>
        s"""|, sh AS (
            |  SELECT * FROM sh0
            |  WHERE s IN (SELECT s FROM sh0 GROUP BY s HAVING count(*) <= $cap)
            |)""".stripMargin
    }
    val shName = if (capDf.isEmpty) "sh" else "sh0"
    s"""WITH toks AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\\s+') t FROM documents
      |), $shName AS (
      |  SELECT DISTINCT doc_id, t[g.i] || ' ' || t[g.i+1] || ' ' || t[g.i+2] AS s
      |  FROM toks, LATERAL (SELECT unnest(range(1, len(t)-1)) AS i) g
      |  WHERE len(t) >= 3
      |  UNION
      |  SELECT doc_id, array_to_string(t, ' ') AS s FROM toks WHERE len(t) < 3
      |)$shFinal, sizes AS (
      |  SELECT doc_id, count(*) n FROM sh GROUP BY 1
      |), pairs AS (
      |  SELECT a.doc_id i, b.doc_id j, count(*) inter
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |)""".stripMargin
  }
  private[queries] val shingleCte: String = shingleCteWith(None)

  private[queries] val jaccardSelect: String =
    """SELECT i, j, round(inter * 1.0 / (sa.n + sb.n - inter), 6) AS jaccard
      |FROM pairs JOIN sizes sa ON sa.doc_id = i JOIN sizes sb ON sb.doc_id = j
      |WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.8
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST""".stripMargin
}
