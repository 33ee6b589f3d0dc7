package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.builders.Tpch
import graft.queries.{ExtensionQueries, ParityQueries}
import graft.query.dsl._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001 (SURVEY §7.2's minimum
    * end-to-end slice): build the star cube, collapse part, dice customers
    * to one market segment, collapse the time dimension pre-filtered to two
    * years, denormalize. Driver smoke-checks rows > 0. */
  def entry(spark: SparkSession): DataFrame = {
    val cube = Tpch.cube(spark, "/root/testdata/sf0.001")
    cube.q(
      dim("part").collapse(),
      dim("order").where("c_mktsegment" -> Seq("BUILDING")),
      dim("date").where("d_year" -> Seq(1995, 1996)).collapse()
    ).toDF
  }

  /** The catalogue's build-once memos in dependency order: the near-dup
    * pairs read the shingle index, so warm runs forward and invalidate
    * runs in reverse. */
  val builds: Seq[graft.util.SessionMemo[_]] = Seq(Tpch.memo,
    ExtensionQueries.shingleMemo, ExtensionQueries.neardupMemo,
    ExtensionQueries.v4Memo)

  private def allQueries = ParityQueries.all ++ ExtensionQueries.all

  /** One entry per implemented operator from SURVEY.md §2 + the north-star
    * extension operators (text analysis, dedup, similarity, events). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allQueries.map { case (name, fn, _) => name -> fn }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    allQueries.collect {
      case (name, _, sql) if sql != null => name -> sql
    }.toMap
}
