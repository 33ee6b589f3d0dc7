package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The fact table: measures at the grain of the dimension foreign keys.
  *
  * Reference: `fact` R6 class (R/fact.R:6-13). Invariant: the fact is always
  * pre-aggregated to its key grain at construction (R/fact.R:40-44) — `data`
  * never holds duplicate key combinations, so every later re-aggregation
  * happens from the stored grain (SURVEY §7.4.6).
  *
  * @param data     the fact DataFrame: idVars ++ measure output columns
  * @param idVars   dimension foreign-key column names
  * @param measures measure definitions (also used for every re-aggregation)
  */
final case class Fact(data: DataFrame, idVars: Seq[String], measures: Seq[Measure]) {

  def measureNames: Seq[String] = measures.map(_.name)

  /** Filter + collapse + re-aggregate in one pass — the reference's
    * `fact$subset` (R/fact.R:67-102): per-dimension key-set semi-joins
    * (broadcast only when the key set's size estimate is safely small —
    * an order-grain dimension scales WITH the fact, and a forced broadcast
    * of billions of keys would OOM every executor; `Joins.maybeBroadcast`
    * leaves oversized sets to a planned shuffle join; a semi-join ignores
    * duplicate keys on its build side, so the key sets are used as they
    * come, with no dedup shuffle), then,
    * only when keys are actually dropped, one grouped re-aggregation over the
    * surviving keys. When no key is dropped the grain is unchanged and the
    * fact is already unique by its full key, so the groupBy would be a
    * row-identity shuffle — we skip it (scale: saves a full shuffle per
    * filter-only query; semantically identical because of the grain
    * invariant).
    *
    * @param keySets  dimension-key filter sets: fkCol -> single-column
    *                 DataFrame of surviving key values
    * @param dropKeys fk columns to aggregate away (collapsed or dropped dims)
    */
  def subset(keySets: Map[String, DataFrame], dropKeys: Set[String]): Fact = {
    val joined = keySets.foldLeft(data) { case (df, (fk, keys)) =>
      df.join(Joins.maybeBroadcast(keys.toDF(fk)), Seq(fk), "left_semi")
    }
    // semi-joins move the join key to the front — restore the canonical
    // idVars ++ measures order so results don't depend on filter order
    val filtered = joined.select((idVars ++ measureNames).map(col): _*)
    if (dropKeys.isEmpty) copy(data = filtered)
    else {
      val keep = idVars.filterNot(dropKeys)
      copy(data = Fact.aggregate(filtered, keep, measures), idVars = keep)
    }
  }
}

object Fact {

  /** `x[, j, keyby=id.vars]` — one grouped aggregation applying every
    * measure (R/fact.R:40-44, 52-60). Empty `by` = grand total (one row). */
  def aggregate(df: DataFrame, by: Seq[String], measures: Seq[Measure]): DataFrame = {
    require(measures.nonEmpty, "fact needs at least one measure")
    val exprs = measures.map(_.expr)
    if (by.isEmpty) df.agg(exprs.head, exprs.tail: _*)
    else df.groupBy(by.map(col): _*).agg(exprs.head, exprs.tail: _*)
  }

  /** Build a fact from raw rows: aggregate to the key grain
    * (the reference's `as.fact`, R/as.fact.R:17-56 + R/fact.R:14-46). */
  def build(raw: DataFrame, idVars: Seq[String], measures: Seq[Measure]): Fact = {
    val missing = (idVars ++ measures.map(_.vr)).toSet -- raw.columns.toSet
    require(missing.isEmpty, s"fact input missing columns: ${missing.mkString(", ")}")
    // After ingest aggregation the stored column is the measure *name*;
    // rebind vr -> name so every later re-aggregation reads the stored
    // grain column (the reference captures one expression used at both
    // stages because its var and name coincide, R/fact.R:52-60).
    val stored = measures.map(m => m.copy(vr = m.name))
    Fact(aggregate(raw, idVars, measures), idVars, stored)
  }

  /** A measure-only null fact (reference `null.fact`, R/as.fact.R:38-45). */
  def empty(spark: SparkSession): Fact = {
    val m = Measure.count("n", "n")
    Fact(spark.emptyDataFrame.withColumn("n", lit(0L)), Seq.empty, Seq(m))
  }
}
