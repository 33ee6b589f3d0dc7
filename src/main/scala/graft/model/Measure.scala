package graft.model

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** A measure: a fact column plus the aggregate function applied to it both at
  * ingest (pre-aggregation to the fact grain) and at every re-aggregation
  * (collapse / attribute group-by / rollup).
  *
  * Mirrors the reference's `measure` R6 class — `var` + captured
  * `fun.aggregate` + extra args + optional `fun.format` + label
  * (reference: R/measure.R:6-21). The reference applies the *same* captured
  * aggregate expression at ingest (R/fact.R:40-44) and at re-aggregation
  * (R/fact.R:92-98), always from the stored fact grain — never stacking
  * partial aggregates — and we keep that contract (SURVEY §7.4.6).
  *
  * @param vr     source column name in the fact table
  * @param name   output column name (the reference's measure name / label)
  * @param agg    aggregate builder: fact column -> aggregated Column
  * @param format optional human formatting (the reference's `fun.format`,
  *               R/measure.R:11,51-55), applied only by `format` export
  */
final case class Measure(
    vr: String,
    name: String,
    agg: Column => Column,
    format: Option[Column => Column] = None
) {
  /** The aggregate expression, aliased to the measure's output name. */
  def expr: Column = agg(col(vr)).as(name)

  /** Rebind the aggregate function, keeping var/name — the reference's
    * `apply.data.cube` / `capply` semantics where a supplied FUN replaces
    * every measure's aggregate (R/data.cube.R:478-492, R/cube.R:340-345). */
  def rebind(f: Column => Column): Measure = copy(agg = f)
}

object Measure {
  /** Null-skipping sum — R `sum(x, na.rm=TRUE)` (Spark's default). */
  def sum(vr: String, name: String = null): Measure =
    Measure(vr, Option(name).getOrElse(vr), functions.sum)

  def avg(vr: String, name: String = null): Measure =
    Measure(vr, Option(name).getOrElse(vr), functions.avg)

  def min(vr: String, name: String = null): Measure =
    Measure(vr, Option(name).getOrElse(vr), functions.min)

  def max(vr: String, name: String = null): Measure =
    Measure(vr, Option(name).getOrElse(vr), functions.max)

  /** Count of non-null values of `vr` (SQL COUNT(col)). */
  def count(vr: String, name: String = null): Measure =
    Measure(vr, Option(name).getOrElse(vr), functions.count)

  /** SEMI-ADDITIVE building block: the value of `vr` on the row where
    * `order` is greatest within each group — `max_by` with a
    * deterministic composite order (pass `struct(ts, id)` to break
    * timestamp ties). This is the "last balance in the period" aggregate
    * of semi-additive warehouse measures (balances, inventory levels):
    * aggregate a balance fact to (entity, period) grain with `lastBy`,
    * then re-aggregate entity-out with [[sum]] — additive across every
    * dimension EXCEPT time, last-along-time. One grouped aggregation per
    * stage, no window.
    *
    * INGEST-STAGE ONLY: the captured `order` references raw-input columns
    * that no longer exist at the stored grain, so default re-aggregation
    * paths (`aggregate` with no measures override, `applyMargin`,
    * collapse) would fail to resolve it — always re-aggregate a
    * lastBy-built cube with explicit replacement measures (the q67
    * pattern: `aggregate(by, measures = Seq(Measure.sum(...)))`), which
    * is also the only semantically meaningful rollup of a picked value. */
  def lastBy(vr: String, name: String, order: Column): Measure =
    Measure(vr, name, c => max_by(c, order))

  /** First-along-time twin of [[lastBy]] (`min_by`): opening balance. */
  def firstBy(vr: String, name: String, order: Column): Measure =
    Measure(vr, name, c => min_by(c, order))

  /** R semantics with na.rm=FALSE: one NA poisons the aggregate. Spark
    * aggregates skip nulls, so wrap any of them: if an input row had a
    * null, return null (SURVEY §7.3's expression wrapper — no custom
    * Expression). `Measure(vr, name, naPoison(sum))` is R's `sum(x)`. */
  def naPoison(f: Column => Column): Column => Column =
    c => when(functions.count(when(c.isNull, lit(1))) > 0, lit(null)).otherwise(f(c))

  /** functions object alias so `Measure.sum` above can reference the real
    * Spark aggregates unambiguously. */
  private object functions {
    def sum(c: Column): Column = org.apache.spark.sql.functions.sum(c)
    def avg(c: Column): Column = org.apache.spark.sql.functions.avg(c)
    def min(c: Column): Column = org.apache.spark.sql.functions.min(c)
    def max(c: Column): Column = org.apache.spark.sql.functions.max(c)
    def count(c: Column): Column = org.apache.spark.sql.functions.count(c)
  }

  /** Currency formatting ≈ the reference's `currency.format`
    * (R/measure.R:51-55): thousands separators + 2 decimals + suffix. */
  def currencyFormat(suffix: String): Column => Column =
    c => concat(format_number(c, 2), lit(" " + suffix))
}
