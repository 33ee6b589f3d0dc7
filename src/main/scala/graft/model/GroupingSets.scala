package graft.model

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Native grouping-sets engine: what the reference hand-rolled as a
  * union-all of one aggregation per key prefix (`rollup.data.table`,
  * R/rollup.R:11-47) and wished were one pass (README.md:22, data.table#1377)
  * becomes Spark's single Expand-based scan — one shuffle, L× fewer scans.
  *
  * The `level` contract is the reference's (R/rollup.R:15-21): 0 = leaf
  * grain, n = grand total; for ROLLUP the level equals the number of
  * nulled-out grouping columns, derived from `grouping()` flags — strictly
  * better than the reference's NA markers because `grouping()` still
  * distinguishes "NULL data" from "all" (SURVEY §1.2).
  */
object GroupingSets {

  /** Join the owning dimensions' attribute projections into the fact so the
    * grouping attributes exist at fact grain (denormalize-for-aggregation,
    * R/rollup.R:66 denormalizes the whole cube; we project to just the
    * needed columns — Catalyst would prune anyway, this keeps the joins
    * minimal and broadcastable). `denormalized` is unique by key, so the
    * projection is a plain lookup table. Fk columns pass through
    * unchanged. */
  def denormFor(cube: DataCube, attrs: Seq[String]): DataFrame = {
    val fkCols = cube.fact.idVars.toSet
    val needed = attrs.filterNot(fkCols)
    val byDim = needed.groupBy(a => cube.attrOwner(a).name)
    byDim.foldLeft(cube.fact.data) { case (df, (dimName, as)) =>
      val d = cube.dimension(dimName)
      val proj = d.denormalized
        .select((d.key +: as.filterNot(_ == d.key)).distinct.map(col): _*)
      df.join(Joins.maybeBroadcast(proj), Seq(d.key), "left")
    }
  }

  /** `level` = number of nulled grouping columns (ROLLUP: 0..n by prefix;
    * CUBE: popcount of the grouping_id). */
  private[model] def levelCol(margin: Seq[String]): Column =
    margin.map(c => grouping(col(c)).cast("int")).reduce(_ + _).as("level")

  /** ROLLUP / CUBE over hierarchy attributes, flat result:
    * margin ++ measures ++ level. One Expand pass. */
  def overAttributes(cube: DataCube, margin: Seq[String], index: Seq[Int],
                     measures: Seq[Measure], isCube: Boolean): DataFrame = {
    require(margin.nonEmpty, "rollup/cube needs at least one margin column")
    val df = denormFor(cube, margin)
    val grouped =
      if (isCube) df.cube(margin.map(col): _*)
      else df.rollup(margin.map(col): _*)
    val aggs = measures.map(_.expr) :+ levelCol(margin)
    val res = grouped.agg(aggs.head, aggs.tail: _*)
    if (index.isEmpty) res
    else res.filter(col("level").isin(index.map(Integer.valueOf): _*))
  }

  /** Arbitrary GROUPING SETS (the reference's INDEX generalized): one
    * Expand pass via Dataset.groupingSets. */
  def sets(cube: DataCube, margin: Seq[String], sets: Seq[Seq[String]],
           measures: Seq[Measure]): DataFrame = {
    require(sets.nonEmpty, "need at least one grouping set")
    sets.foreach(s => require(s.forall(margin.contains),
      "every grouping-set column must appear in margin"))
    val df = denormFor(cube, margin)
    val grouped = df.groupingSets(
      sets.map(_.map(col)), margin.map(col): _*)
    val aggs = measures.map(_.expr) :+ levelCol(margin)
    grouped.agg(aggs.head, aggs.tail: _*)
  }

  /** Partial rollup used by the in-DSL `+`/`^` path: roll up over `attrs`
    * while keeping `keepKeys` (the untouched dimensions' fks) in every
    * grouping set. */
  def rollup(cube: DataCube, attrs: Seq[String], keepKeys: Seq[String],
             cubeOp: Boolean): DataFrame = {
    val df = denormFor(cube, attrs)
    val margin = keepKeys ++ attrs
    val setsList: Seq[Seq[String]] =
      if (cubeOp)
        attrs.toSet.subsets().toSeq.sortBy(-_.size)
          .map(s => keepKeys ++ attrs.filter(s))
      else
        (attrs.size to 0 by -1).map(i => keepKeys ++ attrs.take(i))
    val grouped = df.groupingSets(
      setsList.map(_.map(col)), margin.map(col): _*)
    val lvl =
      attrs.map(c => grouping(col(c)).cast("int")).reduce(_ + _).as("level")
    val aggs = cube.fact.measures.map(_.expr) :+ lvl
    grouped.agg(aggs.head, aggs.tail: _*)
  }

  /** Re-normalize a flat grouping-sets result into a navigable cube — the
    * reference's `rollup.cube` normalize=TRUE (R/rollup.R:75-103): the fact
    * is keyed by the grouping attributes plus `level`; each margin attribute
    * becomes an attribute-grain dimension; a fresh `level` dimension is
    * bound so the result stays navigable. */
  def renormalizeAttrs(cube: DataCube, flat: DataFrame, margin: Seq[String],
                       measures: Seq[Measure]): DataCube =
    renormalize(cube, flat, margin, Seq.empty, measures)

  def renormalize(cube: DataCube, flat: DataFrame, attrs: Seq[String],
                  keepKeys: Seq[String],
                  measures: Seq[Measure] = null): DataCube = {
    val ms = Option(measures).getOrElse(cube.fact.measures)
    val storedMs = ms.map(m => m.copy(vr = m.name))
    val idVars = keepKeys ++ attrs :+ "level"
    val fact = Fact(flat, idVars, storedMs)
    val fkOwner = cube.dimensions.values.map(d => d.key -> d).toMap
    val attrDims = attrs.map { a =>
      val owner = fkOwner.get(a).map(d => d.regrain(Seq(a)))
        .getOrElse(cube.attrOwner(a).regrain(Seq(a)))
      owner.copy(name = a)
    }
    val keepDims = keepKeys.map(k => fkOwner(k))
    val levelDim = Dimension.build("level", "level",
      ListMap("default" -> Hierarchy.flat("level")),
      flat.select("level").distinct())
    val all = (keepDims ++ attrDims :+ levelDim).map(d => d.name -> d)
    DataCube(fact, ListMap(all: _*))
  }
}
