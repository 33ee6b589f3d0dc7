package graft.model

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.query.{DimExpr, DimOp}

/** The cube: a logical multidimensional array stored physically as a sparse
  * star/snowflake schema — one pre-aggregated fact DataFrame plus one
  * [[Dimension]] per foreign key (reference: `data.cube` R6 class,
  * R/data.cube.R:18-23; data model doc R/data.cube.R:8).
  *
  * Pure metadata wrapper over lazy DataFrames: composing queries never runs
  * a Spark job; Catalyst optimizes the whole composed plan at action time
  * (SURVEY §3.1). Designed so every fact-side stage is distributed and every
  * dimension-side stage stays broadcast-small (SURVEY §7.4.7).
  */
final case class DataCube(fact: Fact, dimensions: ListMap[String, Dimension]) {

  def dimension(name: String): Dimension =
    dimensions.getOrElse(name,
      throw new IllegalArgumentException(
        s"unknown dimension '$name'; have: ${dimensions.keys.mkString(", ")}"))

  /** Resolve a bare attribute name to its owning dimension — the reference's
    * `dimnames.attributes` (R/cube.R:23-39), including the ambiguity error. */
  def attrOwner(attr: String): Dimension = {
    val owners = dimensions.values.filter(_.fields.contains(attr)).toSeq
    owners match {
      case Seq(d) => d
      case Seq()  => throw new IllegalArgumentException(
        s"attribute '$attr' not found in any dimension")
      case ds     => throw new IllegalArgumentException(
        s"attribute '$attr' is ambiguous across dimensions: " +
          ds.map(_.name).mkString(", "))
    }
  }

  // ---------------------------------------------------------------------
  // The main query path — slice / dice / collapse / drop (SURVEY §3.1)
  // ---------------------------------------------------------------------

  /** Query the cube with one operation per dimension; unmentioned dimensions
    * pass through unchanged (the reference pads missing args to `list()`,
    * R/data.cube.R:123-134). Returns a new chainable cube.
    *
    * @param drop array-compatible dimension dropping: after a slice, a
    *             dimension reduced to one key value is removed and the fact
    *             re-aggregated — unless the user supplied >1 filter values
    *             for that key (R/data.cube.R:264-272).
    */
  def q(exprs: DimExpr*): DataCube = q(exprs, drop = true)

  def q(exprs: Seq[DimExpr], drop: Boolean): DataCube =
    q(exprs, drop, dropCounted = false)

  def q(exprs: Seq[DimExpr], drop: Boolean, dropCounted: Boolean): DataCube = {
    val byDim = exprs.map(e => e.name -> e.op).toMap
    val unknown = byDim.keySet -- dimensions.keySet
    require(unknown.isEmpty, s"unknown dimension(s): ${unknown.mkString(", ")}")
    require(exprs.map(_.name).distinct.size == exprs.size,
      "duplicate dimension in query")

    byDim.collect { case (n, _: DimOp.Rollup) => n
                    case (n, _: DimOp.CubeOp) => n } match {
      case ns if ns.nonEmpty =>
        return rollupQuery(exprs, drop)
      case _ =>
    }

    // Dimension phase (R/data.cube.R:251-262): subset each filtered
    // dimension (value filters and/or positional slices); its surviving
    // key set feeds the fact filter.
    val posByDim: Map[String, Seq[Int]] =
      exprs.collect { case e if e.positions.nonEmpty => e.name -> e.positions }.toMap
    val subsetted: Map[String, Dimension] =
      exprs.collect {
        case e if e.op.filters.nonEmpty || e.positions.nonEmpty =>
          val d0 = dimension(e.name)
          val d1 = if (e.positions.nonEmpty) d0.subsetPositions(e.positions) else d0
          e.name -> (if (e.op.filters.nonEmpty) d1.subset(e.op.filters) else d1)
      }.toMap
    val keySets: Map[String, DataFrame] = subsetted.map { case (n, d) =>
      d.key -> d.keyValues
    }

    // Drop decision (R/data.cube.R:264-272): a sliced dimension drops when
    // `drop` is on, the user filtered it, and the filter spec pins the key
    // to a single value (or a single position) — "filtered with 2+ values
    // never drops". The decision is made from the filter spec ALONE so that
    // composing a query never runs a Spark job (zero-job composition law,
    // asserted by PlanSpec's listener test) — at 100 TB an order-grain
    // dimension would otherwise pay a real job per composed query. Two
    // documented divergences from the reference, which counts the keys that
    // actually survive (length(dimkeys)==1, R/data.cube.R:266-270):
    //  - a key pinned to a value that matches NOTHING still drops the axis
    //    here (empty 0-axis cube); the reference keeps the empty axis;
    //  - an attribute filter that happens to leave exactly one key does NOT
    //    drop here; the reference drops. Slice by key value or position to
    //    get array-drop behavior — or pass `dropCounted = true` for the
    //    reference's exact counted semantics, accepting one blocking
    //    cardinality job per filtered dimension at composition time.
    val collapsed = byDim.collect { case (n, _: DimOp.Collapse) => n }.toSet
    val dropped: Set[String] =
      if (!drop) Set.empty
      else if (dropCounted)
        // exact reference semantics: count the SURVIVING keys; drop on
        // exactly 1 (an empty axis is kept, an attribute filter that
        // leaves one key drops). limit(2) bounds the job: the answer
        // only distinguishes 0 / 1 / many.
        subsetted.collect { case (n, d) if !collapsed(n) &&
          d.keyValues.limit(2).count() == 1 => n }.toSet
      else subsetted.collect { case (n, d) if !collapsed(n) =>
        val keyFilter = byDim(n).filters.get(d.key)
        val drops = keyFilter match {
          case Some(vs) => vs.distinct.size == 1 // pinned by the user
          case None =>
            byDim(n).filters.isEmpty &&
              posByDim.get(n).exists(_.distinct.size == 1) // one position
        }
        if (drops) Some(n) else None
      }.flatten.toSet

    // Fact phase (R/fact.R:67-102): semi-join key sets, re-aggregate only
    // if any fk is dropped.
    val removeKeys = (collapsed ++ dropped).map(n => dimension(n).key)
    val newFact = fact.subset(keySets, removeKeys)

    val newDims = dimensions.collect {
      case (n, d) if !collapsed(n) && !dropped(n) =>
        n -> subsetted.getOrElse(n, d)
    }
    DataCube(newFact, ListMap(newDims.toSeq: _*))
  }

  /** `+`/`^` ops: rollup/cube over the chosen dimensions' hierarchy level
    * keys — the part the reference parsed but left stubbed
    * (R/data.cube.R:282-315, R/fact.R:107-130; SURVEY §2.6 G4). Implemented
    * natively: first apply selects/collapses, then one Expand-based
    * rollup/cube over the level keys of the first hierarchy of each `+`/`^`
    * dimension (grouping columns default per R/data.cube.R:287-292),
    * emitting the reference's `level` column (0 = leaf .. n = grand total,
    * R/rollup.R:15-21). Returns a flat-fact cube keyed by the grouping
    * attributes plus `level`.
    */
  private def rollupQuery(exprs: Seq[DimExpr], drop: Boolean): DataCube = {
    val selectPart = exprs.map { e =>
      e.op match {
        case DimOp.Rollup(fs, _) => e.copy(op = DimOp.Select(fs))
        case DimOp.CubeOp(fs, _) => e.copy(op = DimOp.Select(fs))
        case _                   => e
      }
    }
    val sliced = q(selectPart, drop = false)
    val rollDims = exprs.collect {
      case DimExpr(n, r: DimOp.Rollup, _) => (n, r.levels, false)
      case DimExpr(n, c: DimOp.CubeOp, _) => (n, c.levels, true)
    }
    val anyCube = rollDims.exists(_._3)
    // Grouping columns: explicit levels, else the first hierarchy's level
    // keys (R/data.cube.R:287-292).
    val attrs = rollDims.flatMap { case (n, lvls, _) =>
      if (lvls.nonEmpty) lvls
      else sliced.dimension(n).hierarchies.values.head.levelKeys
    }
    // Dims not mentioned with + / ^ keep their keys as extra grouping cols
    // at every level (they are "by" columns outside the rollup).
    val keepKeys = sliced.dimensions.collect {
      case (n, d) if !rollDims.exists(_._1 == n) => d.key
    }.toSeq
    val flat = GroupingSets.rollup(sliced, attrs, keepKeys, cubeOp = anyCube)
    GroupingSets.renormalize(sliced, flat, attrs, keepKeys)
  }

  // ---------------------------------------------------------------------
  // Attribute-grain aggregation — extract / capply / apply (SURVEY §3.2)
  // ---------------------------------------------------------------------

  /** Group by arbitrary hierarchy attributes — the reference's `[[.cube`
    * extract (R/cube.R:158-228) and `capply` (R/cube.R:340-345): filter
    * dimensions, project each needed dimension to key + by-attrs, inner-join
    * into the fact (broadcast — dimension side is small), aggregate by the
    * attributes, and re-grain each surviving dimension to the attribute
    * grain so the result is again a cube keyed by the attributes.
    *
    * @param by       hierarchy attribute (or fk) names; empty = grand total
    *                 (1-row, 0-dim cube — tests/tests-021-capply.R:83-89)
    * @param filters  per-dimension `{field -> values}` pre-filters (the `i`)
    * @param measures override measures (the `j`); defaults to the cube's
    */
  def aggregate(
      by: Seq[String],
      filters: Map[String, Map[String, Seq[Any]]] = Map.empty,
      measures: Seq[Measure] = fact.measures
  ): DataCube = {
    val unknownDims = filters.keySet -- dimensions.keySet
    require(unknownDims.isEmpty,
      s"unknown dimension(s) in filters: ${unknownDims.mkString(", ")}")

    // Which dimension owns each by-attr (fk columns resolve to their dim).
    val fkOwner: Map[String, Dimension] =
      dimensions.values.map(d => d.key -> d).toMap
    val owners: Map[String, Dimension] = by.map { a =>
      a -> fkOwner.getOrElse(a, attrOwner(a))
    }.toMap

    // Dimension phase: subset the filtered dims.
    val subsetted: Map[String, Dimension] = filters.map { case (n, fs) =>
      n -> dimension(n).subset(fs)
    }
    def current(n: String): Dimension = subsetted.getOrElse(n, dimension(n))

    val byDim: Map[String, Seq[String]] =
      by.groupBy(a => owners(a).name)

    // Fact phase: semi-join filter-only dims; inner-join projected dims that
    // contribute attrs (key + needed attrs, broadcast) (R/cube.R:186-205).
    // Both sides are key-unique dimension tables (a filtered dimension's
    // are filters over its persisted `denormalized`), so neither needs a
    // dedup: the lookup join cannot fan the fact out.
    var df = fact.data
    subsetted.foreach { case (n, d) =>
      if (!byDim.contains(n))
        df = df.join(Joins.maybeBroadcast(d.keyValues), Seq(d.key), "left_semi")
    }
    byDim.foreach { case (n, attrs) =>
      val d = current(n)
      val needed = attrs.filterNot(_ == d.key)
      if (needed.nonEmpty) {
        val proj = d.denormalized.select((d.key +: needed).map(col): _*)
        val joinType = if (subsetted.contains(n)) "inner" else "left"
        df = df.join(Joins.maybeBroadcast(proj), Seq(d.key), joinType)
      } else if (subsetted.contains(n)) {
        df = df.join(Joins.maybeBroadcast(d.keyValues), Seq(d.key), "left_semi")
      }
    }
    val agg = Fact.aggregate(df, by, measures)

    // Re-grain surviving dimensions to the attribute grain
    // (R/cube.R:209-217): each by-dim projected to its attrs, dedup'd.
    val newDims = byDim.map { case (n, attrs) =>
      n -> current(n).regrain(attrs)
    }
    val ordered = by.map(a => owners(a).name).distinct.map(n => n -> newDims(n))
    DataCube(Fact(agg, by, measures), ListMap(ordered: _*))
  }

  /** `apply`-style margins — the reference's `apply.data.cube`
    * (R/data.cube.R:473-505): keep MARGIN dimensions at key grain, collapse
    * everything else, optionally replacing every measure's aggregate with
    * `fun` (capply: R/cube.R:340-345). */
  def applyMargin(margin: Seq[String], fun: Option[Column => Column] = None): DataCube = {
    val ms = fun.fold(fact.measures)(f => fact.measures.map(_.rebind(f)))
    aggregate(margin.map { a =>
      // margins may be dim names (use their key) or attribute names
      dimensions.get(a).map(_.key).getOrElse(a)
    }, measures = ms)
  }

  /** Integer-MARGIN form — the reference accepts dimension POSITIONS and
    * maps them through the fact's id.vars (`MARGIN = X$id.vars[MARGIN]`,
    * R/data.cube.R:475-476; 1-based, R convention). The DummyImplicit
    * disambiguates the erased overload. */
  def applyMargin(margin: Seq[Int], fun: Option[Column => Column])(
      implicit d: DummyImplicit): DataCube = {
    val keys = fact.idVars
    val named = margin.map { i =>
      require(i >= 1 && i <= keys.length,
        s"MARGIN position $i out of 1..${keys.length} (id.vars: ${keys.mkString(", ")})")
      keys(i - 1)
    }
    applyMargin(named, fun)
  }

  def applyMargin(margin: Seq[Int])(implicit d: DummyImplicit): DataCube =
    applyMargin(margin, None)

  // ---------------------------------------------------------------------
  // Grouping sets over hierarchy attributes (SURVEY §3.3)
  // ---------------------------------------------------------------------

  /** ROLLUP over hierarchy attributes with the reference's `level` contract
    * — `rollup.cube` (R/rollup.R:57-104) re-expressed as one native Expand:
    * level 0 = leaf grain .. n = grand total, subtotal keys are null,
    * summing the whole result double-counts by design (the double-counting
    * law, tests/tests-021-rollup.R:19-28).
    *
    * @param index which subtotal levels to keep (the reference's INDEX);
    *              empty = all levels
    * @return flat DataFrame: margin attrs ++ measures ++ `level`
    */
  def rollupFlat(margin: Seq[String], index: Seq[Int] = Seq.empty,
                 measures: Seq[Measure] = fact.measures): DataFrame =
    GroupingSets.overAttributes(this, margin, index, measures, isCube = false)

  /** CUBE (2^n grouping sets) over hierarchy attributes — what the
    * reference's `^` wanted (R/fact.R:122, cube.data.table undefined —
    * SURVEY §2.6 G5); `level` = number of nulled-out grouping columns. */
  def cubeFlat(margin: Seq[String], index: Seq[Int] = Seq.empty,
               measures: Seq[Measure] = fact.measures): DataFrame =
    GroupingSets.overAttributes(this, margin, index, measures, isCube = true)

  /** Arbitrary GROUPING SETS over hierarchy attributes (native Expand —
    * the one-pass plan the reference wanted from data.table#1377,
    * README.md:22). */
  def groupingSetsFlat(margin: Seq[String], sets: Seq[Seq[String]],
                       measures: Seq[Measure] = fact.measures): DataFrame =
    GroupingSets.sets(this, margin, sets, measures)

  /** Rollup returning a navigable cube with a bound `level` dimension —
    * the reference's normalize=TRUE path (R/rollup.R:75-103). */
  def rollupCube(margin: Seq[String], index: Seq[Int] = Seq.empty,
                 measures: Seq[Measure] = fact.measures): DataCube = {
    val flat = rollupFlat(margin, index, measures)
    GroupingSets.renormalizeAttrs(this, flat, margin, measures)
  }

  // ---------------------------------------------------------------------
  // Export / reshape (SURVEY §2.7)
  // ---------------------------------------------------------------------

  /** Build stored aggregate-navigation summaries for this cube (Kimball
    * aggregate tables on the cube surface): each attribute set becomes a
    * stored rollup of the denormalized fact, ALL sets computed in one
    * grouping-sets pass (graft.operators.AggregateNavigator). Measures
    * must be declared as re-aggregable partials over the STORED fact
    * columns — for a standard sum/count cube that is
    * `NavMeasure("sum", "sum_qty", "sum_qty")` etc., which keeps the
    * "re-aggregate from the stored grain, never stack arbitrary
    * partials" contract: a summary is just a coarser stored grain. */
  def summarize(root: String, attrSets: Seq[(String, Seq[String])],
                measures: Seq[graft.operators.AggregateNavigator.NavMeasure])
  : Seq[graft.operators.AggregateNavigator.Summary] = {
    val allAttrs = attrSets.flatMap(_._2).distinct
    val denorm = GroupingSets.denormFor(this, allAttrs)
    graft.operators.AggregateNavigator.buildSummaries(
      denorm, attrSets, measures, root)
  }

  /** Attribute-grain aggregation routed through a [[summarize]]d store:
    * answered from the smallest summary covering `by` AND every filtered
    * attribute (equality filters prune the summary's partial rows before
    * re-aggregation — the filtered-report pattern), falling back to the
    * live fact+dimension join path when none covers. Returns the result
    * and the access path taken (summary name or "base"). */
  def aggregateRouted(by: Seq[String], root: String,
                      filters: Map[String, Seq[Any]] = Map.empty)
  : (DataFrame, String) =
    aggregateRoutedWhere(by, root,
      filters.toSeq.map { case (c, vs) =>
        graft.operators.AggregateNavigator.NavPred.in(c, vs) })

  /** [[aggregateRouted]] with arbitrary single-column predicates (ranges,
    * LIKE, …): a time-sliced dashboard panel (`d_year ≥ 1995`) routes to
    * a stored summary exactly like an equality filter does, because a
    * summary row is the complete partial of its grain cell — any
    * row-level predicate over kept grain columns selects whole cells. */
  def aggregateRoutedWhere(by: Seq[String], root: String,
                           preds: Seq[graft.operators.AggregateNavigator.NavPred])
  : (DataFrame, String) = {
    val spark = fact.data.sparkSession
    val (sums, ms) = graft.operators.AggregateNavigator.loadStore(spark, root)
    graft.operators.AggregateNavigator.queryWhere(spark,
      GroupingSets.denormFor(this, (by ++ preds.map(_.column)).distinct),
      sums, by, ms, preds)
  }

  /** ROLLUP answered from a [[summarize]]d store: when a stored summary
    * covers the whole margin, the rollup (one Expand + `level` col, the
    * rollupFlat contract) runs over the summary's partials — sum-of-sums
    * per grouping set — instead of the fact. This is THE payoff of
    * aggregate tables in reporting workloads: a subtotal report over a
    * 100 TB fact reads KBs. Answers only the measures the store was
    * built with; falls back to [[rollupFlat]] (live fact path, all cube
    * measures) ONLY when no summary covers the margin. An empty covering
    * summary answers empty — the store is the truth once it is routed
    * to, same rule as AggregateNavigator.query's declaration-only case
    * (diverging here would show "no data" on one dashboard panel and
    * full live totals on its neighbor). */
  def rollupRoutedFlat(margin: Seq[String], root: String,
                       index: Seq[Int] = Seq.empty): (DataFrame, String) = {
    val spark = fact.data.sparkSession
    val nav = graft.operators.AggregateNavigator
    val (sums, ms) = nav.loadStore(spark, root)
    nav.route(sums, margin) match {
      case Some(s) =>
        // empty covering summary: same shape, zero rows, no scan (the
        // false filter folds to an empty LocalRelation) — fromBase and
        // fromSummary agree on types over zero rows
        val (src, aggsMs) =
          if (s.rows == 0)
            (GroupingSets.denormFor(this, margin).filter(lit(false)),
              ms.map(_.fromBase))
          else (spark.read.parquet(s.path), ms.map(_.fromSummary))
        val grouped = src.rollup(margin.map(col): _*)
        val aggs = aggsMs :+ GroupingSets.levelCol(margin)
        val res = grouped.agg(aggs.head, aggs.tail: _*)
        (if (index.isEmpty) res
        else res.filter(col("level").isin(index.map(Integer.valueOf): _*)),
          s.name)
      case _ => (rollupFlat(margin, index), "base")
    }
  }

  /** Denormalize: fact + dimension attributes via lookup joins — the
    * reference's `denormalize` (R/data.cube.R:98-110). Dimensions are
    * broadcast (star-schema assumption: dims ≪ fact; for monster dims
    * Catalyst falls back to shuffle join when stats exceed the threshold).
    *
    * @param dims   which dimensions to denormalize (default all)
    * @param naFill densify first: cross-join all dimension key sets and
    *               left-join the fact so absent cells surface as nulls
    *               (R/data.cube.R:100-106) — guarded by a cell budget
    *               because the dense cross product explodes combinatorially
    *               (the reference's own warning,
    *               tests/manual/021-array_cube.R:45-67)
    */
  def denormalize(dims: Seq[String] = dimensions.keys.toSeq,
                  naFill: Boolean = false,
                  maxCells: Long = 100000000L): DataFrame = {
    val base =
      if (!naFill) fact.data
      else {
        // ONE job for the cell budget. BigInt: a many-dimension product
        // overflows Long long before the budget check — overflow must
        // surface as the budget error
        val cells = keyCounts.foldLeft(BigInt(1))(_ * _)
        require(cells <= BigInt(maxCells),
          s"na.fill would materialize $cells cells (> $maxCells budget)")
        val dense = dimensions.values.map(_.keyValues)
          .reduce((a, b) => a.crossJoin(b))
        dense.join(fact.data, fact.idVars, "left")
      }
    dims.foldLeft(base) { (df, n) =>
      val d = dimension(n)
      val attrs = d.fields.filterNot(_ == d.key)
        .filterNot(df.columns.contains) // collision check (R/data.table.R:92-101)
      if (attrs.isEmpty) df
      else df.join(
        Joins.maybeBroadcast(d.denormalized.select((d.key +: attrs).map(col): _*)),
        Seq(d.key), "left")
    }
  }

  /** Drill-across (the Kimball multi-fact pattern; beyond the
    * single-fact reference): merge this cube with `other` at the grain
    * of their CONFORMED dimensions — each fact aggregates to the shared
    * grain independently, the two grain tables full-outer-join on the
    * conformed keys, and the measures sit side by side in one cube. A
    * grain cell present in either fact appears once; the absent side's
    * measures stay NULL ("no facts", not zero), which later
    * re-aggregation ignores (the na.rm default) — so region-level
    * totals over a customer×supplier drill-across are correct even for
    * nations with customers but no suppliers.
    *
    * `on` selects the conformed dimension NAMES (default: every
    * dimension name the cubes share); non-shared dimensions are
    * aggregated away — drill-across is only defined at the conformed
    * grain. Measure names must be disjoint.
    *
    * Scale shape: two independent partial-aggregations (each shuffles
    * once, map-side combined) + one equi-join on the grain keys —
    * at-grain tables are the small end of each cube, and the join is
    * broadcastable whenever one side's grain is; never a fact×fact
    * join. */
  def drillAcross(other: DataCube, on: Seq[String] = Seq.empty): DataCube = {
    val sharedNames =
      if (on.nonEmpty) on
      else dimensions.keys.toSeq.filter(other.dimensions.contains)
    require(sharedNames.nonEmpty,
      "drillAcross needs at least one conformed dimension " +
        s"(this: ${dimensions.keys.mkString(", ")}; " +
        s"other: ${other.dimensions.keys.mkString(", ")})")
    val dims = sharedNames.map { n =>
      require(dimensions.contains(n) && other.dimensions.contains(n),
        s"dimension '$n' is not shared by both cubes")
      Dimension.conformUnion(dimension(n), other.dimension(n))
    }
    val collisions =
      fact.measures.map(_.name).toSet & other.fact.measures.map(_.name).toSet
    require(collisions.isEmpty,
      s"measure name collision across cubes: ${collisions.mkString(", ")} " +
        "— rename one side before drilling across")
    val keys = dims.map(_.key)
    val a = Fact.aggregate(fact.data, keys, fact.measures)
    val b = Fact.aggregate(other.fact.data, keys, other.fact.measures)
    val merged = a.join(b, keys, "full_outer")
    DataCube.build(
      Fact(merged, keys, fact.measures ++ other.fact.measures), dims)
  }

  /** Time intelligence over the at-grain fact (beyond the reference):
    * running period-to-date totals and prior-period comparison along an
    * ordered grain key. For every measure `m` the result adds
    * `cum_<m>` (running sum), `prev_<m>` (the value `periods` back) and
    * `delta_<m>` (current − prev). Partitioned by every OTHER id.var —
    * one keyed window shuffle, never a global sort over fact-scale data
    * (when the order key is the only id.var the window is a single
    * partition, but an at-grain single-series fact is one row per
    * period by definition). Returns a DataFrame, NOT a cube: running
    * totals are non-additive, so re-aggregating them through cube ops
    * would double-count by construction. */
  def timeIntelligence(orderKey: String, periods: Int = 1): DataFrame = {
    require(fact.idVars.contains(orderKey),
      s"'$orderKey' is not a grain column (${fact.idVars.mkString(", ")})")
    require(periods >= 1, s"periods must be >= 1, got $periods")
    import org.apache.spark.sql.expressions.Window
    val parts = fact.idVars.filterNot(_ == orderKey)
    val base =
      if (parts.isEmpty) Window.orderBy(col(orderKey).asc)
      else Window.partitionBy(parts.map(col): _*).orderBy(col(orderKey).asc)
    val cum = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    fact.measures.foldLeft(fact.data) { (df, m) =>
      val prev = lag(col(m.name), periods).over(base)
      df.withColumn(s"cum_${m.name}", sum(col(m.name)).over(cum))
        .withColumn(s"prev_${m.name}", prev)
        .withColumn(s"delta_${m.name}", col(m.name) - prev)
    }
  }

  /** Ratio-to-parent (share-of-total): for every measure add
    * `share_<m>` = value / parent-group total, where the parent group is
    * every id.var EXCEPT `alongKey` — "each priority's share within its
    * year". One keyed window over the at-grain fact (a grand-total share
    * with a single id.var is one tiny partition by definition, same
    * argument as [[timeIntelligence]]); NULL share where the parent
    * total is zero or NULL (a 0/0 share is meaningless, not 0). Returns
    * a DataFrame: shares are non-additive. */
  def shareAlong(alongKey: String): DataFrame = {
    require(fact.idVars.contains(alongKey),
      s"'$alongKey' is not a grain column (${fact.idVars.mkString(", ")})")
    import org.apache.spark.sql.expressions.Window
    val parts = fact.idVars.filterNot(_ == alongKey)
    val w = Window.partitionBy(parts.map(col): _*)
    fact.measures.foldLeft(fact.data) { (df, m) =>
      val total = sum(col(m.name)).over(w)
      df.withColumn(s"share_${m.name}",
        when(total === 0, lit(null))
          .otherwise(col(m.name).cast("double") / total))
    }
  }

  /** Top-k members of `alongKey` within each parent group, ranked by
    * `rankMeasure` (descending, key-ascending tiebreak), with the tail
    * collapsed into ONE `otherLabel` row per group — the standard
    * report shape ("top 3 priorities + OTHER"). Every measure
    * re-aggregates with its own captured function over the relabeled
    * grain, so the OTHER row is a true aggregate of the tail members.
    * `alongKey` is cast to string to admit the label — pick `otherLabel`
    * OUTSIDE the key domain: a real member whose string value equals it
    * would be fused into the tail bucket. One keyed
    * rank window + one grouped aggregation. */
  def topKOther(alongKey: String, k: Int, rankMeasure: String,
                otherLabel: String = "OTHER"): DataFrame = {
    require(fact.idVars.contains(alongKey),
      s"'$alongKey' is not a grain column (${fact.idVars.mkString(", ")})")
    require(fact.measures.exists(_.name == rankMeasure),
      s"'$rankMeasure' is not a measure (${fact.measures.map(_.name).mkString(", ")})")
    require(k >= 1, s"k must be >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    val parts = fact.idVars.filterNot(_ == alongKey)
    val w = Window.partitionBy(parts.map(col): _*)
      .orderBy(col(rankMeasure).desc, col(alongKey).asc)
    val relabeled = fact.data
      .withColumn("__rank", row_number().over(w))
      .withColumn(alongKey,
        when(col("__rank") <= k, col(alongKey).cast("string"))
          .otherwise(lit(otherLabel)))
      .drop("__rank")
    Fact.aggregate(relabeled, fact.idVars, fact.measures)
  }

  /** The cube as one flat DataFrame (as.data.table.data.cube,
    * R/as.data.cube.R:193-197). */
  def toDF: DataFrame = denormalize()

  /** Number of distinct key values per dimension — `dim(cube)`
    * (R/data.cube.R:77-119), from one job. */
  def dimCardinalities: Map[String, Long] =
    ListMap.from(dimensions.keys.zip(keyCounts))

  /** Key count of every dimension, in dimension order, from one unioned
    * count job (a `.count()` per dimension would serialize one blocking
    * driver round-trip per dimension). */
  private def keyCounts: Seq[Long] =
    if (dimensions.isEmpty) Seq.empty
    else dimensions.values
      .map(_.keyValues.agg(count(lit(1)).cast("long").as("c")))
      .reduce(_ union _)
      .collect().map(_.getLong(0)).toSeq

  /** First n denormalized rows — `head(cube)` (R/data.cube.R:117-119). */
  def head(n: Int = 6): Array[org.apache.spark.sql.Row] = toDF.take(n)

  /** The key values of every dimension — `dimnames(cube)`
    * (R/dimension.R:116-129); driver-side, dimension-sized. */
  def dimnames: Map[String, Seq[Any]] =
    dimensions.map { case (n, d) =>
      n -> d.keyValues.orderBy(col(d.key).asc).collect().map(_.get(0)).toSeq
    }

  /** Fact row count — `length(cube)` (R/data.cube.R:77-119). */
  def length: Long = fact.data.count()

  /** Register the star schema as temp views for plain Spark SQL interop:
    * `<prefix>fact` plus one denormalized view per dimension. A data.cube
    * user gets the cube API; a SQL user gets `spark.sql("SELECT ... FROM
    * graft_fact JOIN graft_part ...")` over the same (cached) plans. */
  def createViews(prefix: String = "graft_"): Unit = {
    fact.data.createOrReplaceTempView(s"${prefix}fact")
    dimensions.values.foreach(d =>
      d.denormalized.createOrReplaceTempView(s"$prefix${d.name}"))
  }

  /** Per-table row/column/size stats — the reference's `schema()`
    * introspection (R/schema.R:2-11, R/data.cube.R:111-116), which reports
    * nrow/ncol/MB per table. Size is Catalyst's optimized-plan estimate
    * (`stats.sizeInBytes`, capped at Long.MaxValue): zero extra jobs — the
    * row counts are the only actions, same as before. */
  def describe(): Seq[(String, Long, Int, Long)] = {
    def sizeOf(df: DataFrame): Long = {
      val s = try df.queryExecution.optimizedPlan.stats.sizeInBytes
      catch { case scala.util.control.NonFatal(_) => BigInt(-1) }
      if (s.isValidLong) s.toLong else Long.MaxValue
    }
    val f = ("fact", fact.data.count(), fact.data.columns.length,
      sizeOf(fact.data))
    val ds = dimensions.values.flatMap { d =>
      Seq((s"dimension:${d.name}", d.data.count(), d.data.columns.length,
        sizeOf(d.data))) ++
        d.levels.values.map(l =>
          (s"level:${d.name}.${l.key}", l.data.count(),
            l.data.columns.length, sizeOf(l.data)))
    }
    f +: ds.toSeq
  }

  /** The reference's print banner (`print.data.cube`, R/data.cube.R:80-97):
    * {{{
    * <data.cube>
    * fact:
    *   60175 rows x 7 dimensions x 2 measures (1.84 MB)
    * dimensions:
    *   date : 2406 entities x 2 levels (0.09 MB)
    * total size: 2.01 MB
    * }}}
    * Row counts run [[describe]]'s jobs; MB is Catalyst's size estimate
    * (the reference prints data.table memory footprints — same role).
    * `show()` prints it; this returns the text for golden specs. */
  def banner(): String = {
    val rows = describe()
    // sizeOf caps failures at Long.MaxValue / -1 — clamp and sum in BigInt
    // so a capped entry can't overflow the total
    def mb(parts: Seq[Long]): String =
      String.format(java.util.Locale.ROOT, "%.2f",
        Double.box(parts.map(b => BigInt(b.max(0L))).sum
          .min(BigInt(Long.MaxValue)).toDouble / 1048576.0))
    val factRow = rows.head
    val sb = new StringBuilder
    sb ++= "<data.cube>\n"
    sb ++= "fact:\n"
    sb ++= s"  ${factRow._2} rows x ${dimensions.size} dimensions x " +
      s"${fact.measures.size} measures (${mb(Seq(factRow._4))} MB)\n"
    if (dimensions.nonEmpty) {
      sb ++= "dimensions:\n"
      dimensions.values.foreach { d =>
        val related = rows.filter(r =>
          r._1 == s"dimension:${d.name}" || r._1.startsWith(s"level:${d.name}."))
        val entities = related.head._2
        sb ++= s"  ${d.name} : $entities entities x ${d.levels.size} levels " +
          s"(${mb(related.map(_._4))} MB)\n"
      }
    }
    sb ++= s"total size: ${mb(rows.map(_._4))} MB"
    sb.toString
  }

  /** Print the banner — `print(cube)` parity. */
  def show(): Unit = println(banner())
}

object DataCube {

  val ReservedDimNames: Set[String] = Set("grouping", "level")

  /** Conform fact and dimensions — the reference's `data.cube$new`
    * (R/data.cube.R:42-74):
    *  - dimension names must be unique; `grouping`/`level` reserved;
    *  - dimensions without a matching fact fk are dropped (with a note);
    *  - fact fks without a dimension are dropped and the fact re-aggregated
    *    to the surviving keys;
    *  - dimensions are reordered to fact key order.
    */
  def build(fact: Fact, dims: Seq[Dimension]): DataCube = {
    require(dims.map(_.name).distinct.size == dims.size,
      "dimension names must be unique")
    dims.foreach(d => require(!ReservedDimNames(d.name),
      s"dimension name '${d.name}' is reserved"))
    val factKeys = fact.idVars.toSet
    val (kept, droppedDims) = dims.partition(d => factKeys(d.key))
    droppedDims.foreach(d => System.err.println(
      s"[datacube] dimension '${d.name}' has no matching fact key " +
        s"'${d.key}' - dropped"))
    val dimKeys = kept.map(_.key).toSet
    val orphanKeys = fact.idVars.filterNot(dimKeys)
    val conformedFact =
      if (orphanKeys.isEmpty) fact
      else {
        val keep = fact.idVars.filter(dimKeys)
        Fact(Fact.aggregate(fact.data, keep, fact.measures), keep, fact.measures)
      }
    // reorder dims to fact key order (R/data.cube.R:70-74)
    val byKey = kept.map(d => d.key -> d).toMap
    val ordered = conformedFact.idVars.map(byKey)
    DataCube(conformedFact, ListMap(ordered.map(d => d.name -> d): _*))
  }

  /** Star-schema entry (as.data.cube.list, R/as.data.cube.R:144-162):
    * raw fact rows + one flat table per dimension + hierarchy specs. */
  def fromStar(
      factRaw: DataFrame, idVars: Seq[String], measures: Seq[Measure],
      dims: Seq[(String, String, ListMap[String, Hierarchy], DataFrame)]
  ): DataCube = {
    val f = Fact.build(factRaw, idVars, measures)
    build(f, dims.map { case (n, k, hs, df) => Dimension.build(n, k, hs, df) })
  }

  /** Single denormalized table → cube (as.data.cube.data.table,
    * R/as.data.cube.R:166-178): fact aggregated to the keys, one dimension
    * per spec projected+dedup'd from the same table. */
  def fromTable(
      table: DataFrame, measures: Seq[Measure],
      dims: Seq[(String, String, ListMap[String, Hierarchy], Seq[String])]
  ): DataCube = {
    val f = Fact.build(table, dims.map(_._2), measures)
    val ds = dims.map { case (n, k, hs, cols) =>
      Dimension.build(n, k, hs,
        table.select((k +: cols).distinct.map(col): _*).dropDuplicates(Seq(k)))
    }
    build(f, ds)
  }
}
