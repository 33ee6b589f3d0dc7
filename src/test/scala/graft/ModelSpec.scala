package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.functions._

import graft.model._
import graft.query.dsl._

/** Constructor invariants + query semantics from the reference's test
  * strategy (SURVEY §5): aggregate-to-grain, conformance, drop semantics,
  * NULL-filter, collapse algebra. */
class ModelSpec extends SparkSpec {

  private def miniCube = {
    import spark.implicits._
    val fact = Seq(
      (1, "a", 10.0), (1, "a", 5.0), (2, "b", 7.0), (3, "a", 2.0)
    ).toDF("k", "g", "v")
    val dim1 = Seq((1, "x"), (2, "y"), (3, "y"), (4, "z")).toDF("k", "attr")
    val dim2 = Seq(("a", "A"), ("b", "B")).toDF("g", "grp")
    DataCube.build(
      Fact.build(fact, Seq("k", "g"), Seq(Measure.sum("v", "sum_v"))),
      Seq(
        Dimension.build("one", "k",
          ListMap("h" -> Hierarchy("attr" -> Seq.empty, "k" -> Seq.empty)), dim1),
        Dimension.build("two", "g",
          ListMap("h" -> Hierarchy("grp" -> Seq.empty, "g" -> Seq.empty)), dim2)))
  }

  test("fact is pre-aggregated to key grain at construction") {
    val c = miniCube
    // rows (1,a,10) and (1,a,5) collapse to one grain row of 15
    assert(c.fact.data.count() == 3)
    val r = c.fact.data.filter(col("k") === 1 && col("g") === "a")
      .select("sum_v").as[Double](org.apache.spark.sql.Encoders.scalaDouble).head()
    assert(r == 15.0)
  }

  test("conformance drops dimensions without a fact key") {
    import spark.implicits._
    val fact = Seq((1, 1.0)).toDF("k", "v")
    val d1 = Seq((1, "x")).toDF("k", "a")
    val d2 = Seq((9, "z")).toDF("nokey", "b")
    val cube = DataCube.build(
      Fact.build(fact, Seq("k"), Seq(Measure.sum("v"))),
      Seq(Dimension.build("good", "k", ListMap.empty, d1),
        Dimension.build("orphan", "nokey", ListMap.empty, d2)))
    assert(cube.dimensions.keySet == Set("good"))
  }

  test("orphan fact keys are dropped and the fact re-aggregated") {
    import spark.implicits._
    val fact = Seq((1, "p", 2.0), (1, "q", 3.0)).toDF("k", "extra", "v")
    val d1 = Seq((1, "x")).toDF("k", "a")
    val cube = DataCube.build(
      Fact.build(fact, Seq("k", "extra"), Seq(Measure.sum("v", "sum_v"))),
      Seq(Dimension.build("one", "k", ListMap.empty, d1)))
    assert(cube.fact.idVars == Seq("k"))
    assert(cube.fact.data.count() == 1) // re-aggregated over surviving key
    assert(cube.fact.data.select("sum_v").head().getDouble(0) == 5.0)
  }

  test("reserved dimension names rejected; duplicate names rejected") {
    import spark.implicits._
    val fact = Seq((1, 1.0)).toDF("k", "v")
    val d = Seq((1, "x")).toDF("k", "a")
    val f = Fact.build(fact, Seq("k"), Seq(Measure.sum("v")))
    intercept[IllegalArgumentException] {
      DataCube.build(f, Seq(Dimension.build("level", "k", ListMap.empty, d)))
    }
    intercept[IllegalArgumentException] {
      DataCube.build(f, Seq(
        Dimension.build("dup", "k", ListMap.empty, d),
        Dimension.build("dup", "k", ListMap.empty, d)))
    }
  }

  test("ambiguous attribute errors; unknown field errors") {
    val c = miniCube
    intercept[IllegalArgumentException](c.attrOwner("nope"))
    intercept[IllegalArgumentException] {
      c.q(dim("one").where("nope" -> Seq(1)))
    }
    intercept[IllegalArgumentException] {
      c.q(dim("nonexistent").where("attr" -> Seq("x")))
    }
  }

  test("single-value slice drops the dimension; 2+ values never drop") {
    val c = miniCube
    val dropped = c.q(dim("one").where("k" -> Seq(1)))
    assert(!dropped.dimensions.contains("one"))
    assert(dropped.fact.idVars == Seq("g"))
    val kept = c.q(dim("one").where("k" -> Seq(1, 2)))
    assert(kept.dimensions.contains("one"))
    // drop=false keeps even a pinned dimension
    val keptNoDrop = c.q(Seq(dim("one").where("k" -> Seq(1))), drop = false)
    assert(keptNoDrop.dimensions.contains("one"))
  }

  test("attribute slices never drop: the decision is spec-only (zero jobs)") {
    val c = miniCube
    // attr=x matches only k=1, but the drop decision reads the filter spec
    // alone (documented divergence from the reference's survivor count) —
    // composing must never run a Spark job, so the dimension is KEPT and
    // correctly filtered to its single surviving key.
    val r = c.q(dim("one").where("attr" -> Seq("x")))
    assert(r.dimensions.contains("one"))
    assert(r.fact.data.select("k").distinct().collect().map(_.getInt(0)).toSeq == Seq(1))
    // attr=y matches k=2,3 -> kept too
    val r2 = c.q(dim("one").where("attr" -> Seq("y")))
    assert(r2.dimensions.contains("one"))
  }

  test("dropCounted opt-in gives the reference's counted-drop semantics") {
    val c = miniCube
    // attribute filter that leaves exactly one key (attr=x -> k=1):
    // spec-only default KEEPS the dimension; counted mode DROPS it
    // (length(dimkeys)==1, R/data.cube.R:266-270)
    val spec = c.q(Seq(dim("one").where("attr" -> Seq("x"))), drop = true)
    assert(spec.dimensions.contains("one"))
    val counted = c.q(Seq(dim("one").where("attr" -> Seq("x"))),
      drop = true, dropCounted = true)
    assert(!counted.dimensions.contains("one"))
    assert(counted.fact.idVars == Seq("g"))
    // key pinned to a value that matches NOTHING: default drops the axis
    // (spec pins one value); counted mode keeps the empty axis like the
    // reference (0 surviving keys != 1)
    val specGone = c.q(Seq(dim("one").where("k" -> Seq(99))), drop = true)
    assert(!specGone.dimensions.contains("one"))
    val countedKept = c.q(Seq(dim("one").where("k" -> Seq(99))),
      drop = true, dropCounted = true)
    assert(countedKept.dimensions.contains("one"))
    assert(countedKept.fact.data.count() == 0)
    // 2+ surviving keys never drop in either mode
    val two = c.q(Seq(dim("one").where("attr" -> Seq("y"))),
      drop = true, dropCounted = true)
    assert(two.dimensions.contains("one"))
  }

  test("empty filter list is constant-false (NULL semantics, F5)") {
    val c = miniCube
    val r = c.q(Seq(dim("one").where("k" -> Seq.empty)), drop = false)
    assert(r.fact.data.count() == 0)
  }

  test("no-match values silently yield 0 rows (F5)") {
    val c = miniCube
    val r = c.q(Seq(dim("one").where("k" -> Seq(999))), drop = false)
    assert(r.fact.data.count() == 0)
  }

  test("collapse ≡ aggregate over remaining keys (A3 algebra)") {
    val c = miniCube
    val collapsed = c.q(dim("two").collapse())
    assert(collapsed.fact.idVars == Seq("k"))
    assert(collapsed.dimensions.keySet == Set("one"))
    val expect = c.fact.data.groupBy("k").agg(sum("sum_v").as("sum_v"))
    val got = collapsed.fact.data
    assert(got.except(expect).count() == 0 && expect.except(got).count() == 0)
  }

  test("collapse with pre-filter filters then aggregates") {
    val c = miniCube
    val r = c.q(dim("one").where("k" -> Seq(1, 2)).collapse())
    // k in (1,2): g=a has 15 (from k=1), g=b has 7 (k=2)
    val rows = r.fact.data.orderBy("g").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("a", "b"))
    assert(rows.map(_.getDouble(1)).toSeq == Seq(15.0, 7.0))
  }

  test("aggregate by attribute re-grains dimensions (A4)") {
    val c = miniCube
    val r = c.aggregate(Seq("attr"))
    assert(r.fact.idVars == Seq("attr"))
    assert(r.dimensions.keySet == Set("one"))
    val m = r.fact.data.orderBy("attr").collect()
      .map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(m == Map("x" -> 15.0, "y" -> 9.0))
  }

  test("grand total: empty margin gives 1-row 0-dim cube (A5)") {
    val c = miniCube
    val r = c.applyMargin(Seq.empty)
    assert(r.fact.data.count() == 1)
    assert(r.dimensions.isEmpty)
    assert(r.fact.data.select("sum_v").head().getDouble(0) == 24.0)
  }

  test("applyMargin with FUN rebinds every measure (capply)") {
    val c = miniCube
    val r = c.applyMargin(Seq("two"), Some(max))
    val m = r.fact.data.orderBy("g").collect()
      .map(x => x.getString(0) -> x.getDouble(1)).toMap
    // max over the *grain* rows: a -> max(15, 2), b -> 7
    assert(m == Map("a" -> 15.0, "b" -> 7.0))
  }

  test("positional slice: at(2) picks the 2nd sorted key and drops") {
    val c = miniCube
    // sorted keys of dim one with fact rows: 1, 2, 3 -> position 2 = key 2
    val r = c.q(Seq(dim("one").at(2)), drop = false)
    val keys = r.fact.data.select("k").distinct().collect().map(_.getInt(0))
    assert(keys.toSeq == Seq(2))
    // single position + drop=true removes the dimension
    val dropped = c.q(dim("one").at(2))
    assert(!dropped.dimensions.contains("one"))
    // multiple positions keep it
    val kept = c.q(dim("one").at(1, 3))
    assert(kept.dimensions.contains("one"))
    val ks = kept.fact.data.select("k").distinct()
      .collect().map(_.getInt(0)).sorted
    assert(ks.toSeq == Seq(1, 3))
  }

  test("degenerate cubes: zero id.vars is a grand-total scalar cube") {
    import spark.implicits._
    val fact = Seq((1, 2.0), (2, 3.0)).toDF("k", "v")
    // no dimension matches the fact key -> key dropped, 0-dim cube
    val cube = DataCube.build(
      Fact.build(fact, Seq.empty, Seq(Measure.sum("v", "sum_v"))), Seq.empty)
    assert(cube.dimensions.isEmpty)
    assert(cube.fact.data.count() == 1)
    assert(cube.fact.data.head().getDouble(0) == 5.0)
  }

  test("na.rm=FALSE poison semantics (SURVEY §7.3)") {
    import spark.implicits._
    val df = Seq(("a", Some(1.0)), ("a", None), ("b", Some(2.0)))
      .toDF("g", "v")
    val m = Measure("v", "s", Measure.naPoison(c => sum(c)))
    val r = df.groupBy("g").agg(m.expr).orderBy("g").collect()
    assert(r(0).isNullAt(1)) // a poisoned by the null
    assert(r(1).getDouble(1) == 2.0)
  }

  test("fromStar (as.data.cube.list) equals the cube built from its parts") {
    import graft.builders.Tpch
    val raw = Tpch.factInput(spark, sfDir)
    val ids = Seq("p_partkey", "s_suppkey")
    val dims = Seq(
      ("part", "p_partkey", ListMap("product" -> Hierarchy(
        "p_type" -> Seq.empty, "p_partkey" -> Seq("p_name"))),
        Tpch.table(spark, sfDir, "part")),
      ("supplier", "s_suppkey", ListMap("s" -> Hierarchy(
        "s_nationkey" -> Seq.empty, "s_suppkey" -> Seq("s_name"))),
        Tpch.table(spark, sfDir, "supplier")))
    val star = DataCube.fromStar(raw, ids, Tpch.measures, dims)
    val parts = DataCube.build(Fact.build(raw, ids, Tpch.measures),
      dims.map { case (n, k, hs, df) => Dimension.build(n, k, hs, df) })
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    assert(rows(star.fact.data) == rows(parts.fact.data))
    assert(star.dimensions.keys == parts.dimensions.keys)
    star.dimensions.keys.foreach { n =>
      assert(rows(star.dimensions(n).denormalized) ==
        rows(parts.dimensions(n).denormalized), n)
    }
  }

  test("denormalize joins every dimension's attributes") {
    val c = miniCube
    val d = c.denormalize()
    assert(d.columns.toSet.contains("attr") && d.columns.toSet.contains("grp"))
    assert(d.count() == 3)
  }

  test("na.fill densifies with the cell budget guard") {
    val c = miniCube
    val dense = c.denormalize(naFill = true)
    // 3 k-values (in dim with fact rows: keys 1,2,3 and 4 with no fact) x 2 g
    assert(dense.count() == 8) // 4 keys x 2 g
    intercept[IllegalArgumentException] {
      c.denormalize(naFill = true, maxCells = 3)
    }
  }

  test("applyMargin accepts integer MARGIN positions (1-based id.vars, R parity)") {
    val c = miniCube
    // reference: MARGIN = X$id.vars[MARGIN] (R/data.cube.R:475-476)
    val byName = c.applyMargin(Seq("one")).fact.data.orderBy("k").collect().toSeq
    val byPos = c.applyMargin(Seq(1)).fact.data.orderBy("k").collect().toSeq
    assert(byPos == byName, "integer MARGIN diverged from the name form")
    val bothName = c.applyMargin(Seq("one", "two")).fact.data
      .orderBy("k", "g").collect().toSeq
    val bothPos = c.applyMargin(Seq(1, 2)).fact.data
      .orderBy("k", "g").collect().toSeq
    assert(bothPos == bothName)
    // FUN rebinding threads through the integer form too
    val mx: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      org.apache.spark.sql.functions.max(_)
    val rebound = c.applyMargin(Seq(1), Some(mx))
      .fact.data.orderBy("k").collect().toSeq
    val reboundName = c.applyMargin(Seq("one"), Some(mx))
      .fact.data.orderBy("k").collect().toSeq
    assert(rebound == reboundName)
    intercept[IllegalArgumentException](c.applyMargin(Seq(0)))
    intercept[IllegalArgumentException](c.applyMargin(Seq(3)))
  }

  test("print banner matches the reference's shape (print.data.cube)") {
    // golden structure pin mirroring the reference's own print test
    // (tests/tests-data.cube.R:35-41: line 1 "<data.cube>", line 2 "fact:",
    // line 4 "dimensions:", fixed line count); sizes are Catalyst
    // estimates, so the MB fields are shape-checked, not value-pinned
    val lines = miniCube.banner().linesIterator.toSeq
    assert(lines.length == 7, s"banner had ${lines.length} lines:\n${lines.mkString("\n")}")
    assert(lines(0) == "<data.cube>")
    assert(lines(1) == "fact:")
    assert(lines(2).matches("""  3 rows x 2 dimensions x 1 measures \(\d+\.\d\d MB\)"""),
      s"fact line: '${lines(2)}'")
    assert(lines(3) == "dimensions:")
    assert(lines(4).matches("""  one : 4 entities x 2 levels \(\d+\.\d\d MB\)"""),
      s"dim line: '${lines(4)}'")
    assert(lines(5).matches("""  two : 2 entities x 2 levels \(\d+\.\d\d MB\)"""),
      s"dim line: '${lines(5)}'")
    assert(lines(6).matches("""total size: \d+\.\d\d MB"""), s"total line: '${lines(6)}'")
  }

  test("semi-additive lastBy/firstBy pick deterministically under order ties") {
    import spark.implicits._
    val readings = Seq(
      (1L, 10L, 1L, 5.0), (1L, 10L, 2L, 7.0), // exact ts tie -> id breaks it
      (1L, 20L, 3L, 2.0),
      (2L, 15L, 4L, 9.0)
    ).toDF("user", "t", "id", "v")
    val got = Fact.aggregate(readings, Seq("user"), Seq(
        Measure.lastBy("v", "closing", struct(col("t"), col("id"))),
        Measure.firstBy("v", "opening", struct(col("t"), col("id")))))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(got == Map(1L -> ((2.0, 5.0)), 2L -> ((9.0, 9.0))),
      s"semi-additive picks wrong: $got")
    // the two-stage semi-additive contract: last per (user, period), then
    // additive across users — never a window
    val monthly = Fact.aggregate(
      Fact.aggregate(readings.withColumn("p", lit("m1")), Seq("user", "p"),
        Seq(Measure.lastBy("v", "bal", struct(col("t"), col("id"))))),
      Seq("p"), Seq(Measure.sum("bal", "total")))
      .collect().map(_.getDouble(1))
    assert(monthly.toSeq == Seq(11.0)) // 2.0 (user 1 closing) + 9.0
  }

  test("timeIntelligence running totals, lags, and guards") {
    import spark.implicits._
    val fact = Seq((1, "a", 10.0), (2, "a", 5.0), (3, "a", 7.0),
      (1, "b", 1.0)).toDF("t", "g", "v")
    val cube = DataCube.build(
      Fact.build(fact, Seq("t", "g"), Seq(Measure.sum("v", "sum_v"))),
      Seq(
        Dimension.build("time", "t", ListMap.empty, fact.select("t").distinct()),
        Dimension.build("grp", "g", ListMap.empty, fact.select("g").distinct())))
    val out = cube.timeIntelligence("t").collect()
      .map(r => (r.getInt(r.fieldIndex("t")), r.getString(r.fieldIndex("g"))) ->
        (r.getDouble(r.fieldIndex("cum_sum_v")),
          Option(r.get(r.fieldIndex("prev_sum_v"))),
          Option(r.get(r.fieldIndex("delta_sum_v"))))).toMap
    assert(out((1, "a")) == ((10.0, None, None)))
    assert(out((2, "a")) == ((15.0, Some(10.0), Some(-5.0))))
    assert(out((3, "a")) == ((22.0, Some(5.0), Some(2.0))))
    assert(out((1, "b")) == ((1.0, None, None))) // series are independent
    // single-series cube: the order key is the only id.var
    val solo = DataCube.build(
      Fact.build(fact, Seq("t"), Seq(Measure.sum("v", "sum_v"))),
      Seq(Dimension.build("time", "t", ListMap.empty, fact.select("t").distinct())))
    val cum = solo.timeIntelligence("t").orderBy("t")
      .select("cum_sum_v").collect().map(_.getDouble(0)).toSeq
    assert(cum == Seq(11.0, 16.0, 23.0))
    intercept[IllegalArgumentException] { cube.timeIntelligence("nope") }
    intercept[IllegalArgumentException] { cube.timeIntelligence("t", periods = 0) }
  }

  test("shareAlong and topKOther reporting semantics") {
    import spark.implicits._
    val fact = Seq(
      ("y1", "a", 6.0), ("y1", "b", 3.0), ("y1", "c", 1.0), ("y1", "d", 0.0),
      ("y2", "a", 0.0), ("y2", "b", 0.0) // zero-total parent group
    ).toDF("y", "p", "v")
    val cube = DataCube.build(
      Fact.build(fact, Seq("y", "p"), Seq(Measure.sum("v", "sum_v"))),
      Seq(
        Dimension.build("year", "y", ListMap.empty, fact.select("y").distinct()),
        Dimension.build("prio", "p", ListMap.empty, fact.select("p").distinct())))
    val shares = cube.shareAlong("p").collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        Option(r.get(r.fieldIndex("share_sum_v")))).toMap
    assert(shares(("y1", "a")) == Some(0.6) && shares(("y1", "c")) == Some(0.1))
    // zero parent total -> NULL share, not NaN/zero
    assert(shares(("y2", "a")).isEmpty && shares(("y2", "b")).isEmpty)
    val top = cube.topKOther("p", k = 2, rankMeasure = "sum_v").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    // y1: a,b kept; c+d collapse into OTHER; y2 has only 2 members -> no OTHER
    assert(top == Map(
      ("y1", "a") -> 6.0, ("y1", "b") -> 3.0, ("y1", "OTHER") -> 1.0,
      ("y2", "a") -> 0.0, ("y2", "b") -> 0.0), s"topKOther wrong: $top")
    intercept[IllegalArgumentException] { cube.shareAlong("nope") }
    intercept[IllegalArgumentException] { cube.topKOther("p", 0, "sum_v") }
    intercept[IllegalArgumentException] { cube.topKOther("p", 2, "nope") }
  }

  test("drillAcross merges conformed cubes, keeps one-sided cells as NULL") {
    import spark.implicits._
    val dim = Dimension.build("one", "k",
      ListMap("h" -> Hierarchy("attr" -> Seq.empty, "k" -> Seq.empty)),
      Seq((1, "x"), (2, "y"), (3, "y")).toDF("k", "attr"))
    val sales = DataCube.build(
      Fact.build(Seq((1, 10.0), (1, 5.0), (2, 7.0)).toDF("k", "v"),
        Seq("k"), Seq(Measure.sum("v", "sum_sales"))),
      Seq(dim))
    val returns = DataCube.build(
      Fact.build(Seq((2, 1.0), (3, 4.0)).toDF("k", "v"),
        Seq("k"), Seq(Measure.sum("v", "sum_returns"))),
      Seq(dim))
    val merged = sales.drillAcross(returns)
    val rows = merged.fact.data.collect()
      .map(r => r.getInt(0) -> (Option(r.get(1)), Option(r.get(2)))).toMap
    // k=1 sales-only, k=3 returns-only: the absent side stays NULL
    assert(rows == Map(
      1 -> ((Some(15.0), None)),
      2 -> ((Some(7.0), Some(1.0))),
      3 -> ((None, Some(4.0)))))
    // the conformed dimension still answers attribute queries: attr=y
    // covers k=2,3 and the NULL sales of k=3 must not poison the sum
    val byAttr = merged.aggregate(Seq("attr")).fact.data.collect()
      .map(r => r.getString(0) -> (r.get(1), r.get(2))).toMap
    assert(byAttr("y") == ((7.0, 5.0)) && byAttr("x") == ((15.0, null)))
    // measure name collision is refused
    intercept[IllegalArgumentException] {
      sales.drillAcross(DataCube.build(
        Fact.build(Seq((1, 1.0)).toDF("k", "v"),
          Seq("k"), Seq(Measure.sum("v", "sum_sales"))), Seq(dim)))
    }
    // no conformed dimension -> refused
    intercept[IllegalArgumentException] {
      sales.drillAcross(DataCube.build(
        Fact.build(Seq(("a", 1.0)).toDF("g", "v"),
          Seq("g"), Seq(Measure.sum("v", "m2"))),
        Seq(Dimension.build("other", "g", ListMap.empty,
          Seq(("a", "A")).toDF("g", "grp")))))
    }
  }

  test("a key carrying two level-key values keeps one base row: no fan-out") {
    import spark.implicits._
    // key 1 is listed under two groups: the reference's unique(key + level
    // keys) would keep both rows and double key 1's measures in every join
    val flat = Seq((1, "x"), (1, "w"), (2, "y"), (3, "y")).toDF("k", "attr")
    val dim = Dimension.build("one", "k",
      ListMap("h" -> Hierarchy("attr" -> Seq.empty, "k" -> Seq.empty)), flat)
    assert(dim.data.count() == 3)
    assert(dim.data.groupBy("k").count().filter(col("count") > 1).count() == 0)
    assert(dim.denormalized.count() == 3)
    val c = DataCube.build(
      Fact.build(Seq((1, 10.0), (2, 7.0), (3, 2.0)).toDF("k", "v"),
        Seq("k"), Seq(Measure.sum("v", "sum_v"))),
      Seq(dim))
    assert(c.denormalize().count() == c.fact.data.count())
    val total = c.aggregate(Seq.empty).fact.data.collect().head.getDouble(0)
    assert(total == 19.0)
    val byAttr = c.aggregate(Seq("attr")).fact.data.agg(sum("sum_v")).head.getDouble(0)
    assert(byAttr == total, "grouping by a level key fanned key 1 out")
  }

  test("dimension subset returns the keys of a plain SQL filter over the flat input") {
    val dir = sfDir
    val part = builders.Tpch.partDim(spark, dir)
    val supplier = builders.Tpch.supplierDim(spark, dir)
    val partFlat = builders.Tpch.table(spark, dir, "part")
    val supFlat = builders.Tpch.table(spark, dir, "supplier")
      .join(builders.Tpch.table(spark, dir, "nation"),
        col("s_nationkey") === col("n_nationkey"))
      .join(builders.Tpch.table(spark, dir, "region"),
        col("n_regionkey") === col("r_regionkey"))
    def keys(d: Dimension): Set[Any] =
      d.keyValues.collect().map(_.get(0)).toSet
    def sqlKeys(flat: org.apache.spark.sql.DataFrame, key: String,
                where: String): Set[Any] =
      flat.where(where).select(key).distinct().collect().map(_.get(0)).toSet
    def firstValues(df: org.apache.spark.sql.DataFrame, c: String, n: Int): Seq[String] =
      df.select(c).distinct().orderBy(c).limit(n).collect().map(_.getString(0)).toSeq
    def inList(vs: Seq[String]) = vs.map(v => s"'$v'").mkString(", ")

    // a property of the key level
    val names = firstValues(partFlat, "p_name", 3)
    val byName = keys(part.subset(Map("p_name" -> names)))
    assert(byName.nonEmpty)
    assert(byName == sqlKeys(partFlat, "p_partkey", s"p_name IN (${inList(names)})"))
    val sNames = firstValues(supFlat, "s_name", 2)
    assert(keys(supplier.subset(Map("s_name" -> sNames))) ==
      sqlKeys(supFlat, "s_suppkey", s"s_name IN (${inList(sNames)})"))

    // two levels at once: AND across the levels
    val brands = firstValues(partFlat, "p_brand", 5)
    val types = firstValues(partFlat, "p_type", 40)
    val both = keys(part.subset(Map("p_brand" -> brands, "p_type" -> types)))
    assert(both.nonEmpty)
    assert(both == sqlKeys(partFlat, "p_partkey",
      s"p_brand IN (${inList(brands)}) AND p_type IN (${inList(types)})"))
    val regions = firstValues(supFlat, "r_name", 2)
    val geo = keys(supplier.subset(Map("r_name" -> regions, "s_name" -> sNames)))
    assert(geo.nonEmpty)
    assert(geo == sqlKeys(supFlat, "s_suppkey",
      s"r_name IN (${inList(regions)}) AND s_name IN (${inList(sNames)})"))

    // an empty value list is constant-false
    assert(keys(part.subset(Map("p_name" -> Seq.empty))).isEmpty)
    assert(keys(supplier.subset(Map("r_name" -> Seq.empty, "s_name" -> sNames))).isEmpty)
  }
}
