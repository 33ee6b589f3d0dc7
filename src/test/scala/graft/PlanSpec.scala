package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.builders.Tpch
import graft.query.dsl._

/** Physical-plan shape guards: the properties that keep the engine fast at
  * scale must survive refactors — dimension joins stay broadcast (no
  * sort-merge join on the fact path), filters reach the parquet scan,
  * aggregation is the only fact-side exchange. Asserting on plan text is
  * deliberate: a silent fallback to a shuffle join is a performance bug
  * even when results stay correct. */
class PlanSpec extends SparkSpec {

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Node class names of the plan that actually RAN: recurse into AQE's
    * final plans, materialized query stages, and cached relations — and
    * skip the conservative "Initial Plan" sections that toString includes
    * (a static SMJ that AQE upgraded at runtime is the intended posture,
    * not a regression). */
  private def runtimeNodes(p: org.apache.spark.sql.execution.SparkPlan): Seq[String] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val kids: Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec  => Seq(a.executedPlan)
      case q: QueryStageExec         => Seq(q.plan)
      case s: InMemoryTableScanExec  => Seq(s.relation.cachedPlan)
      case other                     => other.children
    }
    p.getClass.getSimpleName +: kids.flatMap(runtimeNodes)
  }

  /** All runtime plan nodes (same traversal as [[runtimeNodes]], but the
    * nodes themselves — for assertions that need more than the name). */
  private def runtimePlanNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val kids: Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec  => Seq(a.executedPlan)
      case q: QueryStageExec         => Seq(q.plan)
      case s: InMemoryTableScanExec  => Seq(s.relation.cachedPlan)
      case other                     => other.children
    }
    p +: kids.flatMap(runtimePlanNodes)
  }

  /** Runtime plan nodes OUTSIDE cached relations: like [[runtimePlanNodes]],
    * but an InMemoryTableScanExec is a leaf — what a query does itself,
    * not what filled the cache it reads. */
  private def livePlanNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val kids: Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec  => Seq(a.executedPlan)
      case q: QueryStageExec         => Seq(q.plan)
      case _: InMemoryTableScanExec  => Seq.empty
      case other                     => other.children
    }
    p +: kids.flatMap(livePlanNodes)
  }

  /** Run `body` with AQE off: AQE splits one action into per-stage jobs, so
    * a "one action is one job" count is only crisp without it. */
  private def withoutAqe[T](body: => T): T = {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try body finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  private lazy val cube = Tpch.cube(spark, sfDir)

  test("dimension joins on the query path are broadcast, never sort-merge") {
    val q = cube.q(Seq(
      dim("order").where("c_mktsegment" -> Seq("BUILDING")),
      dim("part").where("p_brand" -> Seq("Brand#1", "Brand#2"))
    ), drop = false).aggregate(Seq("p_brand", "d_year"))
    // The static plan may conservatively start sort-merge when Catalyst's
    // size estimate overshoots (the broadcast guard declines rather than
    // risk a forced-broadcast OOM); AQE must then upgrade to broadcast at
    // runtime from the REAL sizes — assert on the final adaptive plan.
    val df = q.fact.data
    df.collect()
    val nodes = runtimeNodes(df.queryExecution.executedPlan)
    assert(nodes.contains("BroadcastHashJoinExec"), "expected broadcast joins")
    assert(!nodes.contains("SortMergeJoinExec"),
      s"fact-path dimension join stayed sort-merge after AQE:\n${plan(df)}")
  }

  test("filter-only subset does not re-aggregate the fact") {
    val filtered = cube.q(Seq(
      dim("part").where("p_brand" -> Seq("Brand#1"))), drop = false)
    // grain unchanged -> Fact.subset skips the groupBy. Legit aggregates
    // remain (the ingest grain agg and the dimension build's key dedups —
    // cached or inline); a REDUNDANT re-aggregation would add
    // measure-producing HashAggregates beyond what the unfiltered fact's
    // own plan contains. Count them in both and require equality — this
    // holds with and without the cube cache.
    def measureAggs(p: String): Int =
      p.linesIterator.count(l => l.contains("HashAggregate") && l.contains("sum_qty"))
    val baseline = measureAggs(plan(cube.fact.data))
    val got = measureAggs(plan(filtered.fact.data))
    assert(got == baseline,
      s"filter-only subset added $got - $baseline measure aggregations:\n" +
        plan(filtered.fact.data))
  }

  test("raw parquet scan pushes filters and prunes columns") {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .filter(col("l_quantity") > 30)
      .select("l_orderkey", "l_quantity")
    val p = li.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)]"),
      s"filter not pushed to parquet:\n$p")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"columns not pruned at the scan:\n$p")
  }

  test("bucketed fact tables join without a shuffle") {
    import graft.io.CubeIO
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force the issue
    try {
      CubeIO.saveFactBucketed(cube, "bucketed_fact_a", "o_orderkey", 4)
      CubeIO.saveFactBucketed(cube, "bucketed_fact_b", "o_orderkey", 4)
      val a = spark.table("bucketed_fact_a")
      val b = spark.table("bucketed_fact_b").select("o_orderkey", "n")
        .groupBy("o_orderkey").agg(sum("n").as("n_b"))
      val joined = a.join(b, "o_orderkey")
      val p = joined.queryExecution.executedPlan.toString
      // same bucketing on both sides: sort-merge join with zero Exchange
      assert(!p.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$p")
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS bucketed_fact_a")
      spark.sql("DROP TABLE IF EXISTS bucketed_fact_b")
    }
  }

  test("over-threshold key sets degrade to a shuffle join, never a forced broadcast") {
    // The killer case at 100x: an order-grain dimension's key set scales
    // WITH the fact; a forced broadcast() of it would OOM every executor.
    // Joins.maybeBroadcast must leave oversized sets unhinted so Catalyst
    // plans a shuffle join instead.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "256") // 256 B x 16 slack
      val fact = spark.read.parquet(s"$sfDir/lineitem.parquet")
      // lineitem's own key set stands in for an order-grain dimension:
      // a key set that scales WITH the fact (~60k keys even at sf0.001)
      val bigKeys = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_orderkey"))
      val big = fact.join(
        graft.model.Joins.maybeBroadcast(bigKeys.distinct()), Seq("l_orderkey"), "left_semi")
      assert(!big.queryExecution.optimizedPlan.toString.contains("strategy=broadcast"),
        "over-threshold key set still carries a broadcast hint")
      val pBig = plan(big)
      assert(!pBig.contains("BroadcastHashJoin"),
        s"over-threshold key set was still force-broadcast:\n$pBig")
      // ... while a genuinely tiny key set still gets the broadcast hint
      val tinyKeys = spark.read.parquet(s"$sfDir/region.parquet")
        .select(col("r_regionkey").as("n_regionkey"))
      val nation = spark.read.parquet(s"$sfDir/nation.parquet")
      val small = nation.join(
        graft.model.Joins.maybeBroadcast(tinyKeys.distinct()), Seq("n_regionkey"), "left_semi")
      assert(small.queryExecution.optimizedPlan.toString.contains("strategy=broadcast"),
        "under-threshold key set lost its broadcast hint")
      val pSmall = plan(small)
      assert(pSmall.contains("BroadcastHashJoin"),
        s"under-threshold key set lost its broadcast join:\n$pSmall")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("grouping-sets attribute projections degrade to shuffle joins over threshold") {
    // The killer case for the grouping-sets family: the order dimension is
    // keyed by o_orderkey and scales WITH the fact, so a rollup over one of
    // its attributes joins an order-grain projection into the fact. A forced
    // broadcast() there OOMs every executor at 100x — the hint must be
    // size-guarded like every other dimension join.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "256")
      val flat = graft.model.GroupingSets.denormFor(cube, Seq("c_mktsegment"))
      assert(!flat.queryExecution.optimizedPlan.toString.contains("strategy=broadcast"),
        "over-threshold grouping-sets projection still carries a forced broadcast hint")
      // ... and the full rollup stays correct on the shuffle-join plan
      val r = cube.rollupFlat(Seq("c_mktsegment"))
        .orderBy("level", "c_mktsegment").collect().toSeq
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      val ref = cube.rollupFlat(Seq("c_mktsegment"))
        .orderBy("level", "c_mktsegment").collect().toSeq
      assert(r == ref, "degraded rollup plan changed results")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("no unguarded broadcast() call sites outside the allowed list") {
    // Policy pin for the 100 TB posture: every broadcast() in main source is
    // either routed through Joins.maybeBroadcast (size-guarded) or on the
    // explicit allowlist of provably-small sides (25-row nation / 5-row
    // region constants; query-side broadcasts whose public contract bounds
    // the size). A new raw broadcast() must be justified here.
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val allowed = Set(
      "graft/model/Joins.scala",        // the guard itself
      "graft/builders/Tpch.scala",      // nation/region constants (audited)
      "graft/operators/Similarity.scala", // query side small by contract
      // frequentTerms candidate semi-join: the broadcast side is the
      // driver-materialized Misra-Gries candidate set, ≤ k strings by
      // the sketch's bound (k is the caller's memory budget) — audited
      "graft/operators/Corpus.scala",
      // exactOov segmentation: sparkContext.broadcast of the trained
      // BpeModel (merges + ≤ maxDictWords segment map — bounded by the
      // caller's dictionary budget, the same contract that bounds the
      // dictionary segmentTable itself) — audited
      "graft/operators/Bpe.scala"
    )
    val root = Paths.get("src/main/scala")
    val offenders = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filterNot(p => allowed.exists(a => p.toString.endsWith(a)))
      .filter(p => new String(Files.readAllBytes(p)).contains("broadcast("))
      .map(_.toString).toList
    assert(offenders.isEmpty,
      s"unguarded broadcast() call sites outside the allowlist: $offenders")
  }

  test("sessions, environment reads and session-keyed caches each live in one place") {
    // Every main runs GraftSession's config; library code takes its
    // settings from the session, not the process environment; a build-once
    // cache keyed by session goes through SessionMemo's eviction protocol.
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala")
    val sources = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    def containing(needle: String, in: Seq[Path] = sources): List[String] =
      in.filter(p => new String(Files.readAllBytes(p)).contains(needle))
        .map(p => root.relativize(p).toString).toList.sorted
    assert(containing("SparkSession.builder") == List("graft/util/GraftSession.scala"))
    val library = Seq("model", "operators", "queries", "builders", "functions",
      "io", "streaming", "sources", "query", "util")
      .map(d => root.resolve("graft").resolve(d))
    assert(containing("sys.env", sources.filter(p => library.exists(p.startsWith))) == Nil)
    assert(containing("ConcurrentHashMap[(SparkSession") ==
      List("graft/util/SessionMemo.scala"))
  }

  /** Scala source with its comments and string literals blanked out
    * (newlines kept, so line numbers hold). The `$name` and `${...}`
    * parts of an interpolated string stay: they are code. A lexer for a
    * word census, not a compiler — nested block comments are not
    * tracked. */
  private def code(src: String): String = {
    val out = new StringBuilder
    var i = 0
    def skipTo(end: Int): Unit = {
      out ++= src.substring(i, end).filter(_ == '\n')
      i = end
    }
    def endOf(found: Int, width: Int): Int =
      if (found < 0) src.length else found + width
    while (i < src.length) {
      val c = src(i)
      if (src.startsWith("//", i)) skipTo(endOf(src.indexOf('\n', i), 0))
      else if (src.startsWith("/*", i)) skipTo(endOf(src.indexOf("*/", i + 2), 2))
      else if (c == '"') {
        val interpolated = i > 0 && Character.isLetter(src(i - 1))
        val quote = if (src.startsWith("\"\"\"", i)) "\"\"\"" else "\""
        i += quote.length
        while (i < src.length && !src.startsWith(quote, i)) {
          if (quote == "\"" && src(i) == '\\') i += 2
          else if (interpolated && src.startsWith("$$", i)) i += 2
          else if (interpolated && src.startsWith("${", i)) {
            var depth = 1
            var j = i + 2
            while (j < src.length && depth > 0) {
              if (src(j) == '{') depth += 1 else if (src(j) == '}') depth -= 1
              j += 1
            }
            out ++= " " + src.substring(i + 2, j - 1) + " "
            i = j
          } else if (interpolated && src(i) == '$') {
            var j = i + 1
            while (j < src.length && Character.isJavaIdentifierPart(src(j))) j += 1
            out ++= " " + src.substring(i + 1, j) + " "
            i = j
          } else {
            if (src(i) == '\n') out += '\n'
            i += 1
          }
        }
        i += quote.length
        while (quote.length == 3 && i < src.length && src(i) == '"') i += 1
        out += ' '
      } else if (c == '\'' && i + 2 < src.length && src(i + 2) == '\'') {
        out += ' '; i += 3
      } else if (c == '\'' && i + 1 < src.length && src(i + 1) == '\\') {
        out += ' '; i = endOf(src.indexOf('\'', i + 3), 1)
      } else { out += c; i += 1 }
    }
    out.toString
  }

  test("every public library def is reached by main code, perfbench or COVERAGE") {
    // A public def in a library package stays only while something names
    // it: the code (not a comment or a string) of another line of main
    // source or of the perfbench harness, or a COVERAGE.md row that keeps
    // it as a component. Spec-only surface is either inlined into its
    // spec or listed in COVERAGE. A word match is enough — this is a
    // guard, not a call graph.
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    def scalaFiles(dir: String): List[Path] =
      Files.walk(Paths.get(dir)).iterator().asScala
        .filter(_.toString.endsWith(".scala")).toList
    def read(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")
    val word = "\\w+".r
    def words(s: String): Iterator[String] = word.findAllIn(s)
    val mainText = scalaFiles("src/main/scala").map(p => p -> code(read(p)))
    val inMain = mainText.flatMap(t => words(t._2)).groupBy(identity)
      .map { case (w, ws) => w -> ws.size }
    val elsewhere = (scalaFiles("perfbench/src").map(p => code(read(p))) :+
      read(Paths.get("COVERAGE.md"))).flatMap(words).toSet
    val library = Set("model", "operators", "streaming", "io", "functions",
      "sources", "builders", "query", "util")
    val publicDef = """^\s*(?:final\s+|implicit\s+)*def\s+(\w+)""".r
    val unreached = for {
      (p, text) <- mainText if library(p.getParent.getFileName.toString)
      (line, n) <- text.split("\n").toList.zipWithIndex
      name <- publicDef.findFirstMatchIn(line).map(_.group(1))
      if inMain(name) == words(line).count(_ == name) && !elsewhere(name)
    } yield s"${p.getFileName}:${n + 1} $name"
    assert(unreached.isEmpty,
      s"public defs nothing in main, perfbench or COVERAGE.md names: $unreached")
  }

  test("queries stay correct when the broadcast policy degrades to shuffle joins") {
    import graft.query.dsl._
    val reference = cube.q(Seq(
      dim("order").where("c_mktsegment" -> Seq("BUILDING"))), drop = false)
      .aggregate(Seq("d_year")).fact.data.orderBy("d_year").collect().toSeq
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1024")
      val degraded = cube.q(Seq(
        dim("order").where("c_mktsegment" -> Seq("BUILDING"))), drop = false)
        .aggregate(Seq("d_year")).fact.data.orderBy("d_year").collect().toSeq
      assert(degraded == reference,
        "shuffle-join plan produced different results than the broadcast plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("composing a filtered non-key slice runs zero Spark jobs") {
    val c = cube // memoized build's jobs happen before the listener attaches
    c.fact.data.count() // force the cache fill outside the measured window
    val jobs = jobsDuring {
      // attribute (non-key) filter with drop=true: the old code ran a
      // limit(2).count() job here to decide the drop
      val q = c.q(dim("part").where("p_brand" -> Seq("Brand#1")))
      assert(q.dimensions.contains("part"))
    }
    assert(jobs == 0, s"query composition ran $jobs Spark job(s); must be zero")
  }

  test("broadcast size estimates are memoized per distinct dimension plan") {
    import graft.model.Joins
    val c = cube
    def compose(): Unit = {
      c.q(Seq(
        dim("order").where("c_mktsegment" -> Seq("BUILDING")),
        dim("part").where("p_brand" -> Seq("Brand#1"))
      ), drop = false).aggregate(Seq("p_brand", "d_year")): Unit
    }
    compose() // first composition pays the optimizer once per distinct plan
    val before = Joins.statsEvals.get()
    compose() // identical chained composition must hit the estimate cache
    val after = Joins.statsEvals.get()
    assert(after == before,
      s"re-composing an identical query re-ran ${after - before} driver-side " +
        "optimizer stats evaluations; estimates must be memoized per distinct plan")
  }

  test("naFill cell-budget guard runs ONE job, not one per dimension") {
    val c = cube
    // cache fills outside the measured window: a cold cached dimension
    // materializes through its own (AQE) jobs inside the guard's collect
    Tpch.warm(spark, sfDir)
    val jobs = withoutAqe(jobsDuring {
      // tiny budget: the guard's count job runs, then the require rejects —
      // so every job counted here belongs to the guard itself
      intercept[IllegalArgumentException] {
        c.denormalize(naFill = true, maxCells = 3)
      }
    })
    assert(jobs == 1, s"cell-budget guard ran $jobs jobs; must be one unioned count job")
  }

  test("dimCardinalities runs ONE job, not one per dimension") {
    val c = cube
    Tpch.warm(spark, sfDir)
    var cards = Map.empty[String, Long]
    val jobs = withoutAqe(jobsDuring { cards = c.dimCardinalities })
    assert(jobs == 1, s"dimCardinalities ran $jobs jobs; must be one unioned count job")
    assert(cards.keys.toSeq == c.dimensions.keys.toSeq) // dimension order
    c.dimensions.foreach { case (n, d) =>
      assert(cards(n) == d.data.select(d.key).distinct().count(), s"cardinality of $n")
    }
  }

  test("star requests on the warmed cube: the dimension side is a filter over cached tables") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, Exchange, ShuffleExchangeExec}
    val c = cube
    Tpch.warm(spark, sfDir)
    def live(df: DataFrame) = livePlanNodes(df.queryExecution.executedPlan)
    def assertNoParquet(df: DataFrame): Unit = {
      val scans = live(df).collect { case s: FileSourceScanExec => s }
      assert(scans.isEmpty,
        s"request re-read parquet outside the cube caches:\n${plan(df)}")
    }
    val sliced = c.q(Seq(
      dim("order").where("c_mktsegment" -> Seq("BUILDING")),
      dim("part").where("p_brand" -> Seq("Brand#1", "Brand#2"))
    ), drop = false).aggregate(Seq("p_brand", "d_year")).fact.data
    // key-unique dimensions: no dedup job before any semi-join or lookup
    // join, so the run is one job per broadcast (order keys, part keys,
    // p_brand lookup, d_year lookup), the partial aggregation's shuffle
    // stage, and the result stage
    val jobs = jobsDuring(sliced.collect(): Unit)
    assert(jobs == 6, s"slice + aggregate ran $jobs jobs; expected 6")
    val nodes = live(sliced)
    val hashShuffles = nodes.collect {
      case s: ShuffleExchangeExec if s.outputPartitioning.isInstanceOf[HashPartitioning] => s
    }
    assert(hashShuffles.size == 1,
      s"expected exactly the fact aggregation's shuffle, got ${hashShuffles.size}:\n${plan(sliced)}")
    nodes.collect { case b: BroadcastExchangeExec => b }.foreach { b =>
      assert(!livePlanNodes(b.child).exists(_.isInstanceOf[Exchange]),
        s"dimension side shuffles before its broadcast:\n$b")
    }
    assertNoParquet(sliced)
    // the sliced dimensions' denormalized tables are filters over the
    // persisted ones, so denormalize reads no level table from parquet
    val denorm = c.q(Seq(
      dim("part").where("p_brand" -> Seq("Brand#1")),
      dim("supplier").where("r_name" -> Seq("ASIA"))
    ), drop = false).denormalize()
    denorm.collect()
    assertNoParquet(denorm)
  }

  test("partitioned star fact prunes partitions at the scan on a time slice") {
    import graft.io.CubeIO
    val dir = java.nio.file.Files.createTempDirectory("star_part").toString
    CubeIO.saveStar(cube, dir, partitionFact = Seq("d_date"))
    val loaded = CubeIO.loadStar(spark, dir)
    // a day slice must prune whole directories at the scan, not filter rows
    val day = loaded.fact.data
      .filter(col("d_date") === java.sql.Date.valueOf("1995-06-17"))
    val scan = day.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: ["),
      s"no partition filters at the scan:\n$scan")
    assert(scan.matches("(?s).*PartitionFilters: \\[[^\\]]*d_date[^\\]]*\\].*"),
      s"d_date slice did not reach PartitionFilters:\n$scan")
    // and the partitioned round-trip preserves the data
    val a = cube.fact.data.agg(sum("sum_qty")).head().getDouble(0)
    val b = loaded.fact.data.agg(sum("sum_qty")).head().getDouble(0)
    assert(math.abs(a - b) < 1e-6, "partitioned fact lost rows")
    // non-partition columns must not leak into the id.vars guard
    intercept[IllegalArgumentException] {
      CubeIO.saveStar(cube, dir, partitionFact = Seq("not_a_key"))
    }
  }

  test("rollup is one Expand pass, not a union of aggregations") {
    val r = cube.rollupFlat(Seq("d_year", "d_quarter", "d_month"))
    val p = plan(r)
    assert(p.contains("Expand"), "expected native Expand for grouping sets")
    assert(!p.contains("Union"), s"rollup fell back to union-all:\n$p")
  }

  test("salted join equals the plain join and salts the join keys") {
    import graft.model.Joins
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_partkey").as("p_partkey"), col("l_orderkey"),
        col("l_linenumber"), col("l_quantity"))
    val part = spark.read.parquet(s"$sfDir/part.parquet")
      .select("p_partkey", "p_brand")
    val salted = Joins.saltedJoin(li, part, "p_partkey", salts = 4,
      saltSource = struct(col("l_orderkey"), col("l_linenumber")))
      .groupBy("p_brand").agg(sum("l_quantity").as("q"), count("*").as("n"))
    val plain = li.join(part, "p_partkey")
      .groupBy("p_brand").agg(sum("l_quantity").as("q"), count("*").as("n"))
    val a = salted.collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    val b = plain.collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    assert(a == b, "salting must not change join semantics")
    // the salt column must reach the join condition (that's the whole
    // point — each key group splits across `salts` sub-keys)
    val joined = Joins.saltedJoin(li, part, "p_partkey", salts = 4,
      saltSource = struct(col("l_orderkey"), col("l_linenumber")))
    assert(joined.queryExecution.optimizedPlan.toString.contains("__salt"),
      "salt key missing from the join")
    // deterministic: same salts on re-evaluation (task-retry safety)
    val s1 = Joins.saltedJoin(li, part, "p_partkey", 4,
      struct(col("l_orderkey"), col("l_linenumber"))).count()
    val s2 = Joins.saltedJoin(li, part, "p_partkey", 4,
      struct(col("l_orderkey"), col("l_linenumber"))).count()
    assert(s1 == s2)
  }

  test("sequence packing is one shard-keyed shuffle, never a global window") {
    import graft.operators.Packing
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val packed = Packing.packByBudget(d, "doc_id",
      graft.functions.TextFunctions.nTokens(col("text")), 512, "source")
    val nodes = runtimeNodes(packed.queryExecution.executedPlan)
    assert(nodes.count(_.contains("Exchange")) <= 1,
      s"packing should shuffle once on the shard key:\n$nodes")
    // the exchange must partition on the SHARD, not a single partition
    // (an unpartitioned window funnels the corpus through one task)
    val planStr = packed.queryExecution.executedPlan.toString
    assert(!planStr.contains("SinglePartition"),
      s"packing plan funnels through one task:\n$planStr")
  }

  test("token chunking is shuffle-free: pure per-row explode, no Exchange") {
    import graft.operators.Chunking
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val chunks = Chunking.chunkFingerprints(d, "doc_id", "text",
      width = 64, stride = 48)
    val nodes = runtimeNodes(chunks.queryExecution.executedPlan)
    assert(!nodes.exists(_.contains("Exchange")),
      s"chunking must be embarrassingly parallel (no shuffle):\n$nodes")
  }

  test("per-document operators are one projection: one job, no Exchange") {
    import graft.operators.{Dedup, Quality}
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    Seq("repetitionReport" -> Quality.repetitionReport(d, "doc_id", "text"),
      "removeRepeatedLines" -> Dedup.removeRepeatedLines(d, "doc_id", "text"))
      .foreach { case (name, df) =>
        val counted = withoutAqe(jobsDuring(df.count(): Unit))
        assert(counted == 1, s"$name.count() ran $counted jobs; expected 1")
        val collected = jobsDuring(df.collect(): Unit)
        assert(collected == 1, s"$name.collect() ran $collected jobs; expected 1")
        val nodes = runtimeNodes(df.queryExecution.executedPlan)
        assert(!nodes.exists(_.contains("Exchange")),
          s"$name must not shuffle:\n${plan(df)}")
      }
    // the repetition struct is evaluated once per row, not inlined into
    // each of the fraction columns that read it
    val rep = Quality.repetitionReport(d, "doc_id", "text")
    assert(plan(rep).split("repetition_stats\\(").length == 2,
      s"repetition_stats must appear exactly once:\n${plan(rep)}")
  }

  test("v4 chain: the language + Gopher gate + line-fix stage materializes in one job") {
    graft.queries.ExtensionQueries.invalidateV4(spark, sfDir)
    val jobs = jobsDuring(graft.queries.ExtensionQueries.warmV4(spark, sfDir),
      description = "v4: lang+gopher+lines")
    assert(jobs == 1, s"the v4 fixed stage ran $jobs jobs; expected 1")
  }

  /** Fixture-generation-robust events reader (same as the query layer). */
  private def eventsDf = graft.sources.Sources.readEvents(spark, sfDir)

  test("attribution is a hash/merge equi-join on the user key, never nested-loop") {
    import graft.operators.Events
    val ev = eventsDf
    val attr = Events.attribution(ev, "view", "purchase", "30 minutes")
    attr.count() // materialize so AQE finalizes the runtime plan
    val nodes = runtimeNodes(attr.queryExecution.executedPlan)
    // the time bound must ride the user-keyed equi-join as a post-filter;
    // a nested-loop/cartesian here is quadratic in per-user activity
    assert(!nodes.exists(n => n.contains("BroadcastNestedLoopJoin") ||
        n.contains("CartesianProduct")),
      s"attribution degenerated to an all-pairs join:\n$nodes")
  }

  test("as-of join shuffles once on the key, never a global window") {
    import graft.operators.Events
    import org.apache.spark.sql.functions.col
    val ev = eventsDf
    val left = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val right = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id").as("rid"))
    val out = Events.asofJoin(left, right, Seq("user_id"), "ts", Seq("rid"))
    out.count()
    val nodes = runtimeNodes(out.queryExecution.executedPlan)
    assert(nodes.count(_.contains("Exchange")) <= 1,
      s"as-of join should shuffle once on the key:\n$nodes")
    val planStr = out.queryExecution.executedPlan.toString
    assert(!planStr.contains("SinglePartition"),
      s"as-of join funnels through one task:\n$planStr")
    assert(!nodes.exists(n => n.contains("BroadcastNestedLoopJoin") ||
        n.contains("CartesianProduct")),
      s"as-of join degenerated to an all-pairs join:\n$nodes")
  }

  test("range join is a bucket equi-join, never nested-loop — even unhinted") {
    import graft.model.Joins
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val bands = Seq(("low", 0.0, 15.0), ("mid", 10.0, 30.0), ("high", 25.0, 51.0))
      .toDF("band", "lo", "hi")
    val j = Joins.rangeJoin(li, bands, "l_quantity", "lo", "hi", 5.0)
    j.count()
    val nodes = runtimeNodes(j.queryExecution.executedPlan)
    assert(!nodes.exists(n => n.contains("BroadcastNestedLoopJoin") ||
        n.contains("CartesianProduct")),
      s"range join degenerated to an all-pairs join:\n$nodes")
    // the residual [lo, hi) check must ride the join, not vanish: a row
    // in a shared bucket but outside the band is filtered
    assert(j.filter(col("l_quantity") < col("lo") ||
      col("l_quantity") >= col("hi")).count() == 0)
  }

  test("trailing-count window shuffles once on the key, never a global sort") {
    import graft.operators.Events
    val ev = eventsDf
    val rate = Events.trailingCount(ev, widthSeconds = 3600)
    val nodes = runtimeNodes(rate.queryExecution.executedPlan)
    assert(nodes.count(_.contains("Exchange")) <= 1,
      s"trailing count should shuffle once on the partition key:\n$nodes")
    val planStr = rate.queryExecution.executedPlan.toString
    assert(!planStr.contains("SinglePartition"),
      s"trailing count funnels through one task:\n$planStr")
  }

  test("skew report surfaces the hot key via TakeOrdered, not a global sort") {
    import spark.implicits._
    // planted skew: key 777 holds 60 of 100 rows
    val d = (Seq.fill(60)(777L) ++ (1L to 40L)).zipWithIndex
      .map { case (k, i) => (k, i.toLong) }.toDF("key_col", "payload")
    val rep = graft.model.Joins.skewReport(d, "key_col", k = 3)
    val rows = rep.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.head == ((1, 777L, 60L, 0.6)), s"hot key must rank first: ${rows.toSeq}")
    assert(rows.length == 3 && rows(1)._3 == 1L,
      "remaining keys are singletons, tie-broken by key")
    val nodes = runtimeNodes(rep.queryExecution.executedPlan)
    assert(nodes.exists(_.contains("TakeOrdered")),
      s"top-k must plan as TakeOrdered (per-partition top-k), got:\n$nodes")
  }

  test("kNN paths rank via bounded top-k aggregation, not a full-relation window") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val q = e.limit(5)
    val paths = Seq(
      "brute" -> graft.operators.Similarity.bruteKnn(q, e, k = 3),
      "lsh" -> graft.operators.Similarity.lshKnn(q, e, k = 3),
      "ivf" -> graft.operators.Similarity.ivfKnn(q, e, k = 3))
    paths.foreach { case (name, knn) =>
      knn.count() // materialize so AQE finalizes the runtime plan
      val nodes = runtimeNodes(knn.queryExecution.executedPlan)
      // a row_number window would shuffle every scored row; the bounded
      // aggregation shuffles at most k rows per (partition, query)
      assert(!nodes.exists(_.contains("Window")),
        s"$name kNN must not window the scored relation:\n$nodes")
      assert(nodes.count(_.contains("ObjectHashAggregate")) >= 2,
        s"$name bounded top-k must plan as partial+final ObjectHashAggregate:\n$nodes")
    }
  }

  test("bm25 probe broadcasts the query terms and ranks via bounded top-k") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val qs = Seq((1L, "spark table scan")).toDF("query_id", "qtext")
    val out = graft.operators.Corpus.bm25Search(
      graft.operators.Corpus.bm25Index(docs, "doc_id", "text"),
      qs, "query_id", "qtext", k = 5)
    out.count() // materialize so AQE finalizes the runtime plan
    val nodes = runtimeNodes(out.queryExecution.executedPlan)
    // probe side: the postings join on the query's terms must broadcast
    // the (tiny) query-term table — the index itself never shuffles for
    // the probe
    assert(nodes.exists(_.contains("BroadcastHashJoin")),
      s"query-term probe join must be broadcast:\n$nodes")
    // ranking: bounded top-k aggregation, never a data-sized window
    assert(!nodes.exists(_.contains("Window")),
      s"bm25 ranking must not window the scored relation:\n$nodes")
    assert(nodes.count(_.contains("ObjectHashAggregate")) >= 2,
      s"bounded top-k must plan as partial+final ObjectHashAggregate:\n$nodes")
  }

  test("PQ scoring broadcasts the query tables and ranks via bounded top-k") {
    import spark.implicits._
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val model = graft.operators.Similarity.trainPq(e, m = 16, ksub = 8,
      iters = 1)
    val codes = graft.operators.Similarity.pqEncode(e, model)
    val out = graft.operators.Similarity.pqKnn(e.limit(5), codes, model, k = 3)
    out.count()
    val nodes = runtimeNodes(out.queryExecution.executedPlan)
    assert(nodes.exists(n => n.contains("BroadcastNestedLoopJoin") ||
      n.contains("BroadcastHashJoin")),
      s"query ADC tables must broadcast — the code table never shuffles:\n$nodes")
    assert(!nodes.exists(_.contains("Window")),
      s"PQ ranking must not window the scored relation:\n$nodes")
    assert(nodes.count(_.contains("ObjectHashAggregate")) >= 2,
      s"bounded top-k must plan as partial+final ObjectHashAggregate:\n$nodes")
  }

  test("ANN stages compile under janino's 64 KB method budget (no interpreted fallback)") {
    // The round-11 test log carried 29 `Code grows beyond 64 KB` janino
    // failures from the unrolled LSH/PQ/ADC expression trees — Spark
    // recovered by running exactly the hottest ANN stages INTERPRETED.
    // The compact kernels (graft.functions.AnnKernels) make generated
    // method size O(1) in tables/planes/nlist/m/ksub; this pin recompiles
    // every WholeStageCodegen stage of every ANN path and asserts both
    // that janino succeeds and that no generated method exceeds the
    // default spark.sql.codegen.hugeMethodLimit (65535 bytecode bytes),
    // the threshold past which Spark silently de-codegens the stage.
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val q = e.limit(5)
    val model = graft.operators.Similarity.trainPq(e, m = 16, ksub = 8, iters = 1)
    val codes = graft.operators.Similarity.pqEncode(e, model)
    val paths = Seq(
      "lshKnn" -> graft.operators.Similarity.lshKnn(q, e, k = 3),
      "ivfKnn" -> graft.operators.Similarity.ivfKnn(q, e, k = 3),
      "pqKnn" -> graft.operators.Similarity.pqKnn(q, codes, model, k = 3),
      "nearDupPairs" -> graft.operators.Similarity.nearDupPairs(e, 0.9),
      // not ANN, but the same kernel doctrine: the curriculum pivot-
      // bucket binary search must codegen compactly at any pivot count
      "curriculumShards" -> graft.operators.Sampling.curriculumShards(
        spark.read.parquet(s"$sfDir/documents.parquet"), "doc_id",
        org.apache.spark.sql.functions.col("n_chars").cast("double"),
        numShards = 4, pivots = 64))
    paths.foreach { case (name, df) =>
      // collect() (not count(), which is a separate query execution) so
      // THIS queryExecution runs and AQE materializes its codegen stages
      df.collect()
      val stages = runtimePlanNodes(df.queryExecution.executedPlan)
        .collect { case w: WholeStageCodegenExec => w }
      assert(stages.nonEmpty, s"$name lost whole-stage codegen entirely")
      stages.foreach { w =>
        val (_, code) = w.doCodeGen()
        val stats = try CodeGenerator.compile(code)._2 catch {
          case ex: Throwable =>
            fail(s"$name: janino failed to compile a WholeStageCodegen " +
              s"stage (interpreted fallback at runtime): ${ex.getMessage.take(200)}")
        }
        assert(stats.maxMethodCodeSize <= 65535,
          s"$name: generated method ${stats.maxMethodCodeSize} bytes exceeds " +
            "the hugeMethodLimit — Spark would silently de-codegen this stage")
      }
    }
  }

  test("nearDupDelta prefilters the cross join with a bloom probe") {
    import spark.implicits._
    def toks(b: Int) = (0 until 40).map(kk => s"p${b}_$kk")
    val corpus = Seq((1L, toks(1).mkString(" ")), (2L, toks(2).mkString(" ")))
      .toDF("doc_id", "text")
    val delta = Seq((10L, toks(1).updated(5, "edit").mkString(" ")),
      (11L, toks(9).mkString(" "))).toDF("doc_id", "text")
    val corpusIdx = graft.operators.Dedup
      .buildShingleIndex(corpus, "doc_id", "text")
    val (surv, _) = graft.operators.Dedup
      .nearDupDelta(Some(corpusIdx), delta, "doc_id", "text")
    val kept = surv.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(11L), s"copy must drop, fresh doc must survive: $kept")
    // the cross-verification join input must carry the bloom probe — a
    // silently dropped prefilter would still be correct but pay the full
    // index join for a mostly-fresh delta (the survivors plan itself is
    // checkpoint-truncated by the closure, so assert on the pair core)
    val deltaIdx = graft.operators.Dedup
      .buildShingleIndex(delta, "doc_id", "text")
    val pairs = graft.operators.Dedup.crossPairsBloom(corpusIdx, deltaIdx)
    val got = pairs.select("i", "j").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 10L)), s"exact cross pair set: $got")
    // the probe itself (the returned DataFrame's lineage is checkpoint-
    // truncated, so assert on the prefilter stage directly): the plan
    // carries might_contain, and the fresh doc's disjoint-vocab shingles
    // are all cut before the join
    val hit = graft.operators.Dedup.bloomPrefilteredDelta(corpusIdx, deltaIdx)
    val hp = hit.queryExecution.executedPlan.toString
    assert(hp.contains("might_contain"),
      s"bloom prefilter missing from the delta-side plan:\n$hp")
    val hitDocs = hit.select("doc_id").distinct().collect()
      .map(_.getLong(0)).toSet
    assert(hitDocs == Set(10L),
      s"only the copy's shingles may survive the bloom cut: $hitDocs")
  }

  test("scd2 versioning shuffles once on the key, never a global sort") {
    import graft.sources.Sources
    import org.apache.spark.sql.functions.col
    val changes = eventsDf.filter(col("event_type") === "signup")
      .select("user_id", "ts", "value")
    val v = Sources.scd2(changes, Seq("user_id"), "ts")
    val nodes = runtimeNodes(v.queryExecution.executedPlan)
    assert(nodes.count(_.contains("Exchange")) <= 1,
      s"scd2 should shuffle once on the key:\n$nodes")
    assert(!v.queryExecution.executedPlan.toString.contains("SinglePartition"),
      s"scd2 funnels through one task")
  }

  test("drill-across joins at grain with partial aggregation, never all-pairs") {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val a = graft.model.DataCube.build(
      graft.model.Fact.build(li.select(col("l_suppkey"), col("l_quantity")),
        Seq("l_suppkey"), Seq(graft.model.Measure.sum("l_quantity", "qty_a"))),
      Seq(graft.model.Dimension.build("supp", "l_suppkey",
        scala.collection.immutable.ListMap.empty,
        li.select("l_suppkey").distinct())))
    val b = graft.model.DataCube.build(
      graft.model.Fact.build(li.select(col("l_suppkey"), col("l_extendedprice")),
        Seq("l_suppkey"), Seq(graft.model.Measure.sum("l_extendedprice", "price_b"))),
      Seq(graft.model.Dimension.build("supp", "l_suppkey",
        scala.collection.immutable.ListMap.empty,
        li.select("l_suppkey").distinct())))
    val merged = a.drillAcross(b).fact.data
    merged.count()
    val nodes = runtimeNodes(merged.queryExecution.executedPlan)
    assert(!nodes.exists(n => n.contains("CartesianProduct") ||
        n.contains("BroadcastNestedLoopJoin")),
      s"drill-across degenerated to an all-pairs join:\n$nodes")
    // both facts partial-aggregate before the exchange (map-side combine)
    val planStr = merged.queryExecution.executedPlan.toString
    assert(planStr.contains("partial_sum") || planStr.contains("partial_"),
      s"drill-across lost map-side combine:\n$planStr")
  }

  test("timeIntelligence windows stay keyed, never a single partition") {
    import org.apache.spark.sql.functions._
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      .withColumn("month", date_trunc("month", col("o_orderdate")))
      .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
    val cube = graft.model.DataCube.build(
      graft.model.Fact.build(orders, Seq("month", "o_orderpriority"),
        Seq(graft.model.Measure.sum("cents", "sum_cents"))),
      Seq(
        graft.model.Dimension.build("month", "month",
          scala.collection.immutable.ListMap.empty,
          orders.select("month").distinct()),
        graft.model.Dimension.build("priority", "o_orderpriority",
          scala.collection.immutable.ListMap.empty,
          orders.select("o_orderpriority").distinct())))
    val ti = cube.timeIntelligence("month")
    assert(!ti.queryExecution.executedPlan.toString.contains("SinglePartition"),
      "multi-series time intelligence funnels through one task")
  }

  test("shareAlong and topKOther windows stay keyed, never a single partition") {
    import org.apache.spark.sql.functions._
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      .withColumn("o_year", year(col("o_orderdate")))
      .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
    val cube = graft.model.DataCube.build(
      graft.model.Fact.build(orders, Seq("o_year", "o_orderpriority"),
        Seq(graft.model.Measure.sum("cents", "sum_cents"))),
      Seq(
        graft.model.Dimension.build("year", "o_year",
          scala.collection.immutable.ListMap.empty,
          orders.select("o_year").distinct()),
        graft.model.Dimension.build("priority", "o_orderpriority",
          scala.collection.immutable.ListMap.empty,
          orders.select("o_orderpriority").distinct())))
    for (df <- Seq(cube.shareAlong("o_orderpriority"),
        cube.topKOther("o_orderpriority", 3, "sum_cents"))) {
      assert(!df.queryExecution.executedPlan.toString.contains("SinglePartition"),
        "reporting window funnels through one task")
    }
  }

  test("exact stratified sample shuffles once on the stratum, never globally sorts") {
    import graft.operators.Sampling
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val out = Sampling.stratifiedExactSample(d, "doc_id", "source",
      Map("src1" -> 5, "src2" -> 5))
    val nodes = runtimeNodes(out.queryExecution.executedPlan)
    assert(nodes.count(_.contains("Exchange")) <= 1,
      s"stratified exact sample should shuffle once on the stratum:\n$nodes")
    assert(!out.queryExecution.executedPlan.toString.contains("SinglePartition"),
      "stratified exact sample funnels through one task")
  }

  test("pairwise similarity uses the native dot_product, HOFs only per-row") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val pairs = graft.operators.Similarity.nearDupPairs(e, 0.9)
    val p = plan(pairs)
    // the default near-dup path is LSH-bucketed: candidates come from an
    // equi-join on (table, bucket), never a cartesian of the corpus
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"near-dup pair generation degenerated to an all-pairs join:\n$p")
    assert(p.contains("dot_product("),
      s"pair scan lost the native expression:\n$p")
    // the n² join must not evaluate interpreted lambda chains per pair —
    // lambdas are allowed only in the once-per-row normalize projections
    val joinPart = p.linesIterator
      .filter(l => l.contains("Join") || l.contains("cos#"))
      .mkString("\n")
    assert(!joinPart.contains("lambdafunction"),
      s"interpreted lambdas leaked into the pairwise join:\n$joinPart")
  }

  test("importance resampling scores per-row and selects via TakeOrdered") {
    import graft.operators.Sampling
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val out = Sampling.importanceResample(d, d.filter(col("lang") === "en"),
      "doc_id", "text", budget = 20, buckets = 64)
    val nodes = runtimeNodes(out.queryExecution.executedPlan)
    // selection is budget-bounded TakeOrdered, never a global sort
    assert(nodes.contains("TakeOrderedAndProjectExec"),
      s"selection must be TakeOrdered:\n$nodes")
    assert(!nodes.exists(_.contains("SortExec")),
      s"importance selection globally sorted:\n$nodes")
    // scoring is a pure projection against the broadcast ratio literal:
    // no join, no shuffle anywhere in the returned plan (the histogram
    // aggregations ran eagerly at construction, outside this plan)
    assert(!nodes.exists(_.contains("Join")),
      s"ratio lookup must be a literal, not a join:\n$nodes")
    assert(!nodes.exists(_.contains("Exchange")),
      s"per-row scoring must not shuffle:\n$nodes")
  }

  test("shuffle shards: one exchange on the shard key, never a global sort") {
    import graft.operators.Sampling
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val out = Sampling.shuffleShards(d, "doc_id", 8)
    val nodes = runtimeNodes(out.queryExecution.executedPlan)
    assert(nodes.count(_.contains("Exchange")) == 1,
      s"shuffle-to-shards should shuffle exactly once on the shard key:\n$nodes")
    assert(nodes.contains("WindowExec"), s"expected the rank window:\n$nodes")
    assert(!plan(out).contains("SinglePartition"),
      "shard ranking funneled through one task — the window lost its key")
  }

  test("curriculum shards: bucket-keyed rank window, literal pivots, no join") {
    import graft.operators.Sampling
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val out = Sampling.curriculumShards(d, "doc_id",
      col("n_chars").cast("double"), numShards = 8, pivots = 16)
    val nodes = runtimeNodes(out.queryExecution.executedPlan)
    assert(nodes.contains("WindowExec"), s"expected the rank window:\n$nodes")
    assert(!plan(out).contains("SinglePartition"),
      "exact-rank window funneled through one task — the bucket key is gone")
    // pivot boundaries and rank offsets ride as literals: no join anywhere
    assert(!nodes.exists(_.contains("Join")),
      s"bucket/offset lookup must be literal arrays, not joins:\n$nodes")
  }

  test("keep-best dedup picks winners via aggregation, never a per-cluster window") {
    import spark.implicits._
    import graft.operators.Dedup
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("i", "j")
    val d = Seq((1L, 5.0), (2L, 9.0), (3L, 1.0), (9L, 2.0)).toDF("doc_id", "s")
    val out = Dedup.dropNearDupsKeepBest(d, pairs, "doc_id", "s")
    val nodes = runtimeNodes(out.queryExecution.executedPlan)
    assert(!nodes.contains("WindowExec"),
      s"winner selection must be the min_by aggregation, not a window:\n$nodes")
  }

  test("novelty scoring tokenizes the delta ONCE (fused seen-flag join)") {
    import graft.operators.Decontaminate
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val idx = Decontaminate.buildEvalIndex(
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", 8)
    val out = Decontaminate.noveltyReportWith(
      docs.filter(col("doc_id") % 2 === 1), idx, "doc_id", "text")
    out.count() // materialize so AQE's final plan is inspectable
    val nodes = runtimePlanNodes(out.queryExecution.executedPlan)
    // one Generate = one gram explode = one tokenization of the delta
    val gens = nodes.count(_.getClass.getSimpleName == "GenerateExec")
    assert(gens == 1,
      s"expected ONE delta gram subtree, found $gens Generate nodes")
    // the only parquet scan that reads the text column is that subtree;
    // the id-only join-back scan is column-pruned
    val textScans = nodes.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.output.exists(_.name == "text") => f
    }
    assert(textScans.size == 1,
      s"expected one text-reading scan of the delta, got ${textScans.size}")
  }

  test("sqKnn plan: bruteKnn shape — query side broadcast, only the top-k aggregation shuffles") {
    import graft.operators.Similarity
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val m = Similarity.trainSq(e)
    val codes = Similarity.sqEncode(e, m)
    val out = Similarity.sqKnn(e.filter(col("vec_id") < 2), codes, m, k = 3)
    out.collect()
    val nodes = runtimeNodes(out.queryExecution.executedPlan)
    // the corpus-side reconstruction is a scan-side projection: the only
    // SHUFFLE left is the bounded per-partition top-k aggregation (the
    // query-side BroadcastExchange moves ≤ |Q| rows, not a shuffle)
    assert(nodes.count(n =>
      n.contains("Exchange") && !n.contains("Broadcast")) <= 1,
      s"sqKnn shuffles beyond the bounded top-k aggregation:\n${plan(out)}")
    assert(nodes.contains("BroadcastNestedLoopJoinExec"),
      s"query side should broadcast (the bruteKnn shape):\n${plan(out)}")
    assert(!nodes.contains("SortMergeJoinExec"),
      s"sqKnn must not sort-merge:\n${plan(out)}")
  }

  // ------------------------------------------------------------------
  // one pass per catalogue answer
  // ------------------------------------------------------------------

  /** The global sort catalogue answers used before `sorted`. */
  private def orderByAll(df: DataFrame): DataFrame =
    df.orderBy(df.columns.map(c => col(c).asc_nulls_first).toSeq: _*)

  test("sorted keeps the global sort's row order: NULLs first, ties, non-ASCII") {
    import spark.implicits._
    val df = Seq[(Option[String], Option[Int], Double)](
      (Some("é"), Some(1), 0.5), (None, Some(2), 1.0), (Some("a"), None, 2.0),
      (Some("日本"), Some(1), -1.0), (Some("a"), Some(1), 0.5),
      (Some("a"), Some(1), 0.5), (None, None, 3.0), (Some("Z"), Some(3), 9.0),
      (Some("é"), Some(0), 0.5), (Some("a"), Some(1), -0.5), (Some("ä"), None, 0.0))
      .toDF("s", "i", "d").repartition(3)
    assert(df.rdd.getNumPartitions == 3)
    val got = graft.queries.ExtensionQueries.sorted(df).collect().toSeq
    assert(got == orderByAll(df).collect().toSeq)
  }

  test("a sorted answer runs its plan once: no range-sampling job, no RangePartitioning") {
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import graft.queries.ExtensionQueries.sorted
    def answer = Tpch.table(spark, sfDir, "orders").groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), sum("o_totalprice").as("total"))
    answer.schema // the reader's schema inference, outside the counted windows
    val df = sorted(answer)
    // the aggregate's shuffle stage, the one-partition shuffle stage and
    // the result; the global sort adds the range partitioner's sampling job
    val viaSorted = jobsDuring(df.collect(): Unit)
    assert(viaSorted == 3, s"sorted answer ran $viaSorted jobs; expected 3")
    val viaOrderBy = jobsDuring(orderByAll(answer).collect(): Unit)
    assert(viaOrderBy == 4, s"global sort ran $viaOrderBy jobs; expected 4")
    val ranges = runtimePlanNodes(df.queryExecution.executedPlan).collect {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }
    assert(ranges.isEmpty, s"sorted answer range-partitions:\n${plan(df)}")
    // under count() the sort goes and the one-partition exchange stands in
    // for the final aggregate's: no more jobs than the global sort
    val counted = jobsDuring(sorted(answer).count(): Unit)
    assert(counted == 3, s"count over a sorted answer ran $counted jobs; expected 3")
    val countedOrderBy = jobsDuring(orderByAll(answer).count(): Unit)
    assert(countedOrderBy == 3, s"count over the global sort ran $countedOrderBy jobs; expected 3")
  }

  test("input tables: the schema is inferred once per path and modification time") {
    val dir = java.nio.file.Files.createTempDirectory("input_table").toString
    spark.range(5).toDF("a").write.parquet(s"$dir/t.parquet")
    val first = jobsDuring(Tpch.table(spark, dir, "t"): Unit)
    assert(first == 1, s"first read ran $first jobs; expected the one inference job")
    val second = jobsDuring(Tpch.table(spark, dir, "t"): Unit)
    assert(second == 0, s"second read ran $second jobs; expected 0")
    // a table rewritten under the same path is inferred again
    spark.range(5).selectExpr("id AS a", "id * 2 AS b")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val rewritten = Tpch.table(spark, dir, "t")
    assert(rewritten.columns.toSeq == Seq("a", "b"))
    assert(rewritten.agg(sum("b")).head().getLong(0) == 20L)
    val missing = intercept[IllegalArgumentException](Tpch.table(spark, dir, "absent"))
    assert(missing.getMessage.contains(s"$dir/absent.parquet does not exist"))
  }

  test("readCentroids is one job: the writer's schema, ordered by cell on the driver") {
    import graft.operators.Similarity
    val dir = java.nio.file.Files.createTempDirectory("centroids").toString
    val base = spark.range(0, 32).select(col("id").as("vec_id"),
      transform(sequence(lit(1), lit(4)), i =>
        sin(i * col("id")).cast("double")).as("embedding"))
    Similarity.saveIvfIndex(base, dir, nlist = 4, kmeansIters = 1, replicate = 1)
    var cents = Array.empty[Array[Double]]
    val jobs = jobsDuring { cents = Similarity.readCentroids(spark, dir) }
    assert(jobs == 1, s"readCentroids ran $jobs jobs; expected 1")
    val expected = spark.read.parquet(s"$dir/centroids").orderBy("cell").collect()
      .map(_.getSeq[Double](1))
    assert(cents.map(_.toSeq).toSeq == expected.toSeq)
  }
}
