package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.model._
import graft.query.dsl._

/** Property-based algebraic laws (the reference's metamorphic tests,
  * SURVEY §5.3) over small generated cubes: equivalent query spellings
  * agree, collapse complements margins, filters commute with collapse.
  * Deterministic seeded sampling (the scalatest-scalacheck bridge isn't
  * in the offline cache — raw Gen + fixed seeds gives the same coverage
  * reproducibly). */
class LawsSpec extends SparkSpec {

  private def forAll[T](g: Gen[T], n: Int = 5)(body: T => Unit): Unit =
    (0 until n).foreach { i =>
      g.apply(Gen.Parameters.default, Seed(42L + i)).foreach(body)
    }

  private val keyGen = Gen.chooseNum(1, 5)
  private val rowsGen = Gen.listOfN(24,
    for { a <- keyGen; b <- keyGen; v <- Gen.chooseNum(-50, 50) }
      yield (a, s"g$b", v.toDouble))

  private def cubeOf(rows: List[(Int, String, Double)]): DataCube = {
    val schema = StructType(Seq(
      StructField("k", IntegerType), StructField("g", StringType),
      StructField("v", DoubleType)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2, r._3)), 2),
      schema)
    val d1 = df.select("k").distinct()
    val d2 = df.select("g").distinct()
    DataCube.build(
      Fact.build(df, Seq("k", "g"), Seq(Measure.sum("v", "sum_v"))),
      Seq(
        Dimension.build("one", "k", ListMap("h" -> Hierarchy.flat("k")), d1),
        Dimension.build("two", "g", ListMap("h" -> Hierarchy.flat("g")), d2)))
  }

  private def facts(c: DataCube): Set[String] =
    c.fact.data.collect().map(_.toString).toSet

  test("law: collapse(one) ≡ applyMargin(two) (MARGIN complement)") {
    forAll(rowsGen) { rows =>
      if (rows.nonEmpty) {
        val c = cubeOf(rows)
        val viaCollapse = c.q(dim("one").collapse())
        val viaMargin = c.applyMargin(Seq("two"))
        assert(facts(viaCollapse) == facts(viaMargin))
      }
    }
  }

  test("law: drillAcross commutes with rollup (aggregate-then-drill ≡ drill-then-aggregate)") {
    // two independent facts on the same conformed (k, g) grain, one
    // measure each; marginalizing g then drilling across must equal
    // drilling across at (k, g) and re-aggregating to k — including the
    // NULL cells of one-sided grain rows (SUM ignores them both ways)
    def renamed(rows: List[(Int, String, Double)], m: String): DataCube = {
      val c = cubeOf(rows)
      c.copy(fact = c.fact.copy(
        data = c.fact.data.withColumnRenamed("sum_v", m),
        measures = Seq(Measure.sum(m, m))))
    }
    forAll(Gen.zip(rowsGen, rowsGen), n = 4) { case (ra, rb) =>
      if (ra.nonEmpty && rb.nonEmpty) {
        val a = renamed(ra, "ma")
        val b = renamed(rb, "mb")
        val drillThenAgg = a.drillAcross(b)
          .aggregate(Seq("k")).fact.data
          .select("k", "ma", "mb").collect()
          .map(r => r.getInt(0) -> ((Option(r.get(1)), Option(r.get(2))))).toMap
        val aggThenDrill = a.applyMargin(Seq("one")).drillAcross(
            b.applyMargin(Seq("one")))
          .fact.data.select("k", "ma", "mb").collect()
          .map(r => r.getInt(0) -> ((Option(r.get(1)), Option(r.get(2))))).toMap
        assert(drillThenAgg == aggThenDrill,
          s"drill/rollup do not commute:\n$drillThenAgg\nvs\n$aggThenDrill")
      }
    }
  }

  test("law: timeIntelligence cum/prev equal the brute-force prefix per series") {
    forAll(rowsGen, n = 4) { rows =>
      if (rows.nonEmpty) {
        val c = cubeOf(rows)
        val got = c.timeIntelligence("k").collect().map { r =>
          (r.getInt(r.fieldIndex("k")), r.getString(r.fieldIndex("g"))) ->
            ((r.getDouble(r.fieldIndex("cum_sum_v")),
              Option(r.get(r.fieldIndex("prev_sum_v")))))
        }.toMap
        // brute force from the generated rows: per-series sorted prefix
        val grain = rows.groupBy(r => (r._1, r._2))
          .view.mapValues(_.map(_._3).sum).toMap
        grain.foreach { case ((k, g), v) =>
          val series = grain.collect { case ((k2, g2), v2) if g2 == g => (k2, v2) }
            .toSeq.sortBy(_._1)
          val cum = series.filter(_._1 <= k).map(_._2).sum
          val prev = series.filter(_._1 < k).lastOption.map(_._2)
          val (gc, gp) = got((k, g))
          assert(math.abs(gc - cum) < 1e-9,
            s"cum at ($k,$g): got $gc want $cum")
          assert(gp == prev, s"prev at ($k,$g): got $gp want $prev")
          val _ = v
        }
      }
    }
  }

  test("law: filter-then-collapse ≡ collapse-with-prefilter") {
    forAll(rowsGen) { rows =>
      if (rows.nonEmpty) {
        val c = cubeOf(rows)
        val ks = rows.map(_._1).distinct.take(2)
        val a = c.q(Seq(dim("one").where("k" -> ks)), drop = false)
          .q(dim("one").collapse())
        val b = c.q(dim("one").where("k" -> ks).collapse())
        assert(facts(a) == facts(b))
      }
    }
  }

  test("law: grand total equals sum of any collapse") {
    forAll(rowsGen) { rows =>
      if (rows.nonEmpty) {
        val c = cubeOf(rows)
        val total = c.applyMargin(Seq.empty)
          .fact.data.head().getDouble(0)
        val viaOne = c.q(dim("two").collapse())
          .fact.data.agg(sum("sum_v")).head().getDouble(0)
        assert(math.abs(total - viaOne) < 1e-9)
      }
    }
  }

  test("law: query composition order of independent dims is irrelevant") {
    forAll(rowsGen) { rows =>
      if (rows.map(_._1).distinct.size >= 2 &&
        rows.map(_._2).distinct.size >= 2) {
        val c = cubeOf(rows)
        val ks = rows.map(_._1).distinct.take(2)
        val gs = rows.map(_._2).distinct.take(2)
        val ab = c.q(Seq(dim("one").where("k" -> ks)), drop = false)
          .q(Seq(dim("two").where("g" -> gs)), drop = false)
        val ba = c.q(Seq(dim("two").where("g" -> gs)), drop = false)
          .q(Seq(dim("one").where("k" -> ks)), drop = false)
        val both = c.q(Seq(
          dim("one").where("k" -> ks), dim("two").where("g" -> gs)), drop = false)
        assert(facts(ab) == facts(ba) && facts(ba) == facts(both))
      }
    }
  }

  test("law: hash samples nest across arbitrary rate pairs; split partitions exhaustively") {
    import graft.operators.Sampling
    import spark.implicits._
    val ids = (0L until 400L).toDF("id")
    val rateGen = for {
      a <- Gen.chooseNum(1, 99); b <- Gen.chooseNum(1, 99)
    } yield (math.min(a, b) / 100.0, math.max(a, b) / 100.0)
    forAll(rateGen) { case (lo, hi) =>
      def sample(rate: Double) =
        ids.filter(Sampling.hashUniform(col("id")) < rate).as[Long].collect().toSet
      val (small, big) = (sample(lo), sample(hi))
      assert(small.subsetOf(big), s"sample($lo) ⊄ sample($hi)")
    }
    // any weight vector: splits partition the table (disjoint + exhaustive)
    val weightsGen = Gen.listOfN(3, Gen.chooseNum(1, 10)).map { ws =>
      val t = ws.sum.toDouble
      ws.zipWithIndex.map { case (w, i) => s"s$i" -> w / t }
    }
    forAll(weightsGen) { splits =>
      val total = BigDecimal(1) - splits.map(s => BigDecimal(s._2.toString)).sum
      val fixed =
        if (total == 0) splits
        else splits.init :+ (splits.last._1 -> (BigDecimal(splits.last._2.toString) + total).toDouble)
      val assigned = Sampling.assignSplit(ids, "id", fixed)
      assert(assigned.count() == 400)
      assert(assigned.groupBy("id").count().filter(col("count") > 1).count() == 0)
      // the WEIGHTS must govern assignment, not just the names: observed
      // per-split fractions track the requested weights (400 uniform
      // hashes → σ ≤ 0.025 per split; 0.12 is a >4σ gate that still fails
      // loudly on any thresholding bug, e.g. everything landing in s0)
      val byName = assigned.groupBy("split").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      fixed.foreach { case (name, w) =>
        val obs = byName.getOrElse(name, 0L).toDouble / 400
        assert(math.abs(obs - w) < 0.12,
          s"split $name: observed fraction $obs vs weight $w")
      }
    }
  }

  test("law: packing start offsets cover the shard stream without gaps") {
    import graft.operators.Packing
    import spark.implicits._
    val tokGen = Gen.listOfN(30, Gen.chooseNum(1, 300))
    forAll(tokGen) { toks =>
      val df = toks.zipWithIndex.map { case (t, i) => ("s", i.toLong, t) }
        .toDF("shard", "id", "tok")
      val packed = Packing.packByBudget(df, "id", col("tok"), 256, "shard")
        .orderBy("id").collect()
        .map(r => (r.getLong(1), r.getLong(3), r.getLong(4))) // id, tokens, pack
      // packs are non-decreasing in stream order and every pack's fill
      // minus its straddling last doc stays under the budget
      assert(packed.map(_._3).sliding(2).forall(w => w.length < 2 || w(0) <= w(1)))
      packed.groupBy(_._3).foreach { case (_, docs) =>
        val fill = docs.map(_._2).sum
        val last = docs.maxBy(_._1)._2
        assert(fill - last < 256,
          s"pack pre-overhang fill ${fill - last} >= budget")
      }
    }
  }

  test("law: chunk windows tile arbitrary docs — count, coverage, clamp") {
    import graft.operators.Chunking
    import spark.implicits._
    val docGen = for {
      n <- Gen.chooseNum(1, 120)
      width <- Gen.chooseNum(2, 40)
      stride <- Gen.chooseNum(1, width)
    } yield (n, width, stride)
    forAll(docGen, n = 8) { case (n, width, stride) =>
      val text = (1 to n).map(i => s"t$i").mkString(" ")
      // a NULL-text row rides along every case: it must be dropped, never
      // crash the sequence bound (size(NULL) = -1 under non-ANSI SQL)
      val chunks = Chunking.chunkByTokens(
        Seq((1L, text), (2L, null.asInstanceOf[String]))
          .toDF("doc_id", "text"), "doc_id", "text", width, stride)
        .filter(col("doc_id") === 1L)
        .orderBy("chunk_idx").collect()
        .map(r => (r.getInt(1), r.getInt(2), r.getString(3)))
      // count law: starts are the multiples of stride below n
      assert(chunks.length == (n - 1) / stride + 1,
        s"n=$n width=$width stride=$stride got ${chunks.length}")
      // coverage law: every token appears in at least one chunk, order kept
      val covered = chunks.flatMap(_._3.split(" ")).toSet
      assert(covered == (1 to n).map(i => s"t$i").toSet)
      // clamp law: every chunk is full width except possibly the trailing
      // ones that hit the document end
      chunks.zipWithIndex.foreach { case ((idx, nt, _), i) =>
        val start = i * stride
        assert(idx == i && nt == math.min(width, n - start),
          s"chunk $i of n=$n w=$width s=$stride has $nt tokens")
      }
    }
  }

  test("law: trailing count equals the brute-force window count") {
    import graft.operators.Events
    import spark.implicits._
    val evGen = Gen.listOfN(40, for {
      u <- Gen.chooseNum(1, 4)
      t <- Gen.chooseNum(0, 10000) // seconds, within a few hours
    } yield (u.toLong, t.toLong))
    forAll(evGen, n = 4) { evs =>
      val df = evs.zipWithIndex.map { case ((u, t), i) =>
        (i.toLong, u, new java.sql.Timestamp(t * 1000L))
      }.toDF("event_id", "user_id", "ts")
      val got = Events.trailingCount(df, widthSeconds = 600)
        .select("event_id", "n_window").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // brute force over the driver-side list: same user, ts in (t-600s, t]
      evs.zipWithIndex.foreach { case ((u, t), i) =>
        val expect = evs.count { case (u2, t2) =>
          u2 == u && t2 <= t && t2 >= t - 600
        }
        assert(got(i.toLong) == expect,
          s"event $i user $u t=$t: got ${got(i.toLong)} want $expect")
      }
    }
  }

  test("law: asofJoin in all four directions equals the brute-force pick") {
    import graft.operators.Events
    import spark.implicits._
    val side = Gen.listOfN(25, for {
      u <- Gen.chooseNum(1, 4)
      t <- Gen.chooseNum(0, 40) // coarse: forces plenty of exact ts ties
    } yield (u.toLong, t.toLong))
    forAll(Gen.zip(side, side), n = 4) { case (lrows, rrows) =>
      val left = lrows.zipWithIndex.map { case ((u, t), i) =>
        (i.toLong, u, new java.sql.Timestamp(t * 1000L))
      }.toDF("lid", "user_id", "ts")
      // right deduped per (user, ts) keeping max rid — the operator's
      // determinism contract
      val rd = rrows.zipWithIndex
        .groupBy { case ((u, t), _) => (u, t) }
        .map { case ((u, t), rs) => (u, t, 100L + rs.map(_._2).max) }.toSeq
      val right = rd.map { case (u, t, rid) =>
        (u, new java.sql.Timestamp(t * 1000L), rid)
      }.toDF("user_id", "ts", "rid")
      for (strict <- Seq(false, true); forward <- Seq(false, true)) {
        val got = Events.asofJoin(left, right, Seq("user_id"), "ts",
            Seq("rid"), strict = strict, forward = forward)
          .select("lid", "asof_rid").collect()
          .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
          .toMap
        assert(got.size == lrows.size, "every left row exactly once")
        lrows.zipWithIndex.foreach { case ((u, t), i) =>
          val cand = rd.filter { case (u2, t2, _) =>
            u2 == u && (if (forward) { if (strict) t2 > t else t2 >= t }
                        else { if (strict) t2 < t else t2 <= t })
          }
          val want =
            if (cand.isEmpty) -1L
            else if (forward) cand.minBy(_._2)._3
            else cand.maxBy(_._2)._3
          assert(got(i.toLong) == want,
            s"lid=$i u=$u t=$t strict=$strict forward=$forward: " +
              s"got ${got(i.toLong)} want $want")
        }
      }
    }
  }

  test("law: exactDelta equals the plain anti-join on arbitrary overlaps") {
    import graft.operators.Dedup
    import spark.implicits._
    val wordGen = Gen.listOfN(4, Gen.oneOf("alpha", "beta", "gamma", "delta"))
    val setGen = for {
      corpus <- Gen.listOfN(8, wordGen)
      delta <- Gen.listOfN(8, wordGen)
    } yield (corpus.map(_.mkString(" ")), delta.map(_.mkString(" ")))
    forAll(setGen, n = 4) { case (corpusTexts, deltaTexts) =>
      val corpus = corpusTexts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val delta = deltaTexts.zipWithIndex
        .map { case (t, i) => (100L + i, t) }.toDF("doc_id", "text")
      val flagged = Dedup.exactDelta(corpus, delta, "doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
      val corpusSet = corpusTexts.toSet
      deltaTexts.zipWithIndex.foreach { case (t, i) =>
        val want = if (corpusSet.contains(t)) 1 else 0
        assert(flagged(100L + i) == want, s"delta '$t' flag ${flagged(100L + i)}")
      }
    }
  }

  test("law: nearDupDelta over any corpus split equals one-shot dropNearDups") {
    import graft.operators.Dedup
    import spark.implicits._
    // Construction keeps every true pair FAR from the 0.8 threshold so
    // LSH == exact deterministically (the pinned-fixture precondition,
    // re-created synthetically): bases have disjoint 100-token vocabs
    // (cross-base jaccard 0); a copy edits ONE token of its base with a
    // copy-unique word, so any base↔copy or copy↔copy pair of the same
    // base has jaccard ≈ 0.94 (≥ 95/101) — LSH miss probability ~5e-6.
    val gen = for {
      nBase <- Gen.chooseNum(2, 5)
      nCopy <- Gen.chooseNum(2, 8)
      srcs <- Gen.listOfN(nCopy, Gen.chooseNum(0, nBase - 1))
      cutFrac <- Gen.chooseNum(1, 9)
    } yield (nBase, srcs, cutFrac)
    forAll(gen, n = 4) { case (nBase, srcs, cutFrac) =>
      def baseTokens(b: Int) = (0 until 100).map(kk => s"w${b}_$kk")
      val docs: Seq[(Long, String)] =
        (0 until nBase).map(b => (b.toLong, baseTokens(b).mkString(" "))) ++
          srcs.zipWithIndex.map { case (b, c) =>
            ((nBase + c).toLong,
              baseTokens(b).updated(50, s"edit_$c").mkString(" "))
          }
      val cut = math.max(1L, (docs.length * cutFrac / 10).toLong)
      val all = docs.toDF("doc_id", "text")
      val waveA = all.filter(col("doc_id") < cut)
      val waveB = all.filter(col("doc_id") >= cut)
      // incremental: dedup wave A alone, then wave B as a delta against
      // wave A's stored index (ids arrive in order, so batch's min-id
      // winner IS the first arrival)
      val (survA, idxA) = Dedup.nearDupDelta(None, waveA, "doc_id", "text")
      val (survB, _) = Dedup.nearDupDelta(Some(idxA), waveB, "doc_id", "text")
      val inc = (survA.select("doc_id").collect() ++
        survB.select("doc_id").collect()).map(_.getLong(0)).toSet
      val batch = Dedup.dropNearDups(all,
          Dedup.minhashLsh(all, "doc_id", "text"), "doc_id")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(inc == batch,
        s"nBase=$nBase srcs=$srcs cut=$cut: incremental=$inc batch=$batch")
    }
  }

  test("law: per-batch maxDf caps drop a subset of the global cap's rows; survivor drift quantified") {
    import graft.operators.Dedup
    import spark.implicits._
    // Quantifies the scaladoc claim at Dedup.nearDupDelta: "per-batch
    // caps are a slightly weaker filter than one global cap". Provable
    // direction (hard assertion): df_batch(s) <= df_global(s), so every
    // (doc, s) row a per-batch cap drops is also dropped by the global
    // cap — the per-batch index SUPERSETS the globally-capped one. The
    // survivor-set drift that weaker filtering induces is measured and
    // printed, not asserted (it is corpus-dependent by nature).
    // Both chains run the SAME nearDupDelta algorithm — per-batch-built
    // vs globally-carved indexes is the only difference — so any
    // divergence is attributable to cap provenance alone.
    val cap = 4
    val gen = Gen.chooseNum(0, 1000)
    var sawDrift = false
    val rates = scala.collection.mutable.ArrayBuffer.empty[Double]
    forAll(gen, n = 2) { salt =>
      val rnd = new scala.util.Random(7000 + salt)
      val vocab = Array.tabulate(40)(i => s"v${salt}_$i")
      // phrase-templated docs: each phrase recurs in ~13 docs, so its
      // bigrams exceed the global cap but often fit under a batch's
      val phrases = Array.fill(8)(
        Array.fill(4)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
      def mkDoc() = (0 until 3).map(_ => phrases(rnd.nextInt(phrases.length)))
        .mkString(" ") + " " + vocab(rnd.nextInt(vocab.length))
      val base = (0 until 36).map(i => (i.toLong, mkDoc()))
      val dups = base.filter(_._1 % 6 == 0).map { case (id, t) =>
        (id + 1000L, t.split(" ").updated(1, s"edited$salt").mkString(" ")) }
      val all = (base ++ dups).sortBy(_._1)
      val batches = all.grouped((all.size + 2) / 3).toSeq
        .map(_.toDF("doc_id", "text"))
      val allDf = all.toDF("doc_id", "text")

      // chain A: indexes built (and capped) per batch — the real
      // incremental flow when no global index exists
      var storeA: Option[org.apache.spark.sql.DataFrame] = None
      val survA = scala.collection.mutable.Set.empty[Long]
      batches.foreach { b =>
        val (s, idx) = Dedup.nearDupDelta(storeA, b, "doc_id", "text",
          n = 2, maxDf = Some(cap))
        survA ++= s.select("doc_id").collect().map(_.getLong(0))
        storeA = Some(storeA.map(_.unionByName(idx)).getOrElse(idx)
          .localCheckpoint(true))
      }
      // chain B: one globally-capped index, carved per batch (q58 flow)
      val globalIdx = Dedup.buildShingleIndex(allDf, "doc_id", "text", 2,
        Some(cap)).localCheckpoint(true)
      var prevIds = Set.empty[Long]
      val survB = scala.collection.mutable.Set.empty[Long]
      batches.foreach { b =>
        val ids = b.select("doc_id").collect().map(_.getLong(0)).toSet
        val corpus = if (prevIds.isEmpty) None
          else Some(globalIdx.filter(col("doc_id").isInCollection(prevIds)))
        val (s, _) = Dedup.nearDupDelta(corpus, b, "doc_id", "text",
          n = 2, maxDf = Some(cap),
          deltaShinglesDf = Some(globalIdx.filter(col("doc_id").isInCollection(ids))))
        survB ++= s.select("doc_id").collect().map(_.getLong(0))
        prevIds ++= ids
      }

      // hard containment: globally-capped rows ⊆ per-batch-capped rows
      val gRows = globalIdx.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val aRows = storeA.get.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(gRows.subsetOf(aRows),
        s"global-capped index kept rows the per-batch caps dropped: " +
          s"${(gRows -- aRows).take(5)}")
      if (aRows != gRows) sawDrift = true
      val sym = (survA -- survB) ++ (survB -- survA)
      rates += sym.size.toDouble / math.max(survB.size, 1)
    }
    assert(sawDrift,
      "cap never bit differently per batch — the generator lost its hot phrases")
    info(f"per-batch vs global cap survivor divergence rates: " +
      rates.map(r => f"$r%.3f").mkString(", "))
  }

  test("law: Misra-Gries keeps every item above n/(k+1) under any split/merge order") {
    import graft.model.Aggregators.{MgBuf, MisraGries}
    val streamGen = for {
      // zipf-ish: item i drawn with weight ~ 1/(i+1) from a 40-item domain
      n <- Gen.chooseNum(200, 600)
      items <- Gen.listOfN(n, Gen.frequency(
        (1 to 40).map(i => (41 - i) -> Gen.const(s"t$i")): _*))
      k <- Gen.chooseNum(5, 12)
      cuts <- Gen.listOfN(3, Gen.chooseNum(0, n))
    } yield (items, k, cuts)
    forAll(streamGen, n = 8) { case (items, k, cuts) =>
      val mg = new MisraGries(k)
      // split the stream at arbitrary points, reduce each slice
      // independently, merge in a shuffled order — the distributed shape
      val bounds = (0 +: cuts.sorted :+ items.length).distinct.sorted
      val slices = bounds.zip(bounds.tail).map { case (a, b) =>
        items.slice(a, b).foldLeft(mg.zero)(mg.reduce)
      }
      val merged = scala.util.Random.shuffle(slices) match {
        case head :: tail => tail.foldLeft(head)(mg.merge)
        case Nil => mg.zero
      }
      val exact = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val n = items.size.toLong
      val bound = n.toDouble / (k + 1)
      assert(merged.counts.size <= k, s"summary exceeded k=$k")
      exact.foreach { case (t, c) =>
        if (c > bound)
          assert(merged.counts.contains(t),
            s"item $t with count $c > n/(k+1)=$bound missing from summary")
      }
      merged.counts.foreach { case (t, est) =>
        val c = exact.getOrElse(t, 0L)
        assert(est <= c && c - est <= bound,
          s"estimate $est for $t (true $c) outside [c - n/(k+1), c]")
      }
    }
  }

  test("sql: dot_product registered via GraftExtensions") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      "SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .head().getDouble(0)
    assert(r == 11.0)
  }

  test("sql: l2_normalize and winnow_fingerprints registered too") {
    GraftExtensions.register(spark)
    val n = spark.sql("SELECT l2_normalize(array(3.0d, 4.0d)) AS v").head()
      .getSeq[Double](0)
    assert(n == Seq(0.6, 0.8))
    val w = spark.sql(
      "SELECT size(winnow_fingerprints('the quick brown fox', 3, 4)) AS s")
      .head().getInt(0)
    assert(w > 0)
    // non-foldable k is a composition error, not a silent misread
    intercept[Exception] {
      spark.sql("SELECT winnow_fingerprints('x', cast(rand()*4 as int) + 1, 4)").head()
    }
  }

  test("law: heavy-hitter rollup honors the MG bound for every term under random splits") {
    import spark.implicits._
    import graft.operators.Sketches
    // random term stream over a small alphabet, random 3-way cell split,
    // small k (guaranteed eviction pressure): for EVERY term the summed
    // estimate must sit in [exact - max_undercount, exact], and every
    // term with true count > max_undercount must be present
    val streamGen = Gen.listOfN(300,
      Gen.zip(Gen.chooseNum(0, 2), Gen.frequency(
        (6, Gen.const("hot")), (3, Gen.const("warm")),
        (1, Gen.chooseNum(0, 25).map(i => s"t$i")))))
    forAll(streamGen, n = 4) { rows =>
      val k = 4
      val d = rows.map { case (g, t) => (s"c$g", t) }.toDF("g", "term")
        .repartition(5)
      val exact = rows.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val cells = Sketches.termSummaryAtGrain(d, Seq("g"), "term", k = k)
      val hh = Sketches.rollupHeavyHitters(cells, Seq.empty, "term_mg",
        k = k, topK = 1000)
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(3))))
        .toMap
      val bound = rows.size.toLong / (k + 1)
      hh.foreach { case (t, (est, b)) =>
        assert(b == bound, s"bound column $b != ${bound}")
        val ex = exact(t)
        assert(est <= ex && est >= ex - bound,
          s"term $t est $est outside [${ex - bound}, $ex]")
      }
      exact.foreach { case (t, ex) =>
        if (ex > bound)
          assert(hh.contains(t), s"term $t (count $ex > bound $bound) evicted")
      }
    }
  }
}
