package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.{Dedup, EntityResolution, FuzzyJoin}

/** Fuzzy string join (q-gram prefix filtering) + entity resolution.
  * The load-bearing test is generative: the prefix filter's recall-1
  * guarantee is checked against a brute-force cross join over random
  * corpora of near-identical strings (small alphabet, planted edits —
  * the adversarial regime for gram-based filtering). */
class FuzzyJoinSpec extends SparkSpec {

  import spark.implicits._

  private def forAll[T](g: Gen[T], n: Int = 5)(body: T => Unit): Unit =
    (0 until n).foreach { i =>
      g.apply(Gen.Parameters.default, Seed(97L + i)).foreach(body)
    }

  private def lev(a: String, b: String): Int = {
    val prev = Array.range(0, b.length + 1)
    var pr = prev
    for (i <- 1 to a.length) {
      val cur = new Array[Int](b.length + 1)
      cur(0) = i
      for (j <- 1 to b.length)
        cur(j) = math.min(math.min(pr(j) + 1, cur(j - 1) + 1),
          pr(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      pr = cur
    }
    pr(b.length)
  }

  private def bruteWithin(keys: Seq[String], d: Int): Set[(String, String)] =
    (for {
      a <- keys; b <- keys
      if a < b && math.abs(a.length - b.length) <= d && lev(a, b) <= d
    } yield (a, b)).toSet

  // base strings over a 4-letter alphabet (hot grams guaranteed), plus
  // mutants at a random number of random edits — some within the
  // distance bound, some beyond it
  private val corpusGen: Gen[List[String]] = for {
    nBase <- Gen.chooseNum(3, 8)
    bases <- Gen.listOfN(nBase, Gen.chooseNum(0, 14).flatMap(n =>
      Gen.listOfN(n + 2, Gen.oneOf('a', 'b', 'c', 'd')).map(_.mkString)))
    mutants <- Gen.listOfN(12, for {
      b <- Gen.oneOf(bases)
      nEdits <- Gen.chooseNum(1, 5)
      edited <- (1 to nEdits).foldLeft(Gen.const(b)) { (g, _) =>
        g.flatMap { s =>
          for {
            op <- Gen.chooseNum(0, 2)
            pos <- Gen.chooseNum(0, math.max(s.length - 1, 0))
            ch <- Gen.oneOf('a', 'b', 'c', 'd')
          } yield op match {
            case 0 if s.nonEmpty => s.updated(math.min(pos, s.length - 1), ch)
            case 1 => s.take(pos) + ch + s.drop(pos)
            case _ if s.nonEmpty => s.take(pos) + s.drop(pos + 1)
            case _ => s
          }
        }
      }
    } yield edited)
  } yield bases ++ mutants

  test("prefix-filter recall is 1 vs brute force on adversarial corpora") {
    forAll(corpusGen, n = 8) { keys =>
      val expected = bruteWithin(keys.distinct, 3)
      val got = FuzzyJoin.pairsWithinDistance(
        keys.toDF("k"), "k", maxDist = 3)
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(got == expected,
        s"missed=${expected -- got} extra=${got -- expected} keys=$keys")
    }
  }

  test("reported distances are exact levenshtein") {
    val keys = Seq("spark", "spork", "sprk", "spark!", "duck", "") // mixed
    val got = FuzzyJoin.pairsWithinDistance(keys.toDF("k"), "k", maxDist = 2)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getInt(2)))
      .toMap
    val expected = (for {
      a <- keys; b <- keys if a < b && lev(a, b) <= 2
    } yield ((a, b), lev(a, b))).toMap
    assert(got == expected)
  }

  test("short keys (gram set <= q*d) still pair; never against far keys") {
    // "ab" has a single gram; "ba" shares none of it — only the sentinel
    // bucket can find the pair. "abababab…" is long but gram-poor.
    val keys = Seq("ab", "ba", "b", "", "abababab", "babababa", "zzzzzzzzzz")
    val got = FuzzyJoin.pairsWithinDistance(keys.toDF("k"), "k", maxDist = 2)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == bruteWithin(keys, 2))
  }

  test("blocked variant never pairs across blocks") {
    val rows = Seq(("x", "spark"), ("x", "spork"), ("y", "spark"),
      ("y", "sparkle"), ("y", "spork")).toDF("blk", "k")
    val got = FuzzyJoin.pairsWithinDistance(rows, "k", maxDist = 2,
      blockCol = Some("blk"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .toSet
    assert(got == Set(("x", "spark", "spork"), ("y", "spark", "spork"),
      ("y", "spark", "sparkle"), ("y", "spork", "sparkle")
    ).filter { case (_, a, b) => lev(a, b) <= 2 })
  }

  test("native bounded edit distance ≡ builtin levenshtein threshold form") {
    import graft.functions.StringExpressions.boundedLevenshtein
    val strGen = Gen.chooseNum(0, 12).flatMap(n =>
      Gen.listOfN(n, Gen.frequency(
        (8, Gen.oneOf('a', 'b', 'c', 'z')),
        (1, Gen.oneOf('é', 'ß', '中')))).map(_.mkString))
    forAll(Gen.listOfN(60, Gen.zip(strGen, strGen)), n = 4) { rows =>
      val df = rows.toDF("a", "b")
      for (d <- Seq(0, 1, 3)) {
        val got = df.select(boundedLevenshtein(col("a"), col("b"), d))
          .collect().map(_.getInt(0)).toSeq
        val exp = df.select(levenshtein(col("a"), col("b"), d))
          .collect().map(_.getInt(0)).toSeq
        assert(got == exp, s"d=$d rows=$rows")
      }
    }
  }

  test("no cartesian product in the fuzzy-join plan") {
    val keys = (0 until 50).map(i => s"key$i").toDF("k")
    val plan = FuzzyJoin.pairsWithinDistance(keys, "k", maxDist = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"fuzzy join fell back to a cartesian:\n$plan")
  }

  test("entity resolution merges planted twins and labels by min id") {
    val records = Seq(
      (100L, "Ada Lovelace", 1), (101L, "Ada Lovelace", 1), // exact twin
      (102L, "Ada Lovelac", 1), // dirty twin (1 deletion)
      (103L, "Ada Lovelace", 2), // same name, other block — separate
      (104L, "Grace Hopper", 1), (105L, "Grce Hopper", 1), // dirty twin
      (106L, "Alan Turing", 2) // singleton
    ).toDF("rid", "name", "blk")
    val resolved = EntityResolution.resolve(records, "rid", "name", "blk",
      maxDist = 1)
      .select("rid", "entity_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(resolved == Map(100L -> 100L, 101L -> 100L, 102L -> 100L,
      103L -> 103L, 104L -> 104L, 105L -> 104L, 106L -> 106L))
  }

  test("cross pairs: recall 1 vs brute force, left/right orientation kept") {
    forAll(corpusGen, n = 6) { keys =>
      val (l, r) = keys.distinct.splitAt(keys.distinct.length / 2)
      val expected = (for {
        a <- l; b <- r if lev(a, b) <= 2
      } yield (a, b)).toSet
      val got = graft.operators.FuzzyJoin.crossPairsWithinDistance(
        l.toDF("k"), r.toDF("k"), "k", maxDist = 2)
        .collect().map(x => (x.getString(0), x.getString(1))).toSet
      assert(got == expected,
        s"missed=${expected -- got} extra=${got -- expected} l=$l r=$r")
    }
  }

  test("resolveDelta: adoption, frozen bridges, new entities") {
    val corpus = Seq(
      (10L, "Ada Lovelace", 1), (11L, "Ada Lovelace", 1),
      (20L, "Grace Hopper", 1),
      (30L, "Alan Turing", 1)
    ).toDF("rid", "name", "blk")
    val stored = EntityResolution.resolve(corpus, "rid", "name", "blk",
      maxDist = 1)
    val delta = Seq(
      (100L, "Ada Lovelac", 1), // dirty → adopts 10
      (101L, "Grace Hopper", 1), // exact → adopts 20
      (102L, "Z-New Person", 1), (103L, "Z-New Person", 1), // new entity
      (104L, "Alan Turing", 2) // other block → NOT adopted
    ).toDF("rid", "name", "blk")
    val got = EntityResolution.resolveDelta(stored, delta, "rid", "name",
      "blk", maxDist = 1)
      .select("rid", "entity_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(100L -> 10L, 101L -> 20L, 102L -> 102L,
      103L -> 102L, 104L -> 104L))
    // frozen bridges: a delta record within distance 1 of TWO stored
    // entities adopts the smaller label; the stored entities stay apart
    val bridgeCorpus = Seq((1L, "aaaa", 0), (2L, "abca", 0))
      .toDF("rid", "name", "blk")
    val storedB = EntityResolution.resolve(bridgeCorpus, "rid", "name",
      "blk", maxDist = 1)
    assert(storedB.select("rid", "entity_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 1L, 2L -> 2L)) // distance 2: separate stored entities
    val bridge = Seq((50L, "abaa", 0)).toDF("rid", "name", "blk")
    val gotB = EntityResolution.resolveDelta(storedB, bridge, "rid",
      "name", "blk", maxDist = 1)
      .select("rid", "entity_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotB == Map(50L -> 1L)) // adopts the min; no stored merge
  }

  test("resolveDeltaMulti: adoption through any pass; single pass ≡ resolveDelta") {
    // corpus resolved on the nation block; delta twin arrives with a
    // WRONG nation — unreachable single-pass, adopted via the suffix pass
    val corpus = Seq(
      (10L, "Ada Lovelace", 1, "Lovelace"),
      (20L, "Grace Hopper", 2, "r Hopper")
    ).toDF("rid", "name", "nk", "sfx")
    val stored = EntityResolution.resolveMulti(corpus, "rid", "name",
      Seq(Seq("nk")), maxDist = 1)
    val delta = Seq(
      (100L, "Ada Lovelac", 9, "Lovelace"),  // wrong nation, right suffix
      (101L, "Grace Hoper", 2, "wrong-sfx"), // right nation, wrong suffix
      (102L, "Someone New", 9, "one-else")   // matches nothing
    ).toDF("rid", "name", "nk", "sfx")
    // single-pass nation blocking cannot reach the wrong-nation twin
    val single = EntityResolution.resolveDelta(stored, delta, "rid",
      "name", "nk", maxDist = 1)
      .select("rid", "entity_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(single == Map(100L -> 100L, 101L -> 20L, 102L -> 102L))
    // a second suffix pass recovers it; the other adoptions are unchanged
    val multi = EntityResolution.resolveDeltaMulti(stored, delta, "rid",
      "name", Seq(Seq("nk"), Seq("sfx")), maxDist = 1)
      .select("rid", "entity_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(multi == Map(100L -> 10L, 101L -> 20L, 102L -> 102L))
    // within-delta closure also unions across passes: two delta records
    // reachable only through DIFFERENT passes still land in one entity
    val delta2 = Seq(
      (200L, "Zelda Fitzgerald", 5, "sfxA"),
      (201L, "Zelda Fitzgerale", 5, "sfxB"), // nation pass only
      (202L, "Zelda Fitzgeralf", 6, "sfxB")  // suffix pass only (via 201)
    ).toDF("rid", "name", "nk", "sfx")
    val multi2 = EntityResolution.resolveDeltaMulti(stored, delta2, "rid",
      "name", Seq(Seq("nk"), Seq("sfx")), maxDist = 1)
      .select("rid", "entity_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(multi2 == Map(200L -> 200L, 201L -> 200L, 202L -> 200L))
  }

  test("streaming entity resolution equals sequential batch resolve + resolveDelta") {
    import graft.streaming.ErStreaming
    val wave1 = Seq((10L, "Ada Lovelace", 1), (11L, "Ada Lovelace", 1),
      (20L, "Grace Hopper", 1), (30L, "Alan Turing", 2))
      .toDF("rid", "name", "blk")
    val wave2 = Seq((100L, "Ada Lovelac", 1), (101L, "Grce Hopper", 1),
      (102L, "Zeta New", 1), (103L, "Zeta New", 1))
      .toDF("rid", "name", "blk")
    val dir = java.nio.file.Files.createTempDirectory("er_stream").toString
    wave1.coalesce(1).write.mode("append").parquet(dir)
    wave2.coalesce(1).write.mode("append").parquet(dir)
    val store = java.nio.file.Files.createTempDirectory("er_store").toString
    val ckpt = java.nio.file.Files.createTempDirectory("er_ckpt").toString
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = ErStreaming.startResolveStream(stream, "rid", "name", "blk",
      maxDist = 1, store, ckpt)
    q.awaitTermination(180000)
    val streamed = spark.read.parquet(store)
      .select("rid", "entity_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // sequential batch twin: resolve wave 1, then delta-resolve wave 2
    val b1 = EntityResolution.resolve(wave1, "rid", "name", "blk", 1)
    val b2 = EntityResolution.resolveDelta(
      b1.select("rid", "name", "blk", "entity_id"), wave2,
      "rid", "name", "blk", 1)
    val expected = (b1.select("rid", "entity_id").collect() ++
      b2.select("rid", "entity_id").collect())
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed == expected)
    // compaction preserves content and the batch<id filter contract
    ErStreaming.compactStore(spark, store)
    val compacted = spark.read.parquet(store)
      .select("rid", "entity_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(compacted == expected)
  }

  test("multi-pass streaming ER equals sequential resolveMulti + resolveDeltaMulti") {
    import graft.streaming.ErStreaming
    val passes = Seq(Seq("nk"), Seq("sfx"))
    val wave1 = Seq((10L, "Ada Lovelace", 1, "Lovelace"),
      (20L, "Grace Hopper", 2, "r Hopper"))
      .toDF("rid", "name", "nk", "sfx")
    // the wave-2 twin has a WRONG nation — adoptable only via the
    // suffix pass, so the stream demonstrably runs multi-pass
    val wave2 = Seq((100L, "Ada Lovelac", 9, "Lovelace"),
      (101L, "Zeta New", 9, "zzz"))
      .toDF("rid", "name", "nk", "sfx")
    val dir = java.nio.file.Files.createTempDirectory("erm_stream").toString
    wave1.coalesce(1).write.mode("append").parquet(dir)
    wave2.coalesce(1).write.mode("append").parquet(dir)
    val store = java.nio.file.Files.createTempDirectory("erm_store").toString
    val ckpt = java.nio.file.Files.createTempDirectory("erm_ckpt").toString
    val schema = spark.read.parquet(dir).schema
    val q = ErStreaming.startResolveStreamMulti(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(dir),
      "rid", "name", passes, maxDist = 1, store, ckpt)
    q.awaitTermination(180000)
    def labels(): Map[Long, Long] = spark.read.parquet(store)
      .select("rid", "entity_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b1 = EntityResolution.resolveMulti(wave1, "rid", "name", passes, 1)
    val b2 = EntityResolution.resolveDeltaMulti(
      b1.select("rid", "name", "nk", "sfx", "entity_id"), wave2,
      "rid", "name", passes, 1)
    val expected = (b1.select("rid", "entity_id").collect() ++
      b2.select("rid", "entity_id").collect())
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels() == expected)
    assert(labels()(100L) == 10L,
      "the wrong-nation twin must adopt through the suffix pass")
    // multi-pass compaction + heal keep the store readable and labeled
    ErStreaming.compactStoreMulti(spark, store, "rid", "name", passes)
    assert(labels() == expected)
    ErStreaming.healStoreMulti(spark, store, maxDist = 1, "rid", "name",
      passes)
    assert(labels() == expected) // no bridges planted: heal is a no-op
  }

  test("healStore merges frozen delta bridges; stream continues from the healed store") {
    import graft.streaming.ErStreaming
    // batch 0: two entities 2 edits apart (never merge under maxDist=1)
    val wave1 = Seq((10L, "Ada Lovelace", 1), (20L, "Ada LovelaZZ", 1))
      .toDF("rid", "name", "blk")
    // batch 1: a bridge record 1 edit from BOTH — resolveDelta adopts the
    // smaller stored id and deliberately leaves the other entity frozen
    val wave2 = Seq((100L, "Ada LovelacZ", 1)).toDF("rid", "name", "blk")
    // batch 2: unrelated — pushes the bridge below the newest partition
    val wave3 = Seq((200L, "Grace Hopper", 1)).toDF("rid", "name", "blk")
    val dir = java.nio.file.Files.createTempDirectory("er_heal_src").toString
    val store = java.nio.file.Files.createTempDirectory("er_heal_store").toString
    val ckpt = java.nio.file.Files.createTempDirectory("er_heal_ckpt").toString
    wave1.coalesce(1).write.mode("append").parquet(dir)
    wave2.coalesce(1).write.mode("append").parquet(dir)
    wave3.coalesce(1).write.mode("append").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    def run(): Unit = {
      val q = ErStreaming.startResolveStream(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
          .parquet(dir),
        "rid", "name", "blk", maxDist = 1, store, ckpt)
      q.awaitTermination(180000)
    }
    run()
    def labels(): Map[Long, Long] = spark.read.parquet(store)
      .select("rid", "entity_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // frozen bridge before heal: 100 adopted 10, 20 stayed its own entity
    assert(labels() == Map(10L -> 10L, 20L -> 20L, 100L -> 10L, 200L -> 200L))
    ErStreaming.healStore(spark, store, maxDist = 1)
    // healed: the bridge merges 10/20/100; the newest batch is untouched
    assert(labels() == Map(10L -> 10L, 20L -> 10L, 100L -> 10L, 200L -> 200L))
    // the stream continues from the healed store: an exact twin of the
    // once-frozen key must now adopt the MERGED entity id
    Seq((300L, "Ada LovelaZZ", 1)).toDF("rid", "name", "blk")
      .coalesce(1).write.mode("append").parquet(dir)
    run()
    assert(labels()(300L) == 10L)
  }

  test("small-graph local closure ≡ distributed closure on random graphs") {
    // the size-guarded driver union-find must produce bit-identical
    // labels to the distributed min-label propagation — compare them on
    // generated graphs by setting the size guard to 0
    val graphGen: Gen[List[(Long, Long)]] = for {
      n <- Gen.chooseNum(4, 30)
      m <- Gen.chooseNum(2, 50)
      edges <- Gen.listOfN(m,
        Gen.zip(Gen.chooseNum(0L, n.toLong), Gen.chooseNum(0L, n.toLong)))
    } yield edges
    forAll(graphGen, n = 6) { es =>
      val pairs = es.toDF("i", "j")
      def labels(cc: DataFrame): Map[Long, Long] =
        cc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val fast = labels(Dedup.connectedComponents(pairs)) // local path
      // forced distributed path
      val dist = labels(Dedup.connectedComponents(pairs, "i", "j", 20, 0L))
      assert(fast == dist, s"edges=$es")
    }
  }

  test("local closure orders strings by UTF-8 bytes, matching distributed min") {
    // U+10000 (a surrogate pair in UTF-16) vs U+E000: Scala's String
    // ordering ranks "𐀀" BELOW "" (code-unit compare,
    // 0xD800 < 0xE000) while Spark's min over strings compares UTF-8
    // bytes and ranks it ABOVE (F0 90 80 80 > EE 80 80) — the min root
    // of a component containing both must not depend on which closure
    // path ran
    val supp = new String(Character.toChars(0x10000)) // U+10000
    val pua = "\uE000" // private-use-area char, one UTF-16 code unit
    val pairs = Seq((supp, pua)).toDF("i", "j")
    def labels(cc: DataFrame): Map[String, String] =
      cc.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // default guard: local union-find
    val fast = labels(Dedup.connectedComponents(pairs))
    // guard 0: forced distributed min-label propagation
    val dist = labels(Dedup.connectedComponents(pairs, "i", "j", 20, 0L))
    assert(fast == dist,
      s"supplementary-plane min root diverged: local=$fast distributed=$dist")
    // and the shared root is the UTF-8-least member (U+E000), not the
    // UTF-16-least (U+10000)
    assert(fast(supp) == pua && fast(pua) == pua,
      s"expected the UTF-8-least root, got $fast")
  }

  test("logN closure ≡ default closure on random graphs; handles a 120-chain") {
    // generative equivalence: random sparse graphs over shuffled ids
    val graphGen: Gen[List[(Long, Long)]] = for {
      n <- Gen.chooseNum(5, 40)
      m <- Gen.chooseNum(3, 60)
      edges <- Gen.listOfN(m,
        Gen.zip(Gen.chooseNum(0, n), Gen.chooseNum(0, n)))
    } yield edges.map { case (a, b) => (a.toLong * 37 % 101, b.toLong * 37 % 101) }
      .filter { case (a, b) => a != b }
    forAll(graphGen, n = 6) { edges =>
      if (edges.nonEmpty) {
        val df = edges.toDF("i", "j")
        val base = Dedup.connectedComponents(df)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val logn = Dedup.connectedComponentsLogN(df)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(logn == base, s"edges=$edges")
      }
    }
    // adversarial permuted chain: diameter 120 — the default operator's
    // min-label propagation would need ~120 rounds (> its maxIter); the
    // star rewrites must close it in O(log n)
    val perm = new scala.util.Random(11).shuffle((0L to 120L).toList)
    val chain = (0 until 120).map(i => (perm(i), perm(i + 1))).toDF("i", "j")
    val labels = Dedup.connectedComponentsLogN(chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 121 && labels.values.toSet == Set(0L),
      s"chain closure wrong: ${labels.toSeq.sortBy(_._1).take(8)}")
    // and the default operator closes the same chain (120 edges sit far
    // below its size guard, so this is the driver union-find)
    val viaDefault = Dedup.connectedComponents(chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaDefault == labels)
    // self-pair-only nodes keep their own label through the logN path
    val withSelf = chain.unionByName(Seq((999L, 999L)).toDF("i", "j"))
    val ls = Dedup.connectedComponentsLogN(withSelf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ls(999L) == 999L && ls.size == 122)
  }

  test("distributed closure that misses maxIter falls back to the logN closure") {
    // a permuted 6-node chain needs at least 3 propagation rounds: with
    // the size guard at 0 and maxIter = 1 the min-label propagation
    // cannot converge, so only the connectedComponentsLogN fallback
    // gives every node the chain's min id
    val perm = new scala.util.Random(5).shuffle((0L to 5L).toList)
    val chain = (0 until 5).map(i => (perm(i), perm(i + 1))).toDF("i", "j")
    def labels(cc: DataFrame): Map[Long, Long] =
      cc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = labels(Dedup.connectedComponents(chain, "i", "j", 1, 0L))
    assert(got == labels(Dedup.connectedComponentsLogN(chain)))
    assert(got.size == 6 && got.values.toSet == Set(0L), s"labels: $got")
  }

  test("keep-best dedup equals brute-force winner selection on random graphs") {
    // random pair graphs (self-loops allowed) + random scores with
    // duplicates and nulls: survivors must be exactly docs minus
    // per-component losers, winner = max score then min id, null = −∞
    val gen: Gen[(List[(Long, Long)], List[Option[Int]])] = for {
      n <- Gen.chooseNum(3, 25)
      m <- Gen.chooseNum(1, 40)
      edges <- Gen.listOfN(m,
        Gen.zip(Gen.chooseNum(0L, n.toLong), Gen.chooseNum(0L, n.toLong)))
      scores <- Gen.listOfN(n + 1, Gen.option(Gen.chooseNum(0, 5)))
    } yield (edges, scores)
    forAll(gen, n = 8) { case (es, scores) =>
      val pairs = es.toDF("i", "j")
      val docs = scores.zipWithIndex
        .map { case (s, i) => (i.toLong, s.map(_.toDouble)) }
        .toDF("doc_id", "score")
      val kept = Dedup.dropNearDupsKeepBest(docs, pairs, "doc_id", "score")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      // brute force: union-find over the pairs, winner per component
      val ids = scores.indices.map(_.toLong)
      val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
      def find(x: Long): Long =
        if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val inPairs = es.flatMap { case (a, b) => Seq(a, b) }.toSet
      def score(i: Long): Double =
        scores(i.toInt).map(_.toDouble).getOrElse(Double.NegativeInfinity)
      val losers = inPairs.groupBy(find).values.flatMap { members =>
        val winner = members.minBy(i => (-score(i), i))
        members - winner
      }.toSet
      val expected = ids.toSet -- losers
      assert(kept == expected, s"edges=$es scores=$scores")
    }
  }

  test("entity resolution closure equals brute-force closure on generated corpora") {
    val recGen: Gen[List[(Long, String, Int)]] = for {
      keys <- corpusGen
      rows <- Gen.sequence[List[(Long, String, Int)], (Long, String, Int)](
        keys.zipWithIndex.map { case (k, i) =>
          Gen.chooseNum(0, 1).map(blk => (i.toLong, k, blk))
        })
    } yield rows
    forAll(recGen, n = 5) { rows =>
      val resolved = EntityResolution.resolve(
        rows.toDF("rid", "name", "blk"), "rid", "name", "blk", maxDist = 2)
        .select("rid", "entity_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // brute-force union-find over exact pair semantics
      val parent = scala.collection.mutable.Map(rows.map(r => r._1 -> r._1): _*)
      def find(x: Long): Long =
        if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
      def union(a: Long, b: Long): Unit = {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      for {
        (i1, k1, b1) <- rows; (i2, k2, b2) <- rows
        if i1 < i2 && b1 == b2 && lev(k1, k2) <= 2
      } union(i1, i2)
      val expected = rows.map(r => r._1 -> find(r._1)).toMap
      assert(resolved == expected, s"rows=$rows")
    }
  }

  test("multi-pass resolution equals brute-force OR-of-blocking closure") {
    // two independent block keys per record — a pair matches when keys
    // are within distance AND EITHER block agrees (OR-of-passes)
    val recGen: Gen[List[(Long, String, Int, Int)]] = for {
      keys <- corpusGen
      rows <- Gen.sequence[List[(Long, String, Int, Int)],
        (Long, String, Int, Int)](
        keys.zipWithIndex.map { case (k, i) =>
          for {
            b1 <- Gen.chooseNum(0, 2)
            b2 <- Gen.chooseNum(0, 2)
          } yield (i.toLong, k, b1, b2)
        })
    } yield rows
    forAll(recGen, n = 5) { rows =>
      val resolved = EntityResolution.resolveMulti(
        rows.toDF("rid", "name", "blk1", "blk2"), "rid", "name",
        Seq(Seq("blk1"), Seq("blk2")), maxDist = 2)
        .select("rid", "entity_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val parent = scala.collection.mutable.Map(rows.map(r => r._1 -> r._1): _*)
      def find(x: Long): Long =
        if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
      def union(a: Long, b: Long): Unit = {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      for {
        (i1, k1, b1, c1) <- rows; (i2, k2, b2, c2) <- rows
        if i1 < i2 && (b1 == b2 || c1 == c2) && lev(k1, k2) <= 2
      } union(i1, i2)
      val expected = rows.map(r => r._1 -> find(r._1)).toMap
      assert(resolved == expected, s"rows=$rows")
    }
  }

  test("multi-pass: a composite pass requires ALL its columns to agree") {
    // pass = (blk1, blk2): rows 1/2 agree on blk1 only -> no match;
    // rows 1/3 agree on both -> match
    val rows = Seq(
      (1L, "abcd", 0, 0), (2L, "abcd", 0, 1), (3L, "abce", 0, 0))
      .toDF("rid", "name", "blk1", "blk2")
    val got = EntityResolution.resolveMulti(rows, "rid", "name",
      Seq(Seq("blk1", "blk2")), maxDist = 1)
      .select("rid", "entity_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 1L))
  }

  test("phonetic/affix pass helpers: a twin with a dirty block key merges only with the derived pass") {
    // smith/smyth: 1 substitution apart AND phonetically identical
    // (soundex S530) — but record 2's nation is typo'd, so single-pass
    // nation blocking can never bring the pair together
    val rows = Seq(
      (1L, "smith", "US"), (2L, "smyth", "UX"),
      (3L, "jones", "US"), (4L, "jonez", "US") // clean-block control pair
    ).toDF("rid", "name", "nation")
    def labels(df: org.apache.spark.sql.DataFrame,
               passes: Seq[Seq[String]]): Map[Long, Long] =
      EntityResolution.resolveMulti(df, "rid", "name", passes, maxDist = 1)
        .select("rid", "entity_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // nation-only: the dirty-key twin stays split
    assert(labels(rows, Seq(Seq("nation"))) ==
      Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 3L))
    // nation OR soundex: S530 == S530 rescues the twin; controls keep
    // their labels (OR-of-passes only ADDS reachability)
    val (r1, sdx) = EntityResolution.soundexPass(rows, "name")
    assert(labels(r1, Seq(Seq("nation"), sdx)) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L))
    // prefix pass (first 2 chars "sm") rescues the same twin; a suffix
    // pass cannot (smith/smyth differ in their 3-char suffixes "ith"
    // vs "yth" — the derived key must actually AGREE to block)
    val (r2, pfx) = EntityResolution.prefixPass(rows, "name", 2)
    assert(labels(r2, Seq(Seq("nation"), pfx)) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L))
    val (r3, sfx) = EntityResolution.suffixPass(rows, "name", 3)
    assert(labels(r3, Seq(Seq("nation"), sfx)) ==
      Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 3L))
  }

  // ------------------------------------------------------------------
  // resolveDeltaMulti restructure equivalence
  // ------------------------------------------------------------------

  test("resolveDeltaMulti after the r18 restructure: adoption minimum " +
    "still propagates to every component member, components with no " +
    "adopted member keep their component-min id, non-edge records keep " +
    "their own id") {
    // corpus: two stored entities under nation blocking
    val corpus = Seq(
      (100L, "smith", 1), (101L, "smith", 1), // entity 100
      (200L, "jones", 2)                      // entity 200
    ).toDF("rid", "name", "blk")
    val stored = EntityResolution.resolve(corpus, "rid", "name", "blk", 1)
    val delta = Seq(
      (300L, "smith", 1),  // adopts 100 directly
      (301L, "smyth", 1),  // within-delta edge to 300 (dist 1) → adopts 100
      (400L, "zzzzz", 2),  // fresh pair: new entity labeled by min id
      (401L, "zzzzz", 2),
      (500L, "alone", 3)   // isolated, matches nothing: keeps own id
    ).toDF("rid", "name", "blk")
    val got = EntityResolution.resolveDelta(stored, delta, "rid", "name",
      "blk", 1).select("rid", "entity_id").as[(Long, Long)]
      .collect().toMap
    assert(got == Map(300L -> 100L, 301L -> 100L,
      400L -> 400L, 401L -> 400L, 500L -> 500L))
  }
}
