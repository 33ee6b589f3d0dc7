package graft

import org.apache.spark.sql.functions._

import graft.operators.{Clustering, Sampling}

/** K-means geometry + diversity sampling. The verdict query (q96) pins
  * the algebraic invariants; cluster GEOMETRY — that Lloyd's actually
  * recovers structure — is only testable against a planted fixture,
  * which is this spec's job. */
class ClusteringSpec extends SparkSpec {

  import spark.implicits._

  /** Three well-separated unit directions in R^8 with small
    * deterministic jitter — blob membership is the ground truth. */
  private def blobs(n: Int): Seq[(Long, Int, Array[Float])] = {
    val dirs = Array(
      Array(1.0, 0, 0, 0, 0, 0, 0, 0),
      Array(0, 0, 0, 1.0, 0, 0, 0, 0),
      Array(0, 0, 0, 0, 0, 0, 1.0, 0))
    val rnd = new scala.util.Random(7)
    (0 until n).map { i =>
      val b = i % 3
      val v = dirs(b).map(x => (x + 0.08 * rnd.nextGaussian()).toFloat)
      (i.toLong, b, v)
    }
  }

  test("k-means recovers planted blobs exactly (k=3)") {
    val data = blobs(120)
    val df = data.map { case (id, _, v) => (id, v) }.toDF("vec_id", "embedding")
    val cents = Clustering.train(df, k = 3, iters = 4)
    val got = Clustering.assign(df, cents)
      .select("vec_id", "cluster")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val truth = data.map { case (id, b, _) => id -> b }.toMap
    // cluster ids are arbitrary — require the PARTITION to match: same
    // blob iff same cluster
    for ((i, bi) <- truth; (j, bj) <- truth if i < j)
      assert((bi == bj) == (got(i) == got(j)),
        s"rows $i (blob $bi, cell ${got(i)}) / $j (blob $bj, cell ${got(j)})")
  }

  test("inertia is non-increasing across Lloyd rounds") {
    val df = blobs(90).map { case (id, _, v) => (id, v) }
      .toDF("vec_id", "embedding")
    val is = (0 to 3).map(it =>
      Clustering.inertia(df, Clustering.train(df, k = 3, iters = it)))
    is.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a + 1e-9, s"inertia went up: $is")
    }
    // and training actually helps on this fixture
    assert(is.last < is.head)
  }

  test("assign appends a valid cluster id and keeps input columns") {
    val df = blobs(30).map { case (id, _, v) => (id, v) }
      .toDF("vec_id", "embedding")
    val cents = Clustering.train(df, k = 4, iters = 1)
    val a = Clustering.assign(df, cents)
    assert(a.columns.toSeq == Seq("vec_id", "embedding", "cluster"))
    val cells = a.select("cluster").distinct().collect().map(_.getInt(0))
    assert(cells.forall(c => c >= 0 && c < 4))
  }

  /** The sample's hash of an id's string form: the first 15 hex nibbles
    * of its md5, as a double. */
  private def idHash(id: String): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(id.getBytes("UTF-8"))
    java.lang.Long.parseLong(
      md.take(8).map(b => f"$b%02x").mkString.take(15), 16).toDouble
  }

  test("diversity sample: per-cluster quota, subset, deterministic hash order") {
    val df = (0L until 200L).map(i => (i, (i % 5).toString)).toDF("id", "c")
    val got = Sampling.diversitySample(df, "id", "c", quota = 7)
      .collect().map(r => (r.getString(1), r.getLong(0)))
    val byC = got.groupBy(_._1)
    assert(byC.values.forall(_.length == 7)) // 40 per cluster, quota binds
    // brute-force expectation: ascending (hash-as-double, id)
    val expected = (0L until 200L).groupBy(i => (i % 5).toString)
      .toSeq.flatMap { case (c, ids) =>
        ids.sortBy(i => (idHash(i.toString), i)).take(7).map(i => (c, i))
      }.toSet
    assert(got.toSet == expected)
  }

  test("diversity sample ranks string ids and rejects null ids by name") {
    // a string/UUID id ranks by the same (hash, id) order as an integral
    // one and joins back in its own type
    val rows = (0 until 30).map(i => (s"a-$i", s"c${i % 2}"))
    val got = Sampling.diversitySample(rows.toDF("id", "c"), "id", "c",
      quota = 4).collect().map(r => (r.getString(1), r.getString(0))).toSet
    val expected = rows.groupBy(_._2).toSeq.flatMap { case (c, rs) =>
      rs.map(_._1).sortBy(id => (idHash(id), id)).take(4).map(id => (c, id))
    }.toSet
    assert(got == expected, s"string-id sample diverged: $got")
    // a null id inside an integral column fails the JOB with a named
    // error, never a silent drop or an encoder NPE
    val withNull = Seq((java.lang.Long.valueOf(1L), "c0"),
      (null.asInstanceOf[java.lang.Long], "c0")).toDF("id", "c")
    val e2 = intercept[Exception] {
      Sampling.diversitySample(withNull, "id", "c", quota = 5).collect()
    }
    assert(e2.getMessage.contains("null id") ||
      Option(e2.getCause).exists(_.getMessage.contains("null id")))
  }

  test("diversity sample keeps whole clusters smaller than the quota") {
    val df = (0L until 10L).map(i => (i, if (i < 8) "big" else "tiny"))
      .toDF("id", "c")
    val got = Sampling.diversitySample(df, "id", "c", quota = 3)
      .collect().map(r => (r.getString(1), r.getLong(0)))
    assert(got.count(_._1 == "big") == 3)
    assert(got.count(_._1 == "tiny") == 2) // under quota: all kept
  }

  test("semantic dedup drops planted twins; recall 1 on separated blobs") {
    // blobs + exact twins of every 3rd row (cos 1.0 with their source):
    // identical vectors rank cells identically, so every planted pair
    // shares all `replicate` cells — recall must be exactly 1 here
    val base = blobs(90)
    val twins = base.filter(_._1 % 3 == 0)
      .map { case (id, b, v) => (id + 1000L, b, v) }
    val df = (base ++ twins).map { case (id, _, v) => (id, v) }
      .toDF("vec_id", "embedding")
    val cents = Clustering.train(df, k = 3, iters = 3)
    val (survivors, pairs) = Clustering.semanticDedup(df, cents,
      threshold = 0.999)
    val sIds = survivors.select("vec_id").collect().map(_.getLong(0)).toSet
    // every twin dropped (its source has the smaller id), sources kept
    twins.foreach { case (id, _, _) =>
      assert(!sIds.contains(id), s"twin $id survived")
      assert(sIds.contains(id - 1000L), s"source ${id - 1000L} dropped")
    }
    // pairs are within-threshold and include every planted pair
    val pSet = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    twins.foreach { case (id, _, _) =>
      assert(pSet.contains((id - 1000L, id)), s"planted pair for $id missed")
    }
  }

  test("diversity sample plans without a window or data-sized sort") {
    val df = (0L until 50L).map(i => (i, (i % 3).toString)).toDF("id", "c")
    val plan = Sampling.diversitySample(df, "id", "c", quota = 5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"window crept into the plan:\n$plan")
  }

  /** Unit vector at angle θ from the first axis in the (x1, x2) plane —
    * cosine to centroid (1, 0, …) is exactly cos θ up to float width. */
  private def atAngle(theta: Double): Array[Float] =
    Array(math.cos(theta).toFloat, math.sin(theta).toFloat, 0f, 0f)

  test("prototype prune: exact order-statistic cuts on a known geometry") {
    // 10 vectors at increasing angles — prototypicality (cos) strictly
    // DECREASES with id; centroid is the first axis
    val df = (0 until 10).map(i => (i.toLong, atAngle(0.1 + 0.15 * i)))
      .toDF("vec_id", "embedding").withColumn("cluster", lit(0))
    val cents = Array(Array(1.0, 0, 0, 0))
    val kept = Clustering.prototypePrune(df, cents,
        pruneFrac = 0.3, outlierFrac = 0.2, clusterCol = Some("cluster"))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // dropTop = floor(0.3·10) = 3 most prototypical (ids 0, 1, 2);
    // dropBot = floor(0.2·10) = 2 least (ids 8, 9) — kept is 3..7
    assert(kept == Set(3L, 4L, 5L, 6L, 7L), s"got $kept")
  }

  test("prototype prune: ties at the cut KEEP (deterministic membership)") {
    // three rows share the top score — a 0.4 prune (dropTop = 2) lands
    // its threshold ON the tied score, so all three survive
    val df = Seq(
      (0L, atAngle(0.2)), (1L, atAngle(0.2)), (2L, atAngle(0.2)),
      (3L, atAngle(0.9)), (4L, atAngle(1.3)))
      .toDF("vec_id", "embedding").withColumn("cluster", lit(0))
    val kept = Clustering.prototypePrune(df, Array(Array(1.0, 0, 0, 0)),
        pruneFrac = 0.4, clusterCol = Some("cluster"))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L, 1L, 2L, 3L, 4L), s"got $kept")
  }

  test("prototype prune: argmax-assign path respects per-cluster budgets") {
    val data = blobs(120)
    val df = data.map { case (id, _, v) => (id, v) }.toDF("vec_id", "embedding")
    val cents = Clustering.train(df, k = 3, iters = 4)
    val kept = Clustering.prototypePrune(df, cents,
      pruneFrac = 0.25, outlierFrac = 0.1)
    assert(kept.columns.toSeq ==
      Seq("vec_id", "embedding", "cluster", "proto"))
    val before = Clustering.assign(df, cents)
      .groupBy("cluster").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val after = kept.groupBy("cluster").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    before.foreach { case (c, n) =>
      val lo = n - (0.25 * n).toLong - (0.1 * n).toLong
      assert(after.getOrElse(c, 0L) >= lo && after(c) <= n,
        s"cluster $c kept ${after.get(c)} of $n (floor $lo)")
    }
    // survivors are a subset of the input
    val ids = df.select("vec_id").collect().map(_.getLong(0)).toSet
    kept.select("vec_id").collect().map(_.getLong(0))
      .foreach(id => assert(ids.contains(id)))
  }

  test("prototype prune: out-of-range cluster value fails by name") {
    val df = Seq((0L, atAngle(0.1), 7)).toDF("vec_id", "embedding", "cluster")
    val e = intercept[Exception] {
      Clustering.prototypePrune(df, Array(Array(1.0, 0, 0, 0)),
        pruneFrac = 0.2, clusterCol = Some("cluster")).collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("prototypePrune"),
      s"unexpected error: ${e.getMessage}")
  }

  test("prototype prune: NULL cluster rows DROP (documented), not crash") {
    val df = Seq(
      (0L, atAngle(0.1), Some(0)), (1L, atAngle(0.2), Some(0)),
      (2L, atAngle(0.3), Some(0)), (3L, atAngle(0.15), None)
    ).toDF("vec_id", "embedding", "cluster")
    val kept = Clustering.prototypePrune(df, Array(Array(1.0, 0, 0, 0)),
      pruneFrac = 0.0, outlierFrac = 0.0, clusterCol = Some("cluster"))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L, 1L, 2L),
      s"NULL-cluster row must be excluded, everything else kept: $kept")
  }
}
