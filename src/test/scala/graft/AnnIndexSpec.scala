package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Stored-index upkeep: conditional maintenance, layout-preserving
  * rebuilds, same-tick append attribution in index health, and rebuilds
  * from recorded source lineage. */
class AnnIndexSpec extends SparkSpec {

  import spark.implicits._

  // ------------------------------------------------------------------
  // maintainIndex
  // ------------------------------------------------------------------

  /** Healthy flat fixture: decorrelated vectors, no appends. */
  private def healthyIndex(): String = {
    val dir = java.nio.file.Files.createTempDirectory("maint_ok").toString
    val base = spark.range(0, 64).select(col("id").as("vec_id"),
      transform(sequence(lit(1), lit(8)), i =>
        sin(i * col("id")).cast("double")).as("embedding"))
    Similarity.saveIvfIndex(base, dir, nlist = 4, kmeansIters = 2,
      replicate = 1)
    dir
  }

  test("maintainIndex on a planted-drift store rebuilds EXACTLY once at " +
    "the new path and returns the fired health row") {
    val dir = healthyIndex()
    // plant the drift: append the corpus onto itself (frac 0.5)
    val assign = spark.read.parquet(s"$dir/corpus")
      .select(col("neighbor_id"), col("cv"), col("cell"))
    Similarity.appendToIvfIndex(assign, dir)
    val fresh = s"${dir}_rebuilt"
    val row = Similarity.maintainIndex(spark, dir, fresh, nlist = 4,
      kmeansIters = 2, replicate = 1).collect().head
    assert(row.getAs[Boolean]("recommend_rebuild"))
    assert(row.getAs[Boolean]("rebuilt"))
    assert(row.getAs[String]("new_path") == fresh)
    assert(row.getAs[Long]("rows_total") == 128 &&
      row.getAs[Long]("rows_appended") == 64)
    // the fresh layout collapsed the duplicated vectors and is clean
    val h = Similarity.indexHealth(spark, fresh).collect().head
    assert(h.getAs[Long]("rows_total") == 64 &&
      h.getAs[Long]("rows_appended") == 0)
    assert(h.getAs[Double]("appended_frac") == 0.0)
  }

  test("maintainIndex on a healthy store is a NO-OP: no rebuild dir, no " +
    "jobs beyond the footer census") {
    val dir = healthyIndex()
    val fresh = s"${dir}_rebuilt"
    val censusJobs = jobsDuring {
      Similarity.indexHealth(spark, dir).collect(): Unit
    }
    val maintJobs = jobsDuring {
      val row = Similarity.maintainIndex(spark, dir, fresh).collect().head
      assert(!row.getAs[Boolean]("rebuilt"))
      assert(row.isNullAt(row.fieldIndex("new_path")))
    }
    val fs = new org.apache.hadoop.fs.Path(fresh)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(fresh)),
      "healthy store must not write a rebuild layout")
    assert(maintJobs <= censusJobs + 1,
      s"healthy maintainIndex ran $maintJobs jobs vs $censusJobs for the " +
        "bare census — it must add nothing beyond the health measurement")
  }

  test("maintainIndex on a drifted SQ8 store rebuilds the SAME layout " +
    "from the source corpus; without the source it fails by name") {
    val dir = java.nio.file.Files.createTempDirectory("maint_sq").toString
    // range starts at 1: id = 0 makes sin(i*id) the all-zero vector,
    // whose normalize() is NaN and destabilizes k-means realization
    val base = spark.range(1, 65).select(col("id").as("vec_id"),
      transform(sequence(lit(1), lit(8)), i =>
        sin(i * col("id")).cast("double")).as("embedding"))
    Similarity.saveIvfSqIndex(base, dir, nlist = 4, kmeansIters = 2,
      replicate = 1)
    // plant the drift: duplicate the stored codes in place (frac 0.5)
    val assign = spark.read.parquet(s"$dir/corpus")
      .select(col("neighbor_id"), col("sq_code"), col("cell"))
      .localCheckpoint(true)
    assign.repartition(col("cell")).write.mode("append")
      .partitionBy("cell").parquet(s"$dir/corpus")
    // quantized codes are lossy: no source → by-name error, nothing built
    val e = intercept[IllegalArgumentException] {
      Similarity.maintainIndex(spark, dir, s"${dir}_x")
    }
    assert(e.getMessage.contains("ivf-sq8") &&
      e.getMessage.contains("source"))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"${dir}_x")))
    // with the source corpus the rebuild lands the SAME layout kind
    val fresh = s"${dir}_rebuilt"
    val row = Similarity.maintainIndex(spark, dir, fresh,
      kmeansIters = 2, replicate = 1, source = Some(base))
      .collect().head
    assert(row.getAs[Boolean]("rebuilt") &&
      row.getAs[String]("layout") == "ivf-sq8")
    val h = Similarity.indexHealth(spark, fresh).collect().head
    assert(h.getAs[String]("layout") == "ivf-sq8")
    // nlist carries over as the ORIGINAL store's realized centroid count
    // (k-means may realize fewer than requested on a degenerate fixture —
    // the carry-over contract is store → store, not request → store)
    assert(h.getAs[Int]("nlist") == row.getAs[Int]("nlist"),
      "nlist must carry over from the store")
    assert(h.getAs[Long]("rows_total") == 64 &&
      h.getAs[Long]("rows_appended") == 0)
    // the fresh store serves: stored kNN against itself finds itself
    val knn = Similarity.quantizedKnnStored(spark, fresh,
      base.limit(4), k = 1, nprobe = 4)
    assert(knn.count() == 4)
  }

  test("rebuildStoredIndex preserves PQ code geometry (m, ksub) from " +
    "the stored codebooks") {
    val dir = java.nio.file.Files.createTempDirectory("maint_pq").toString
    val base = spark.range(1, 65).select(col("id").as("vec_id"),
      transform(sequence(lit(1), lit(8)), i =>
        sin(i * col("id")).cast("double")).as("embedding"))
    Similarity.saveIvfPqIndex(base, dir, nlist = 4, m = 4, ksub = 8,
      kmeansIters = 2, replicate = 1)
    val fresh = s"${dir}_rebuilt"
    val layout = Similarity.rebuildStoredIndex(spark, dir, fresh,
      source = Some(base), kmeansIters = 2, replicate = 1)
    assert(layout == "ivf-pq")
    val pq = spark.read.parquet(s"$fresh/pq")
      .agg(max("blk"), max("cid")).head()
    assert(pq.getInt(0) + 1 == 4 && pq.getInt(1) + 1 == 8,
      "rebuilt codebooks must keep the stored m and ksub")
  }

  // ------------------------------------------------------------------
  // stamp order: the build stamp asserts a complete layout
  // ------------------------------------------------------------------

  test("a save whose centroid write fails leaves no build stamp, for " +
    "flat, PQ and SQ8") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.failcent.impl", classOf[FailingCentroidsFs].getName)
    val root = java.nio.file.Files.createTempDirectory("stamp_order").toString
    val base = sineCorpus(32)
    val saves: Seq[(String, String => Unit)] = Seq(
      "flat" -> (p => Similarity.saveIvfIndex(base, p, nlist = 2,
        kmeansIters = 1, replicate = 1)),
      "pq" -> (p => Similarity.saveIvfPqIndex(base, p, nlist = 2, m = 4,
        ksub = 4, kmeansIters = 1, pqIters = 1, replicate = 1): Unit),
      "sq8" -> (p => Similarity.saveIvfSqIndex(base, p, nlist = 2,
        kmeansIters = 1, replicate = 1): Unit))
    saves.foreach { case (name, save) =>
      intercept[Exception](save(s"failcent:$root/$name"))
      assert(new java.io.File(s"$root/$name/corpus").isDirectory,
        s"$name: the corpus write should still have landed")
      assert(!new java.io.File(s"$root/$name/corpus/_build_stamp").exists,
        s"$name: a failed centroid write left a stamped layout")
    }
  }

  // ------------------------------------------------------------------
  // membership stamp + parallel footer census
  // ------------------------------------------------------------------

  test("indexHealth attributes a SAME-TICK append by stamp membership — " +
    "no mtime-granularity dependence — across many files") {
    val dir = healthyIndex()
    // six immediate appends, no sleeps: membership attribution cannot
    // mis-file them however coarse the filesystem clock; ~28 corpus
    // files also push the census through the bounded thread pool.
    // localCheckpoint severs the lineage from the path — each write to
    // the same dir otherwise invalidates the cached scan and the next
    // append re-reads the grown corpus
    val assign = spark.read.parquet(s"$dir/corpus")
      .select(col("neighbor_id"), col("cv"), col("cell"))
      .localCheckpoint(true)
    (1 to 6).foreach(_ => Similarity.appendToIvfIndex(assign, dir))
    val h = Similarity.indexHealth(spark, dir).collect().head
    assert(h.getAs[Long]("rows_total") == 64L * 7)
    assert(h.getAs[Long]("rows_appended") == 64L * 6)
    assert(math.abs(h.getAs[Double]("appended_frac") - 6.0 / 7) < 1e-3)
    // cross-check the parallel census against a real scan
    assert(h.getAs[Long]("rows_total") ==
      spark.read.parquet(s"$dir/corpus").count())
  }

  // ------------------------------------------------------------------
  // quantized-index source lineage
  // ------------------------------------------------------------------

  private def sineCorpus(n: Int = 64) =
    // range starts at 1: id = 0 makes sin(i*id) the all-zero vector,
    // whose normalize() is NaN and destabilizes k-means realization
    spark.range(1, n + 1).select(col("id").as("vec_id"),
      transform(sequence(lit(1), lit(8)), i =>
        sin(i * col("id")).cast("double")).as("embedding"))

  test("maintainIndex on a drifted SQ8 store with recorded lineage " +
    "rebuilds hands-off (no source argument) and carries the lineage " +
    "forward into the fresh layout") {
    val root = java.nio.file.Files.createTempDirectory("lin_sq").toString
    val srcPath = s"$root/source"
    val dir = s"$root/idx"
    val base = sineCorpus()
    base.write.parquet(srcPath)
    Similarity.saveIvfSqIndex(base, dir, nlist = 4, kmeansIters = 2,
      replicate = 1, sourcePath = Some(srcPath))
    assert(Similarity.readLineage(spark, dir) ==
      Some((srcPath, "vec_id", "embedding")))
    // plant the drift: duplicate the stored codes in place (frac 0.5)
    val assign = spark.read.parquet(s"$dir/corpus")
      .select(col("neighbor_id"), col("sq_code"), col("cell"))
      .localCheckpoint(true)
    assign.repartition(col("cell")).write.mode("append")
      .partitionBy("cell").parquet(s"$dir/corpus")
    val fresh = s"$root/rebuilt"
    val row = Similarity.maintainIndex(spark, dir, fresh,
      kmeansIters = 2, replicate = 1) // NO source: lineage drives it
      .collect().head
    assert(row.getAs[Boolean]("rebuilt") &&
      row.getAs[String]("layout") == "ivf-sq8")
    val h = Similarity.indexHealth(spark, fresh).collect().head
    assert(h.getAs[String]("layout") == "ivf-sq8")
    assert(h.getAs[Long]("rows_total") == 64 &&
      h.getAs[Long]("rows_appended") == 0,
      "rebuild must retrain from the recorded source, not the " +
        "drift-duplicated codes")
    // lineage carried forward: the NEXT maintenance tick is hands-off too
    assert(Similarity.readLineage(spark, fresh) ==
      Some((srcPath, "vec_id", "embedding")))
    // the fresh store serves
    assert(Similarity.quantizedKnnStored(spark, fresh, base.limit(4), k = 1,
      nprobe = 4).count() == 4)
  }

  test("lineage whose recorded source path is GONE fails by name and " +
    "builds nothing; an explicit source still wins over lineage") {
    val root = java.nio.file.Files.createTempDirectory("lin_gone").toString
    val srcPath = s"$root/source"
    val dir = s"$root/idx"
    val base = sineCorpus()
    base.write.parquet(srcPath)
    Similarity.saveIvfSqIndex(base, dir, nlist = 4, kmeansIters = 2,
      replicate = 1, sourcePath = Some(srcPath))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(srcPath), true)
    val e = intercept[IllegalArgumentException] {
      Similarity.rebuildStoredIndex(spark, dir, s"$root/x")
    }
    assert(e.getMessage.contains("lineage") &&
      e.getMessage.contains(srcPath))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/x")),
      "a failed lineage rebuild must build nothing")
    // explicit source is consulted FIRST — dead lineage cannot block it
    val layout = Similarity.rebuildStoredIndex(spark, dir, s"$root/y",
      source = Some(base), kmeansIters = 2, replicate = 1)
    assert(layout == "ivf-sq8")
    assert(Similarity.quantizedKnnStored(spark, s"$root/y", base.limit(2),
      k = 1, nprobe = 4).count() == 2)
  }

  test("PQ lineage rebuild preserves code geometry and records no " +
    "lineage when the builder passed none") {
    val root = java.nio.file.Files.createTempDirectory("lin_pq").toString
    val srcPath = s"$root/source"
    val base = sineCorpus()
    base.write.parquet(srcPath)
    val dir = s"$root/idx"
    Similarity.saveIvfPqIndex(base, dir, nlist = 4, m = 4, ksub = 8,
      kmeansIters = 2, replicate = 1, sourcePath = Some(srcPath))
    val fresh = s"$root/rebuilt"
    val layout = Similarity.rebuildStoredIndex(spark, dir, fresh,
      kmeansIters = 2, replicate = 1) // lineage-driven
    assert(layout == "ivf-pq")
    val pq = spark.read.parquet(s"$fresh/pq")
      .agg(max("blk"), max("cid")).head()
    assert(pq.getInt(0) + 1 == 4 && pq.getInt(1) + 1 == 8,
      "lineage rebuild must keep the stored m and ksub")
    assert(Similarity.readLineage(spark, fresh) ==
      Some((srcPath, "vec_id", "embedding")))
    // a store saved WITHOUT sourcePath records nothing — lineage is the
    // builder's promise, never an inference
    val bare = s"$root/bare"
    Similarity.saveIvfPqIndex(base, bare, nlist = 4, m = 4, ksub = 8,
      kmeansIters = 2, replicate = 1)
    assert(Similarity.readLineage(spark, bare).isEmpty)
  }
}

/** The local filesystem under the `failcent` scheme, except that every
  * create or mkdirs under a `/centroids` path throws: it fails exactly
  * the centroid write of an index save. */
class FailingCentroidsFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  import org.apache.hadoop.fs.{FSDataOutputStream, Path}
  import org.apache.hadoop.fs.permission.FsPermission
  import org.apache.hadoop.util.Progressable

  override def getUri: java.net.URI = java.net.URI.create("failcent:///")
  override def getScheme: String = "failcent"

  private def refuse(f: Path): Unit =
    if (f.toUri.getPath.contains("/centroids"))
      throw new java.io.IOException(s"injected write failure at $f")

  override def mkdirs(f: Path): Boolean = { refuse(f); super.mkdirs(f) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    refuse(f); super.mkdirs(f, permission)
  }
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    refuse(f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    refuse(f)
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
}
