package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

import graft.functions.VectorExpressions.dotp
import graft.model.Aggregators.topKByScore

/** Similarity search over an embedding column (`Array[Float]`) — north-star
  * extension. Two paths:
  *
  *  - [[bruteKnn]]: exact cosine top-k. The join is a cartesian
  *    (queries × corpus) but the *query side is broadcast* — at 100 TB the
  *    corpus streams through executors once, no shuffle of the corpus at
  *    all — and ranking is a bounded per-partition top-k aggregation, so
  *    the only shuffle moves ≤ k rows per (partition, query).
  *  - [[lshKnn]]: random-hyperplane sign-LSH bucketing — candidates share a
  *    bucket in at least one of `tables` hash tables; only candidates get
  *    the exact cosine. Hyperplanes are deterministic pseudo-random
  *    (md5-derived), so results are reproducible across runs and engines.
  *
  * Dot products use `zip_with` + `aggregate` over doubles — codegen'd
  * native expressions, no UDF.
  */
object Similarity {

  /** Default cap on rows fed to centroid/codebook Lloyd training —
    * statistics saturate long before this; a 100 TB corpus must not pay
    * iters × full scans for training ([[boundedTrainSample]]). */
  val DefaultMaxTrainRows: Long = 262144L

  /** Dot product of two double-array columns — a custom codegen'd Catalyst
    * expression: the higher-order-function formulation
    * (`aggregate(zip_with(...))`) is CodegenFallback and ~15× slower on
    * n²-pair workloads (graft.functions.DotProduct). */
  def dot(x: Column, y: Column): Column = dotp(x, y)

  /** Cosine similarity of two Array[Float] columns, computed in double
    * (cast first: float math would lose too much for stable ranking). */
  def cosine(a: Column, b: Column): Column = {
    def d(x: Column, y: Column): Column =
      aggregate(
        zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
        lit(0.0), (acc, v) => acc + v)
    d(a, b) / sqrt(d(a, a)) / sqrt(d(b, b))
  }

  /** L2-normalize a float-array column into a double array — done ONCE per
    * vector so pairwise similarity is a single dot product instead of
    * three (the norms would otherwise be recomputed for every pair: at n²
    * pairs that's the difference between O(n²d) and O(3n²d + casts)).
    * Codegen'd custom expression: the HOF formulation is CodegenFallback
    * and was the residual interpreted cost of every similarity plan. */
  def normalize(vec: Column): Column =
    graft.functions.VectorExpressions.l2normalize(vec.cast("array<double>"))

  /** Exact brute-force top-k: for each query vector, the k nearest corpus
    * vectors by cosine (ties broken by id — fully deterministic). Query
    * side is expected small → broadcast; corpus is scanned once.
    *
    * Ranking is the bounded per-group top-k
    * ([[graft.model.Aggregators.topKByScore]]): the shuffle after scoring
    * carries at most |Q|·k rows per partition, never the full |Q|·|C|
    * scored relation.
    *
    * `excludeSelf` (default true) drops pairs where query_id equals
    * neighbor_id — the right semantics when queries ARE corpus rows
    * (near-dup discovery: a vector is trivially its own nearest
    * neighbor). Pass false when query ids live in an INDEPENDENT id
    * space from corpus ids (hybrid retrieval: a query numbered 7 must
    * not silently lose corpus doc 7). */
  def bruteKnn(queries: DataFrame, corpus: DataFrame, k: Int,
               qId: String = "vec_id", qVec: String = "embedding",
               cId: String = "vec_id", cVec: String = "embedding",
               excludeSelf: Boolean = true): DataFrame = {
    val q = queries.select(col(qId).as("query_id"), normalize(col(qVec)).as("qv"))
    val c = corpus.select(col(cId).as("neighbor_id"), normalize(col(cVec)).as("cv"))
    val cond = if (excludeSelf) col("query_id") =!= col("neighbor_id") else lit(true)
    val scored = c.join(broadcast(q), cond)
      .withColumn("cos", dot(col("qv"), col("cv")))
    topKByScore(scored, Seq("query_id"), "cos", "neighbor_id", k)
  }

  /** HARD-NEGATIVE MINING for contrastive/retriever training (the DPR
    * recipe — Karpukhin et al. 2020, "Dense Passage Retrieval"; SimCSE's
    * in-batch upgrade): for each anchor, the top-k corpus vectors inside
    * the cosine band [lo, hi) — similar enough to be informative
    * negatives, but below the near-duplicate ceiling so true positives
    * (copies, paraphrases) are never labeled negative. Self pairs are
    * excluded (anchors are corpus rows).
    *
    * Same scale shape as [[bruteKnn]]: anchors broadcast, corpus scanned
    * once, the band filter prunes BEFORE ranking, and ranking is the
    * bounded per-partition top-k aggregation — the shuffle carries ≤ k
    * rows per (partition, anchor). Swap the scorer for an IVF probe via
    * [[ivfKnnStored]] + a band filter when the corpus is indexed. */
  def hardNegatives(anchors: DataFrame, corpus: DataFrame, k: Int,
                    lo: Double, hi: Double,
                    qId: String = "vec_id", qVec: String = "embedding",
                    cId: String = "vec_id", cVec: String = "embedding"): DataFrame = {
    require(lo < hi, s"need lo < hi, got [$lo, $hi)")
    val q = anchors.select(col(qId).as("query_id"), normalize(col(qVec)).as("qv"))
    val c = corpus.select(col(cId).as("neighbor_id"), normalize(col(cVec)).as("cv"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", dot(col("qv"), col("cv")))
      .filter(col("cos") >= lo && col("cos") < hi)
    topKByScore(scored, Seq("query_id"), "cos", "neighbor_id", k)
  }

  /** The deterministic hash stream every pseudo-random constant in this
    * file derives from: md5(key) → first 15 hex nibbles → non-negative
    * long in [0, 2^60). ONE definition — [[planeVector]] (LSH) and
    * [[rpRow]] (JL signs) both map this stream, so the truncation/
    * parsing contract cannot drift between them. */
  private def md5Long(key: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(key.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(15)
    java.lang.Long.parseLong(hex, 16)
  }

  /** Deterministic pseudo-random hyperplane for (table, plane): md5-derived
    * components in [-0.5, 0.5), materialized driver-side as a literal array
    * (tiny: planes × dim doubles) so the projection is one codegen'd dot
    * product per row instead of per-element interpreted lambdas. */
  private def planeVector(table: Int, plane: Int, dim: Int): Array[Double] =
    Array.tabulate(dim) { i =>
      md5Long(s"$table|$plane|$i").toDouble / (1L << 60).toDouble - 0.5
    }

  /** All `tables` hyperplanes as one constant tensor [table][plane][dim]
    * for [[graft.functions.AnnKernels.signLshBuckets]]. */
  private def planeTensor(tables: Int, planes: Int,
                          dim: Int): Array[Array[Array[Double]]] =
    Array.tabulate(tables)(t => Array.tabulate(planes)(p =>
      planeVector(t, p, dim)))

  /** Explode `df` into one row per (row, table) with its bucket id —
    * the shared candidate-generation input for [[lshKnn]] and
    * [[nearDupPairs]]. Output: (idAs, vecAs, t, b).
    *
    * All buckets come from ONE compact kernel call
    * ([[graft.functions.SignLshBuckets]]) whose result posexplodes into
    * (table, bucket) rows. The previous shape — explode a table sequence,
    * then a planes-way `when(dotp…)` chain against a literal tensor —
    * inlined tables-independent but planes-proportional dot-product code
    * into the GenerateExec consume and (with the downstream join fused)
    * overflowed janino's 64 KB method limit, silently degrading the
    * hottest LSH stages to interpreted execution. Null vectors now
    * produce no bucket rows at all (kernel returns null → posexplode
    * drops) instead of landing every null vector in bucket 0 of every
    * table — same final results (null cosines were already filtered),
    * strictly less skew. */
  private def bucketRows(df: DataFrame, id: String, vec: String,
                         idAs: String, vecAs: String,
                         tables: Int, planes: Int, dim: Int): DataFrame = {
    val tensor = planeTensor(tables, planes, dim)
    df.select(col(id).as(idAs), normalize(col(vec)).as(vecAs))
      .select(col(idAs), col(vecAs),
        posexplode(graft.functions.AnnExpressions.signLshBuckets(
          col(vecAs), tensor)).as(Seq("t", "b")))
  }

  /** Approximate top-k via sign-LSH: candidates = corpus vectors sharing a
    * bucket with the query in any of `tables` tables; exact cosine + top-k
    * over candidates only. At scale the corpus bucket ids are precomputed
    * once (a column write), and each query probes `tables` buckets — the
    * scan is a semi-join on bucket keys instead of a full pass. */
  def lshKnn(queries: DataFrame, corpus: DataFrame, k: Int,
             tables: Int = 8, planes: Int = 8, dim: Int = 64,
             qId: String = "vec_id", qVec: String = "embedding",
             cId: String = "vec_id", cVec: String = "embedding"): DataFrame = {
    val qB = bucketRows(queries, qId, qVec, "query_id", "qv", tables, planes, dim)
    val cB = bucketRows(corpus, cId, cVec, "neighbor_id", "cv", tables, planes, dim)
    val cands = cB.join(broadcast(qB), Seq("t", "b"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "qv", "neighbor_id", "cv").distinct()
    topKByScore(cands.withColumn("cos", dot(col("qv"), col("cv"))),
      Seq("query_id"), "cos", "neighbor_id", k)
  }

  /** IVF (inverted-file) approximate kNN — the cell-probe scale path:
    * `nlist` centroids (deterministic corpus sample refined by one k-means
    * iteration), every corpus vector assigned to its nearest centroid via a
    * driver-materialized centroid table (codegen'd argmax — no join, no
    * window shuffle), each query probing its `nprobe` nearest cells; exact
    * cosine + top-k over the probed cells only. At 100 TB the corpus is
    * *stored* partitioned by cell id, so a query reads nprobe/nlist of the
    * data — the scan reduction LSH can't give. The centroid table is tiny
    * by construction (nlist × dim doubles), so collecting it to the driver
    * is the cheap alternative to an n×nlist window shuffle per assignment.
    * Index build runs two small driver actions (sample + refine) — the
    * documented build-time cost, like any ANN index. */
  def ivfKnn(queries: DataFrame, corpus: DataFrame, k: Int,
             nlist: Int = 16, nprobe: Int = 4, kmeansIters: Int = 3,
             replicate: Int = 2,
             qId: String = "vec_id", qVec: String = "embedding",
             cId: String = "vec_id", cVec: String = "embedding",
             excludeSelf: Boolean = true): DataFrame = {
    // Build-time cache: the index build runs several driver actions (count,
    // sample, one aggregation per k-means iteration) over the normalized
    // corpus — persist for THOSE, and unpersist as soon as the centroids
    // are final. The returned (lazy) plan reads a fresh corpus scan
    // instead: one extra normalize pass at execution, no cache entry
    // leaked past the call, and no recompute-from-scratch surprise from
    // unpersisting under a lazy plan.
    def normed = corpus.select(col(cId).as("neighbor_id"),
      normalize(col(cVec)).as("cv"))
    val cBuild = normed.persist()
    val q = queries.select(col(qId).as("query_id"),
      normalize(col(qVec)).as("qv"))
    val refined =
      try trainCentroids(cBuild, nlist, kmeansIters)
      finally cBuild.unpersist()

    // the served plan reads a FRESH normalized-corpus scan (not the
    // build-time cache, which is already released by here)
    val c = normed
    // corpus vectors are REPLICATED into their `replicate` nearest cells:
    // boundary vectors (the IVF recall killer) appear in each adjacent
    // cell, trading `replicate`x index storage for recall at a fixed
    // probe fraction — the standard IVF replication/multi-assignment
    val assigned = c.withColumn("cell",
      explode(topCells(col("cv"), refined, math.max(replicate, 1))))
    val probed = q.withColumn("cell", explode(topCells(col("qv"), refined, nprobe)))
    topKByScore(
      probed.join(assigned, "cell")
        .filter(if (excludeSelf) col("query_id") =!= col("neighbor_id")
                else lit(true))
        .select(col("query_id"), col("neighbor_id"),
          dotp(col("qv"), col("cv")).as("cos"))
        .distinct(),
      Seq("query_id"), "cos", "neighbor_id", k)
  }

  /** Deterministic unbiased thinning to ~`cap` rows for statistics
    * training (the FAISS practice: codebooks/centroids train on a
    * bounded sample regardless of corpus size — they are statistics,
    * not an index, and Lloyd iterations over 100 TB would pay
    * iters × full-corpus scans for no accuracy the sample doesn't
    * already carry). Hash-rate filter — no sort, no shuffle, no driver
    * data; approximate size is fine. Returns the input unchanged when
    * it already fits (one cheap count over the caller-persisted frame,
    * so the fixture-scale path is bit-identical to training unsampled). */
  private def boundedTrainSample(cv: DataFrame, idCol: String,
                                 cap: Long): DataFrame = {
    val n = cv.count()
    if (n <= cap) cv
    else {
      val bound = (Long.MaxValue.toDouble * (cap.toDouble / n)).toLong
      cv.filter(xxhash64(col(idCol)).bitwiseAND(lit(Long.MaxValue)) <
        lit(bound))
    }
  }

  /** Spherical k-means centroid training over a NORMALIZED corpus
    * (columns `neighbor_id`, `cv`; persist it for the duration — the build
    * runs several driver actions). Deterministic: centroid seeds come from
    * an id-hash sample, not `rand()`. Each refinement iteration is one
    * distributed aggregation plus a tiny nlist×dim driver collect, over
    * at most `maxTrainRows` hash-thinned rows ([[boundedTrainSample]]). */
  private[operators] def trainCentroids(cBuild: DataFrame, nlist: Int,
                             kmeansIters: Int,
                             maxTrainRows: Long = DefaultMaxTrainRows): Array[Array[Double]] = {
    val trainSet = boundedTrainSample(cBuild, "neighbor_id", maxTrainRows)
    // deterministic centroid sample by id hash — no global sort/window
    // (a row_number over an unpartitioned window would funnel the whole
    // corpus through one task, the opposite of the scale path)
    // Deterministic farthest-point seeding over a bounded hash sample:
    // the id-hash TakeOrdered draws an unbiased 8·nlist-row sample (top-k
    // per partition + driver merge — never a full sort), then greedy
    // max-min-distance selection on the driver picks seeds that cannot
    // land two-in-one-blob (the failure mode of a plain hash draw, which
    // leaves Lloyd's permanently merged — k-means can move centroids but
    // never split a pair that seeded inside one cluster).
    // limit() alone bounds the sample (no separate count job — a
    // corpus smaller than the cap just yields fewer rows)
    val sampleN = math.min(math.max(nlist * 8, 64), 4096)
    val sample: Array[Array[Double]] = trainSet
      .orderBy(xxhash64(col("neighbor_id")), col("neighbor_id"))
      .limit(sampleN)
      .select("cv").collect()
      .map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "ivf: corpus is empty")
    def sq(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val chosen = scala.collection.mutable.ArrayBuffer(sample(0))
    val minD = sample.map(sq(_, sample(0)))
    while (chosen.length < nlist && {
      var best = 0; var i = 1
      while (i < sample.length) {
        if (minD(i) > minD(best)) best = i
        i += 1
      }
      // all remaining points coincide with a seed: fewer distinct
      // vectors than nlist — stop (duplicate centroids add nothing)
      if (minD(best) <= 0.0) false
      else {
        chosen += sample(best)
        var j = 0
        while (j < sample.length) {
          val d = sq(sample(j), sample(best))
          if (d < minD(j)) minD(j) = d
          j += 1
        }
        true
      }
    }) ()
    val sampled = chosen.toArray

    // nearest-centroid cell id as one codegen'd expression: argmax over
    // literal centroid dot products (struct max orders by sim, then id)
    def cellExpr(vec: Column, cents: Array[Array[Double]]): Column =
      array_max(array(cents.zipWithIndex.toSeq.map { case (cent, id) =>
        struct(dotp(vec, lit(cent)).as("sim"), lit(id).as("cid"))
      }: _*)).getField("cid")

    // k-means iterations (spherical): element-wise mean of each cell's
    // members, re-normalized onto the sphere (empty cells keep their
    // previous centroid). Each iteration is one distributed aggregation
    // plus a tiny driver collect of nlist x dim doubles.
    def refineOnce(cents: Array[Array[Double]]): Array[Array[Double]] = {
      val means = trainSet.withColumn("cell", cellExpr(col("cv"), cents))
        .select(col("cell"), posexplode(col("cv")))
        .groupBy("cell", "pos").agg(avg("col").as("m"))
        .groupBy("cell").agg(
          array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cell"), transform(col("pm"), _.getField("m")).as("mv"))
        .collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
      cents.zipWithIndex.map { case (seed, id) =>
        means.get(id).map { m =>
          val norm = math.sqrt(m.map(x => x * x).sum)
          if (norm > 0) m.map(_ / norm) else seed
        }.getOrElse(seed)
      }
    }
    (1 to math.max(kmeansIters, 0))
      .foldLeft(sampled)((cents, _) => refineOnce(cents))
  }

  /** Top-n nearest cells as one codegen'd kernel call
    * ([[graft.functions.NearestCells]]) — driver-free, no join, no window
    * shuffle, and O(1) generated-code size in `nlist` (the previous
    * `array_sort` over nlist unrolled dot-product structs contributed to
    * the 64 KB janino overflow when fused into explode consumers).
    * Ordering is unchanged: similarity descending, ties by smaller cell
    * id, NaN similarities last. */
  private[operators] def topCells(vec: Column, cents: Array[Array[Double]], top: Int): Column =
    graft.functions.AnnExpressions.nearestCells(vec, cents, top)

  /** Build and PERSIST an IVF index: centroids to `path`/centroids, the
    * normalized corpus — each vector replicated into its `replicate`
    * nearest cells — to `path`/corpus hive-partitioned BY CELL. This is
    * the 100 TB ANN serving layout: a query probing `nprobe` of `nlist`
    * cells reads `nprobe/nlist` of the index as whole pruned partitions
    * ([[ivfKnnStored]] — the scan reduction the in-memory [[ivfKnn]] can
    * only approximate with a shuffle). `nlist` should track corpus size
    * (√n cells is the usual rule); keep it well under the small-files
    * threshold for the target filesystem. */
  def saveIvfIndex(corpus: DataFrame, path: String, nlist: Int = 16,
                   kmeansIters: Int = 3, replicate: Int = 2,
                   cId: String = "vec_id", cVec: String = "embedding",
                   metaCols: Seq[String] = Nil): Unit = {
    val spark = corpus.sparkSession
    val missing = metaCols.filterNot(corpus.columns.contains)
    require(missing.isEmpty,
      s"metaCols not in corpus: ${missing.mkString(", ")}")
    require(!metaCols.exists(Set("neighbor_id", "cv", "cell")),
      "metaCols may not shadow the index columns neighbor_id/cv/cell")
    // metaCols ride along INTO the stored cells so filtered search
    // (ivfKnnStored's `where`) can push its predicate to the parquet
    // scan of the probed cells — filtered ANN without a post-join
    val cBuild = corpus.select((col(cId).as("neighbor_id") +:
      normalize(col(cVec)).as("cv") +: metaCols.map(col)): _*).persist()
    try {
      val cents = trainCentroids(cBuild, nlist, kmeansIters)
      writeLayout(spark, path, cents,
        () => cBuild.withColumn("cell",
              explode(topCells(col("cv"), cents, math.max(replicate, 1))))
            .repartition(col("cell")) // one writer per cell: ~nlist files, not tasks x cells
            .write.mode("overwrite").partitionBy("cell").parquet(s"$path/corpus"))
    } finally cBuild.unpersist(): Unit
  }

  /** Write an IVF build's layout — the `path`/centroids table (read back
    * by [[readCentroids]]) and the layout's own writes, overlapped
    * (guide-§2.6) — then drop the [[stampBuild]] stamp. The stamp
    * asserts a complete layout, so it is written only AFTER Par.run
    * returns, i.e. after EVERY write succeeded: a centroids write
    * failing behind a completed corpus write must not leave a stamped
    * layout with missing or partial centroids on disk. Par.run does not
    * cancel sibling legs on failure, so a failed leg still lets the
    * others complete — harmless precisely because the stamp gates
    * here. */
  private def writeLayout(spark: SparkSession, path: String,
                          cents: Array[Array[Double]],
                          writes: (() => Unit)*): Unit = {
    import spark.implicits._
    graft.util.Par.run((() => cents.zipWithIndex.toSeq
      .map { case (c, id) => (id, c.toSeq) }.toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")) +: writes)
    stampBuild(spark, path)
  }

  /** Validated centroid read of a [[saveIvfIndex]] layout — fails fast
    * with a named error (missing dir, empty table) instead of the bare
    * Spark analysis error a consuming plan would otherwise surface. One
    * job: the read takes the schema every centroid write produces
    * (`(Int, Seq[Double])` as `cell`, `centroid`) instead of inferring
    * it, and the ≤ nlist rows are ordered by `cell` on the driver. */
  private[graft] def readCentroids(spark: org.apache.spark.sql.SparkSession,
                            path: String): Array[Array[Double]] = {
    val dir = new org.apache.hadoop.fs.Path(s"$path/centroids")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(dir),
      s"$path/centroids does not exist — not a saveIvfIndex layout")
    val cents = spark.read.schema("cell INT, centroid ARRAY<DOUBLE>")
      .parquet(s"$path/centroids").collect()
      .sortBy(_.getInt(0))
      .map(_.getSeq[Double](1).toArray)
    require(cents.nonEmpty, s"$path/centroids is empty — not a saveIvfIndex layout")
    cents
  }

  /** Validated corpus read of a [[saveIvfIndex]] layout: the corpus dir
    * must exist and carry the `cell` hive-partition column — without it
    * every downstream probe join would full-scan (or fail unresolved)
    * instead of partition-pruning, so a malformed layout is an error, not
    * a degradation. */
  private def readIvfCorpus(spark: org.apache.spark.sql.SparkSession,
                            path: String): DataFrame = {
    val dir = new org.apache.hadoop.fs.Path(s"$path/corpus")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(dir),
      s"$path/corpus does not exist — not a saveIvfIndex layout")
    val stored = spark.read.parquet(s"$path/corpus")
    require(stored.columns.contains("cell"),
      s"$path/corpus lacks the `cell` partition column — not a " +
        "saveIvfIndex layout (written without partitionBy(\"cell\")?)")
    stored
  }

  /** Serve kNN from a [[saveIvfIndex]] layout: per query, probe the
    * `nprobe` nearest cells and join the PARTITIONED index on the cell id.
    * The probe side is broadcast, so dynamic partition pruning narrows the
    * index scan to exactly the probed cells — the dominant cost scales
    * with `nprobe/nlist` of the index, not its size. Centroids are a tiny
    * nlist×dim driver read (same contract as the in-memory build). */
  /** `where` enables FILTERED vector search — "top-k neighbors among
    * corpus rows satisfying a metadata predicate" (per-source search,
    * date-scoped search, permission scopes): the predicate may reference
    * any `metaCols` column stored by [[saveIvfIndex]] and is applied to
    * the stored scan BEFORE the probe join, so Spark pushes it into the
    * parquet read of the probed cells (row groups that fail it are never
    * decoded — pinned in PlanSpec). This is pre-filtering, the FAISS
    * `IDSelector` semantics: the top-k is exact over the filtered cell
    * contents, and recall vs a filtered brute-force scan is the same IVF
    * cell-boundary recall as the unfiltered path. */
  def ivfKnnStored(spark: org.apache.spark.sql.SparkSession, path: String,
                   queries: DataFrame, k: Int, nprobe: Int = 4,
                   qId: String = "vec_id", qVec: String = "embedding",
                   where: Option[Column] = None,
                   excludeSelf: Boolean = true): DataFrame = {
    val cents = readCentroids(spark, path)
    val q = queries.select(col(qId).as("query_id"), normalize(col(qVec)).as("qv"))
    val probed = q.withColumn("cell",
      explode(topCells(col("qv"), cents, math.min(nprobe, cents.length))))
    val storedAll = readIvfCorpus(spark, path)
    require(storedAll.columns.contains("cv"),
      s"$path/corpus lacks raw vectors — a compressed PQ or SQ8 " +
        "layout? (use quantizedKnnStored for that)")
    val stored = where.map(storedAll.filter).getOrElse(storedAll)
    topKByScore(
      stored.join(broadcast(probed), "cell")
        // hybrid-retrieval callers (rrfFuse over a large query stream)
        // have INDEPENDENT query/doc id spaces: pass excludeSelf = false
        // there, exactly like bruteKnn — an id collision must not
        // silently drop a corpus doc from the ranking
        .filter(if (excludeSelf) col("query_id") =!= col("neighbor_id")
                else lit(true))
        .select(col("query_id"), col("neighbor_id"),
          dotp(col("qv"), col("cv")).as("cos"))
        .distinct(),
      Seq("query_id"), "cos", "neighbor_id", k)
  }

  /** Incremental EMBEDDING near-dup dedup — the
    * [[graft.operators.Dedup.nearDupDelta]] shape for vectors: dedup a
    * DELTA of embeddings against a stored [[saveIvfIndex]] corpus (never
    * re-scoring the corpus against itself), first-arrival-wins. This is
    * the micro-batch unit of a batch-ingest embedding pipeline — the
    * production twin q58 gave the text side.
    *
    *  - CROSS edges (delta vs corpus): each delta vector probes its
    *    `nprobe` nearest cells via the SAVED centroids and equi-joins the
    *    cell-partitioned index. The probe side is broadcast, so dynamic
    *    partition pruning narrows the corpus scan to the probed cells
    *    (~nprobe/nlist of the index) — the corpus is scanned, never
    *    shuffled, and nothing is recomputed per delta. Candidates are
    *    exact-verified (cosine ≥ threshold). An identical re-ingest ranks
    *    cells exactly like its stored twin, so exact duplicates are found
    *    with probability 1 whenever nprobe ≥ the index's replicate
    *    factor; near-but-not-identical pairs have the standard IVF
    *    boundary recall (gated ≥ 0.9 in PipelineOpsSpec).
    *  - WITHIN edges (delta vs delta) come from [[nearDupPairs]].
    *  - Every corpus endpoint is collapsed to one sentinel node
    *    (Long.MinValue — ids must be numeric) before the transitive
    *    closure, the same lossless argument as the text twin: a delta doc
    *    whose component touches the corpus drops, and merging corpus
    *    nodes only merges components that would each drop anyway.
    *
    * Returns (survivors, deltaAssign): the delta rows that survive, and
    * the delta's normalized cell-assigned index rows (neighbor_id, cv,
    * cell — the stored-corpus schema). Append deltaAssign to the index
    * via [[appendToIvfIndex]] REGARDLESS of survival, so later deltas
    * chain through dropped docs exactly like batch connected components.
    * Centroids are not retrained per delta (standard IVF practice — the
    * index drifts only when rebuilt); rebuild when the appended volume
    * rivals the original corpus. */
  def nearDupDelta(spark: org.apache.spark.sql.SparkSession, path: String,
                   delta: DataFrame, threshold: Double,
                   nprobe: Int = 4, replicate: Int = 2, dim: Int = 64,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   planes: Int = 0, tables: Int = 0,
                   extraCorpus: Option[DataFrame] = None): (DataFrame, DataFrame) = {
    require(threshold > -1 && threshold < 1, s"threshold $threshold not in (-1, 1)")
    val cents = readCentroids(spark, path)
    // extraCorpus: additional cell-assigned index rows in the stored
    // schema (neighbor_id, cv, cell) — the streaming twin passes prior
    // micro-batches' appends here so the probe sees docs ingested after
    // the index was built
    val stored = extraCorpus.foldLeft(readIvfCorpus(spark, path))(
      (s, e) => s.unionByName(e.select("neighbor_id", "cv", "cell")))
    val d = delta.select(col(idCol).as("j"), normalize(col(vecCol)).as("dv"))
    val probed = d.withColumn("cell",
      explode(topCells(col("dv"), cents, math.min(nprobe, cents.length))))
    // any ≥-threshold corpus hit taints the delta doc — only the EXISTENCE
    // matters downstream, so collapse to the sentinel immediately (the
    // distinct then dedups sentinel edges, not (i, j, cos) triples)
    val cross = stored.join(broadcast(probed), "cell")
      .filter(dotp(col("cv"), col("dv")) >= threshold)
      .select(lit(Long.MinValue).as("i"), col("j"))
      .distinct()
    // planes/tables forward to the within-delta pair generation
    // ([[nearDupPairs]] semantics: 0 = derive from the threshold)
    val within = nearDupPairs(delta, threshold, idCol, vecCol, dim,
        planes, tables)
      .select("i", "j")
    val survivors = Dedup.dropNearDups(delta, within.unionByName(cross), idCol)
    val assign = d.select(col("j").as("neighbor_id"), col("dv").as("cv"))
      .withColumn("cell",
        explode(topCells(col("cv"), cents, math.max(replicate, 1))))
    (survivors, assign)
  }

  /** Append [[nearDupDelta]]'s deltaAssign rows (neighbor_id, cv, cell)
    * to a [[saveIvfIndex]] corpus — new files land inside the existing
    * cell partitions, so probe-side partition pruning keeps working
    * unchanged. */
  def appendToIvfIndex(rows: DataFrame, path: String): Unit =
    rows.repartition(col("cell"))
      .write.mode("append").partitionBy("cell").parquet(s"$path/corpus")

  /** Offline retrain of a [[saveIvfIndex]] layout — the maintenance op
    * the append paths defer to: [[appendToIvfIndex]] and the streaming
    * twin's per-batch appends assign new vectors to the ORIGINAL
    * centroids, so once the appended volume rivals the corpus the cells
    * drift away from the data distribution (recall decays; hot cells
    * grow unbounded). Rebuild gathers every distinct stored vector —
    * the base corpus (including appended-in-place rows) plus the
    * streaming `appends/` partitions when present — retrains centroids
    * from scratch, and writes a fresh layout at `newPath` (never in
    * place: a crash mid-rebuild must not corrupt the only index; swap
    * paths and restart consumers once it lands). Replicated cell copies
    * collapse via distinct on (id, vector) before training, so a
    * vector's replicate count doesn't bias k-means. */
  def rebuildIvfIndex(spark: org.apache.spark.sql.SparkSession,
                      path: String, newPath: String, nlist: Int = 16,
                      kmeansIters: Int = 3, replicate: Int = 2): Unit = {
    require(newPath != path,
      "rebuild writes a fresh layout — newPath must differ from path " +
        "(an in-place rebuild would corrupt the index on a mid-run crash)")
    val base = readIvfCorpus(spark, path).select("neighbor_id", "cv")
    val appendsPath = new org.apache.hadoop.fs.Path(s"$path/appends")
    val fs = appendsPath.getFileSystem(spark.sessionState.newHadoopConf())
    // heal an interrupted compaction BEFORE reading: a crash between its
    // source-deletion and rename would otherwise hide every compacted
    // vector from the rebuild (the hidden tmp dir is invisible to the
    // read), and the new index would silently lose them
    graft.streaming.StoreCompaction.recover(fs, appendsPath)
    val all =
      if (fs.exists(appendsPath) && fs.listStatus(appendsPath).nonEmpty)
        base.unionByName(spark.read.parquet(s"$path/appends")
          .select("neighbor_id", "cv"))
      else base
    saveIvfIndex(all.distinct(), newPath, nlist, kmeansIters, replicate,
      cId = "neighbor_id", cVec = "cv")
  }

  /** HEALTH / STALENESS report for any stored index layout
    * ([[saveIvfIndex]] / [[saveIvfPqIndex]] / [[saveIvfSqIndex]]) — the
    * operator a 100 TB serving owner runs to know WHEN to
    * [[rebuildIvfIndex]], turning the append paths' "rebuild once
    * appended volume rivals the corpus" contract from a comment into a
    * measurement. Entirely METADATA-SIZED: cell row counts come from
    * the parquet FOOTERS (one footer read per file, ~nlist + appended
    * files), never a data scan; centroid/grid/codebook reads are the
    * same bounded reads the probe paths do.
    *
    *  - per-cell population skew: min / median / max / p99 of rows per
    *    cell, plus empty-cell count — a hot cell is a slow probe and a
    *    k-means drift symptom;
    *  - appended-vs-base fraction: files whose modification time
    *    post-dates the build-completion stamp ([[stampBuild]], dropped
    *    by every save path and never touched by appends) count as
    *    appended, plus everything under the streaming `appends/` dir;
    *  - `recommend_rebuild` wires the [[appendToIvfIndex]] /
    *    [[rebuildIvfIndex]] advice: true once the appended fraction
    *    reaches 1/2 (appended volume rivals the base corpus) or the
    *    hottest cell exceeds 8× the median (the distribution no longer
    *    matches the centroids), with the firing reason spelled out.
    *
    * Output: ONE row — (layout, nlist, dim, cells_occupied,
    * cells_empty, rows_total, rows_base, rows_appended, appended_frac,
    * cell_rows_min, cell_rows_median, cell_rows_p99, cell_rows_max,
    * recommend_rebuild, reason). */
  def indexHealth(spark: org.apache.spark.sql.SparkSession,
                  path: String): DataFrame = {
    import org.apache.hadoop.fs.{FileStatus, Path => HPath}
    // the footer census runs on the shared bounded pool of the
    // streaming store health census
    import graft.util.ParquetMeta.{CensusThreads, mapBounded}
    val conf = spark.sessionState.newHadoopConf()
    val cents = readCentroids(spark, path)
    val nlist = cents.length
    val dim = cents.head.length
    val corpusDir = new HPath(s"$path/corpus")
    val fs = corpusDir.getFileSystem(conf)
    require(fs.exists(corpusDir),
      s"$path/corpus does not exist — not a stored index layout")
    // base-vs-appended attribution = the [[stampBuild]] MANIFEST: the
    // stamp records the NAMES of the base corpus files at build time, so
    // a file is appended iff it is not a member — granularity-independent
    // (mtime comparison silently mis-files same-tick appends on coarse-
    // granularity filesystems, e.g. 1 s on some object stores). A legacy
    // EMPTY stamp falls back to the old strict-mtime comparison; a
    // missing stamp cannot attribute appends — everything reports as
    // base (Long.MaxValue sentinel), never as spurious drift.
    val stampPath = new HPath(s"$path/corpus/_build_stamp")
    val baseNames: Option[Set[String]] =
      if (!fs.exists(stampPath)) None
      else {
        val len = fs.getFileStatus(stampPath).getLen
        if (len == 0L) None
        else {
          val buf = new Array[Byte](len.toInt)
          val in = fs.open(stampPath)
          try in.readFully(0L, buf) finally in.close()
          Some(new String(buf, "UTF-8").split("\n").iterator
            .filter(_.nonEmpty).toSet)
        }
      }
    val buildTime =
      if (fs.exists(stampPath))
        fs.getFileStatus(stampPath).getModificationTime
      else Long.MaxValue
    // shared listing (hidden `_`/`.` entries skipped, matching Spark's
    // partition discovery): a leftover _temporary dir from a crashed
    // write must not count rows Spark's read would never see — that
    // would break the rows_total == scanned invariant Round15Spec pins
    def footerRows(st: FileStatus): Long =
      graft.util.ParquetMeta.footerRows(st, conf)
    def parquetFiles(dir: HPath): Seq[FileStatus] =
      graft.util.ParquetMeta.parquetFiles(fs, dir)
    // cell id from the hive partition dir name (cell=N)
    def cellOf(st: FileStatus): Option[Int] = {
      val parent = st.getPath.getParent.getName
      if (parent.startsWith("cell=")) scala.util.Try(
        parent.stripPrefix("cell=").toInt).toOption
      else None
    }
    def isAppended(st: FileStatus, rel: String): Boolean = baseNames match {
      case Some(set) => !set.contains(rel)
      case None      => st.getModificationTime > buildTime
    }
    val files = parquetFiles(corpusDir)
    require(files.nonEmpty, s"$path/corpus holds no parquet files")
    // footer census over a bounded thread pool: the reads are
    // independent metadata fetches (latency-bound on object stores), so
    // a 10⁵-file store reports in seconds instead of minutes; result
    // order matches `files` (futures resolved in submit order)
    val perFile = mapBounded(files, CensusThreads) { st =>
      (cellOf(st), footerRows(st),
        isAppended(st, relName(fs, corpusDir, st)))
    }
    val perCell = perFile.groupBy(_._1).collect {
      case (Some(c), fsOfCell) => c -> fsOfCell.map(_._2).sum
    }
    val occupied = perCell.count(_._2 > 0)
    val cellCounts = perCell.values.toArray.sorted
    def pct(p: Double): Long =
      if (cellCounts.isEmpty) 0L
      else cellCounts(math.min(cellCounts.length - 1,
        math.ceil(p * cellCounts.length).toInt - 1).max(0))
    val total = perFile.map(_._2).sum
    val appendedInPlace = perFile.collect { case (_, n, true) => n }.sum
    // streaming appends dir (the DocStreaming twin's micro-batches)
    val appendsDir = new HPath(s"$path/appends")
    val appendedStream =
      if (fs.exists(appendsDir))
        mapBounded(parquetFiles(appendsDir), CensusThreads)(footerRows).sum
      else 0L
    val appended = appendedInPlace + appendedStream
    val all = total + appendedStream
    val appendedFrac =
      if (all == 0) 0.0 else appended.toDouble / all
    val median = pct(0.5)
    val hottest = if (cellCounts.isEmpty) 0L else cellCounts.last
    val layout = storedLayout(spark, path).fold("ivf-flat")(_.name)
    val reasons = Seq(
      if (appendedFrac >= 0.5)
        Some(f"appended fraction $appendedFrac%.2f >= 0.5 — appended " +
          "volume rivals the base corpus (frozen centroids/grid fit a " +
          "shifted distribution; rebuildIvfIndex at a NEW path)")
      else None,
      if (median > 0 && hottest > 8 * median)
        Some(s"hottest cell $hottest rows > 8x median $median — cell " +
          "population has drifted from the centroids (probe latency " +
          "skews; retrain)")
      else None).flatten
    import spark.implicits._
    Seq((layout, nlist, dim, occupied, nlist - occupied,
      all, all - appended, appended,
      math.rint(appendedFrac * 1e4) / 1e4,
      if (cellCounts.isEmpty) 0L else cellCounts.head, median,
      pct(0.99), hottest,
      reasons.nonEmpty, if (reasons.isEmpty) "healthy" else reasons.mkString("; ")))
      .toDF("layout", "nlist", "dim", "cells_occupied", "cells_empty",
        "rows_total", "rows_base", "rows_appended", "appended_frac",
        "cell_rows_min", "cell_rows_median", "cell_rows_p99",
        "cell_rows_max", "recommend_rebuild", "reason")
  }

  /** LAYOUT-AWARE offline rebuild of any stored index at `newPath`
    * (never in place — [[rebuildIvfIndex]]'s crash-safety contract),
    * preserving the stored layout kind and `nlist` (read from the
    * centroids unless overridden):
    *
    *  - `ivf-flat`, no `source`: [[rebuildIvfIndex]] — the stored
    *    vectors ARE the source (lossless), base + appends, distinct.
    *  - `ivf-flat` with `source`: retrain directly from the caller's
    *    original corpus (the streaming-append owner's path: the source
    *    table already holds every vector, so the fresh k-means sees the
    *    true current distribution, not the replicate-exploded store).
    *  - `ivf-sq8` / `ivf-pq`: retrain centroids + grid / codebooks
    *    from the ORIGINAL vectors — the caller's `source`, or, when
    *    none is passed, the store's recorded `_lineage` (source path +
    *    columns stamped at save time via `sourcePath`), which makes
    *    scheduled maintenance hands-off. The stored codes are LOSSY —
    *    re-encoding reconstructions would compound quantization error
    *    into the new grid and silently degrade recall, so a quantized
    *    store with neither source nor usable lineage fails BY NAME
    *    instead (a 100 TB serving owner keeps source embeddings in
    *    cold storage precisely for retrains; PQ geometry m/ksub is
    *    preserved from the stored codebooks; lineage is carried
    *    forward into the fresh layout).
    *
    * Returns the layout that was rebuilt. */
  def rebuildStoredIndex(spark: org.apache.spark.sql.SparkSession,
                         path: String, newPath: String,
                         source: Option[DataFrame] = None,
                         nlist: Int = 0, kmeansIters: Int = 3,
                         replicate: Int = 2, sId: String = "vec_id",
                         sVec: String = "embedding"): String = {
    require(newPath != path,
      "rebuild writes a fresh layout — newPath must differ from path")
    val layout = storedLayout(spark, path)
    val name = layout.fold("ivf-flat")(_.name)
    val nl = if (nlist > 0) nlist else readCentroids(spark, path).length
    // ORIGINAL vectors for a lossy-layout retrain: the caller's explicit
    // `source` wins; otherwise the store's recorded lineage
    // ([[writeLineage]]) makes the rebuild hands-off — read the recorded
    // table with the recorded columns, and carry the lineage forward
    // into the fresh layout. Only a store with neither (or whose
    // recorded path is gone) fails by name.
    def need: (DataFrame, String, String, Option[String]) = source match {
      case Some(src) => (src, sId, sVec, None)
      case None => readLineage(spark, path) match {
        case Some((srcPath, lid, lvec)) =>
          val p = new org.apache.hadoop.fs.Path(srcPath)
          val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
          require(fs.exists(p),
            s"rebuildStoredIndex: $path records source lineage $srcPath, " +
              "but that path no longer exists — pass source = the " +
              "embedding corpus explicitly (lossy codes cannot be " +
              "re-encoded)")
          (spark.read.parquet(srcPath), lid, lvec, Some(srcPath))
        case None => throw new IllegalArgumentException(
          s"rebuildStoredIndex: $path is $name — its codes are lossy, " +
            "so a rebuild needs the ORIGINAL vectors; pass source = the " +
            "embedding corpus (re-encoding reconstructions would " +
            "compound quantization error into the new grid), or save " +
            "the index with sourcePath to enable hands-off lineage " +
            "rebuilds")
      }
    }
    layout match {
      case None => source match {
        case Some(src) =>
          saveIvfIndex(src, newPath, nl, kmeansIters, replicate, sId, sVec)
        case None =>
          rebuildIvfIndex(spark, path, newPath, nl, kmeansIters, replicate)
      }
      case Some(SqLayout) =>
        val (src, id, vec, fwd) = need
        saveIvfSqIndex(src, newPath, nl, kmeansIters, replicate, id, vec,
          sourcePath = fwd): Unit
      case Some(_) =>
        // ivf-pq: preserve the stored code geometry (m sub-blocks, ksub
        // centroids)
        val pq = PqLayout.read(spark, path).model
        val (src, id, vec, fwd) = need
        saveIvfPqIndex(src, newPath, nl, pq.m, pq.ksub, kmeansIters, 3,
          replicate, id, vec, sourcePath = fwd): Unit
    }
    name
  }

  /** MAINTENANCE entry point wiring [[indexHealth]] to a conditional
    * [[rebuildStoredIndex]]: measure the stored layout's health; when
    * the report fires `recommend_rebuild` (appended volume rivals the
    * base, or a hot cell signals centroid drift), retrain a fresh
    * layout at `newPath` — never in place — otherwise do NOTHING beyond
    * the metadata-sized footer census (a healthy store costs no data
    * scan and no write). Quantized layouts need the original vectors to
    * rebuild — `source`, or the `_lineage` recorded at save time, which
    * makes the maintenance tick fully hands-off — see
    * [[rebuildStoredIndex]]. Returns the
    * health row either way, extended with `rebuilt` and `new_path`
    * (NULL when no rebuild ran) so a scheduler can log one row per
    * maintenance tick and consumers can switch paths when `rebuilt` is
    * true. */
  def maintainIndex(spark: org.apache.spark.sql.SparkSession,
                    path: String, newPath: String, nlist: Int = 0,
                    kmeansIters: Int = 3, replicate: Int = 2,
                    source: Option[DataFrame] = None,
                    sId: String = "vec_id",
                    sVec: String = "embedding"): DataFrame = {
    require(newPath != path,
      "maintainIndex rebuilds at a fresh path — newPath must differ " +
        "from path (rebuildStoredIndex's crash-safety contract)")
    val health = indexHealth(spark, path)
    // indexHealth returns a driver-local one-row frame (the census is
    // metadata-sized) — reading the flag re-runs nothing
    val rebuild = health.select("recommend_rebuild")
      .head().getBoolean(0)
    if (rebuild)
      rebuildStoredIndex(spark, path, newPath, source, nlist,
        kmeansIters, replicate, sId, sVec): Unit
    health
      .withColumn("rebuilt", lit(rebuild))
      .withColumn("new_path",
        if (rebuild) lit(newPath) else lit(null).cast("string"))
  }

  /** Embedding near-duplicate pairs: all corpus pairs with cosine ≥
    * threshold. Default path is sign-LSH candidate generation + exact
    * verification (the MinHash-LSH pattern from [[Dedup.minhashLsh]]):
    * bucket every vector in `tables` hash tables, equi-join on
    * (table, bucket) carrying ONLY ids through the shuffle, dedup the
    * candidate pairs, re-join the vectors, and keep pairs with exact
    * cosine ≥ threshold. The join is an equi-join — never a cartesian —
    * so the plan survives a 100× corpus.
    *
    * `planes`/`tables` default from the threshold: `planes` is MAXIMIZED
    * (most selective buckets) subject to the table count that keeps the
    * at-threshold miss probability ≤ `missProb` fitting within 64 tables
    * (per-plane collision prob for angle θ is 1 - θ/π; deterministic md5
    * hyperplanes make the outcome reproducible across runs). Pairs above
    * the threshold collide with strictly higher probability.
    *
    * LOW thresholds saturate sign-LSH: auto-derivation also computes the
    * collision probability of a RANDOM (near-orthogonal) pair under the
    * derived parameters, and when that false-positive rate reaches 1/2 the
    * bucketed plan is all-pairs-plus-overhead — nearly every pair becomes
    * a candidate and still pays the `tables`× explode plus the candidate
    * dedup shuffle (measured 6× slower than the cartesian it degenerates
    * to). Auto mode then returns [[nearDupPairsExact]] instead: recall 1.0
    * trivially honors `missProb`, and the O(n²) cost LSH could not avoid
    * is paid without the bucketing constant. Both auto outcomes honor the
    * guarantee, and neither throws (the round-3 IllegalArgumentException
    * for guarantee-unsatisfiable-within-64-tables is gone — the exact
    * fallback covers that case). At this missProb the bucketed shape wins
    * for thresholds ≳ 0.7. Pass `tables` (with `planes`) explicitly to
    * force bucketing and own the recall/cost tradeoff yourself.
    *
    * [[nearDupPairsExact]] also remains directly callable as the recall
    * baseline. */
  def nearDupPairs(corpus: DataFrame, threshold: Double,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   dim: Int = 64, planes: Int = 0, tables: Int = 0,
                   missProb: Double = 1e-4,
                   maxBucket: Option[Int] = Some(Dedup.DefaultMaxBucket)): DataFrame = {
    require(threshold > -1 && threshold < 1, s"threshold $threshold not in (-1, 1)")
    val pPlane = 1.0 - math.acos(threshold) / math.Pi
    def tablesFor(p: Int): Int = math.max(1,
      math.ceil(math.log(missProb) / math.log1p(-math.pow(pPlane, p))).toInt)
    // random-pair (cos ≈ 0 → per-plane collision prob 1/2) rate anywhere
    def fpRate(p: Int, t: Int): Double =
      1.0 - math.pow(1.0 - math.pow(0.5, p), t)
    val MaxAutoTables = 64
    val chosen: Option[(Int, Int)] =
      if (tables > 0) Some((if (planes > 0) planes else 4, tables))
      else {
        val maxPlanes = if (planes > 0) planes else 16
        (maxPlanes to 1 by -1).map(pl => (pl, tablesFor(pl)))
          .find(_._2 <= MaxAutoTables)
          .filter { case (p, t) => fpRate(p, t) < 0.5 }
      }
    chosen match {
      case None => nearDupPairsExact(corpus, threshold, idCol, vecCol)
      case Some((p, t)) =>
        val normed = corpus.select(col(idCol).as("i"),
          normalize(col(vecCol)).as("va"))
        val bucketed = bucketRows(corpus, idCol, vecCol, "i", "va", t, p, dim)
          .select("i", "t", "b")
        // hot-bucket guard: identical vectors share every (t, b) bucket —
        // see Dedup.DefaultMaxBucket for the star-degradation contract
        val cands = Dedup.guardedBucketPairs(bucketed, "i", Seq("t", "b"),
          maxBucket.getOrElse(Int.MaxValue)).distinct()
        cands
          .join(normed, Seq("i"))
          .join(normed.toDF("j", "vb"), Seq("j"))
          .withColumn("cos", dot(col("va"), col("vb")))
          .filter(col("cos") >= threshold)
          .select("i", "j", "cos")
    }
  }

  // -------------------------------------------------------------------
  // Product quantization (PQ) — the compressed-vector ANN path: split
  // each (normalized) vector into `m` subvectors, learn a tiny `ksub`-
  // centroid codebook per subspace, and store each vector as m small
  // integer codes instead of `dim` floats. At 100 TB this is what makes
  // an embedding corpus scannable at all: a dim-64 float vector (256 B)
  // compresses to m=8 bytes (32×), so a whole shard's codes fit where
  // raw vectors never would, and query scoring reads m table lookups
  // per row instead of dim multiplies. Everything is the codegen'd
  // literal-expression pattern the IVF path already uses — no UDF, no
  // HOF in the pairwise hot path, no driver loop over data.
  // -------------------------------------------------------------------

  /** Trained PQ codebooks: `codebooks(s)(c)` is the `dim/m`-length
    * centroid `c` of subspace `s`, learned over NORMALIZED vectors. */
  final case class PqModel(dim: Int, m: Int, ksub: Int,
                           codebooks: Array[Array[Array[Double]]]) {
    require(dim % m == 0, s"dim $dim must be divisible by m $m")
    def dsub: Int = dim / m
    /** 1-based slice of the normalized vector for subspace `s`. */
    private[operators] def sub(vec: Column, s: Int): Column =
      slice(vec, s * dsub + 1, dsub)
    /** All m codes of a vector as one array<int> column — per subspace
      * the argmin-L2 centroid with the query-independent |v_s|² term
      * dropped (rank-invariant), via ONE compact kernel call
      * ([[graft.functions.PqEncodeCodes]]). The previous per-(s, c)
      * unrolled form — m × ksub = 128 dot-product structs at the
      * defaults — was the largest single contributor to the 64 KB janino
      * codegen overflow. Tie-break (smaller cid) and NaN handling match
      * the array_min-over-structs semantics exactly. */
    def encodeExpr(vec: Column): Column =
      graft.functions.AnnExpressions.pqEncode(vec, codebooks)
  }

  /** Learn PQ codebooks over the corpus: per subspace, `ksub`-means on
    * the normalized subvectors — seeds are a deterministic hash sample,
    * every Lloyd iteration is ONE distributed aggregation for ALL
    * subspaces (block-tagged explode → (block, cell, pos) mean) plus a
    * tiny m×ksub×dsub driver collect. Train on a sample at very large
    * scale — the codebooks are statistics, not an index. */
  def trainPq(corpus: DataFrame, m: Int = 8, ksub: Int = 16,
              iters: Int = 3, vecCol: String = "embedding",
              idCol: String = "vec_id",
              maxTrainRows: Long = DefaultMaxTrainRows): PqModel = {
    // persist: training reads the normalized corpus 3 + iters times (dim
    // probe, count, seed sample, one pass per Lloyd iteration) — without
    // this every pass re-normalizes from the raw scan
    val cv = corpus.select(col(idCol).as("__id"),
      normalize(col(vecCol)).as("cv")).persist()
    try trainPqOn(cv, m, ksub, iters, maxTrainRows)
    finally cv.unpersist(): Unit
  }

  /** Codebook training over a PREPARED ("__id", "cv" array<double>)
    * frame — no normalization applied, so IVF-PQ can train on residuals
    * (which are deliberately not unit vectors). Caller persists. Lloyd
    * refinement runs over at most `maxTrainRows` hash-thinned rows
    * ([[boundedTrainSample]] — codebooks are statistics). */
  private def trainPqOn(cv: DataFrame, m: Int, ksub: Int,
                        iters: Int,
                        maxTrainRows: Long = DefaultMaxTrainRows): PqModel = {
    require(ksub >= 2 && m >= 1 && iters >= 0,
      s"bad PQ params m=$m ksub=$ksub iters=$iters")
    val trainSet = boundedTrainSample(cv, "__id", maxTrainRows)
    // ONE deterministic id-hash TakeOrdered draws the seed sample (the
    // previous count + step-filter + fallback spent three driver jobs
    // on the same draw); dim comes from the sample rows, not a probe job
    val sampleRows = trainSet
      .orderBy(xxhash64(col("__id")), col("__id"))
      .limit(ksub).select("cv").collect()
      .map(_.getSeq[Double](0).toArray)
    require(sampleRows.length >= 2, s"pq: need >= 2 distinct seed vectors")
    val dim = sampleRows(0).length
    require(dim % m == 0, s"dim $dim must be divisible by m $m")
    val dsub = dim / m
    // seed subspace s with the sampled vectors' s-th blocks (cycle the
    // sample if it is shorter than ksub)
    val seeds: Array[Array[Array[Double]]] = Array.tabulate(m) { s =>
      Array.tabulate(ksub) { c =>
        sampleRows(c % sampleRows.length).slice(s * dsub, s * dsub + dsub)
      }
    }
    def refineOnce(model: PqModel): PqModel = {
      // all m codes from ONE kernel call (a prior select, so the kernel
      // runs once per row), then per-subspace element_at — the previous
      // per-subspace codeExpr unrolled m × ksub dot products into the
      // explode consumer (the 64 KB janino overflow)
      val blocks = explode(array((0 until m).map(s =>
        struct(lit(s).as("blk"), element_at(col("__codes"), s + 1).as("cell"),
          model.sub(col("cv"), s).as("v"))): _*)).as("b")
      val means = trainSet
        .withColumn("__codes", model.encodeExpr(col("cv")))
        .select(blocks)
        .select(col("b.blk").as("blk"), col("b.cell").as("cell"),
          posexplode(col("b.v")))
        .groupBy("blk", "cell", "pos").agg(avg("col").as("mv"))
        .groupBy("blk", "cell").agg(
          array_sort(collect_list(struct(col("pos"), col("mv")))).as("pm"))
        .select(col("blk"), col("cell"),
          transform(col("pm"), _.getField("mv")).as("mean"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).toArray)
        .toMap
      PqModel(dim, m, ksub, Array.tabulate(m) { s =>
        Array.tabulate(ksub) { c =>
          means.getOrElse((s, c), model.codebooks(s)(c))
        }
      })
    }
    (1 to iters).foldLeft(PqModel(dim, m, ksub, seeds))((mo, _) =>
      refineOnce(mo))
  }

  /** Encode a corpus to PQ codes: (idCol, pq_code array<int> of length
    * m) — one codegen'd projection, no shuffle; this is the table you
    * store/cache in place of the raw vectors. */
  def pqEncode(df: DataFrame, model: PqModel, idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame =
    df.select(col(idCol),
      model.encodeExpr(normalize(col(vecCol))).as("pq_code"))

  /** Approximate top-k by asymmetric distance (ADC): each query
    * precomputes one ksub-length distance table per subspace (m × ksub
    * doubles — a projection on the SMALL query side), the scored join
    * reads m native `element_at` lookups per (query, code) row — never
    * a dim-length dot product, never a HOF — and ranking is the bounded
    * top-k aggregation shared with every other kNN path. Ties break by
    * neighbor id; distances are quantized so expect recall < 1 —
    * [[PipelineOpsSpec]] gates it on the seeded corpus.
    *
    * Output: (query_id, neighbor_id, rank). */
  def pqKnn(queries: DataFrame, codes: DataFrame, model: PqModel,
            k: Int = 5, qId: String = "vec_id", qVec: String = "embedding",
            cId: String = "vec_id"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    // the m × ksub distance tables come from ONE kernel call on the small
    // broadcast side (graft.functions.AdcDistanceTables), and the
    // per-candidate lookup sum is one static call (AdcLookupSum) — the
    // previous m separate dtab columns of ksub unrolled dot products blew
    // the 64 KB codegen budget and ran interpreted
    val q = queries
      .select(col(qId).as("query_id"), normalize(col(qVec)).as("qv"))
      .select(col("query_id"),
        graft.functions.AnnExpressions.adcTables(col("qv"), model.codebooks)
          .as("dtab"))
    val scored = codes.select(col(cId).as("neighbor_id"), col("pq_code"))
      .crossJoin(broadcast(q))
      .withColumn("score",
        -graft.functions.AnnExpressions.adcSum(col("dtab"), col("pq_code")))
    topKByScore(scored, Seq("query_id"), "score", "neighbor_id", k)
      .drop("score")
  }

  /** RESIDUAL cell assignment, the scaffolding every IVF-compressed
    * layout shares (build AND append, PQ and SQ8): each prepared
    * ("neighbor_id", "cv") row joins its `replicate` nearest cells and
    * carries the residual v − centroid(cell) — the standard
    * accuracy-per-byte move: the residual's spread is the within-cell
    * scatter, much tighter than the raw sphere, so the same code budget
    * reconstructs far more precisely. Each replicated copy encodes
    * against ITS OWN cell's centroid. The centroid lookup is a literal
    * array (zip_with subtraction is a HOF, but this is the one-time
    * build/append path — never the per-candidate scoring loop). */
  private def assignResiduals(prepared: DataFrame,
                              cents: Array[Array[Double]],
                              replicate: Int): DataFrame = {
    val centLit = typedLit(cents.map(_.toSeq).toSeq)
    prepared
      .withColumn("cell",
        explode(topCells(col("cv"), cents, math.max(replicate, 1))))
      .withColumn("res", zip_with(col("cv"),
        element_at(centLit, col("cell") + 1), (a, b) => a - b))
  }

  /** A file's path relative to `root`, scheme/authority-independent
    * (both sides via URI path), for the [[stampBuild]] manifest. */
  private def relName(fs: org.apache.hadoop.fs.FileSystem,
                      root: org.apache.hadoop.fs.Path,
                      st: org.apache.hadoop.fs.FileStatus): String = {
    val rootPath = fs.makeQualified(root).toUri.getPath
    st.getPath.toUri.getPath.stripPrefix(rootPath).stripPrefix("/")
  }

  /** Drop the build-completion manifest `corpus/_build_stamp`: written
    * AFTER every layout write of the build lands (corpus AND centroids
    * — a stamp must assert a complete layout), never touched by the
    * append paths. It records the NAME of every base corpus parquet file (one
    * per line, corpus-relative, sorted), so [[indexHealth]] attributes
    * appended-vs-base by set MEMBERSHIP — a monotonic marker immune to
    * filesystem mtime granularity (1 s on some object stores), where a
    * same-tick append under a strict-mtime rule silently counted as
    * base. */
  private def stampBuild(spark: org.apache.spark.sql.SparkSession,
                         path: String): Unit = {
    val corpusDir = new org.apache.hadoop.fs.Path(s"$path/corpus")
    val fs = corpusDir.getFileSystem(spark.sessionState.newHadoopConf())
    // shared listing (hidden `_`/`.` entries skipped, matching Spark's
    // partition discovery): a leftover _temporary file from a crashed
    // write must not enter the manifest — Spark's read skips it, so its
    // membership would mis-attribute real base files as appended
    val names = graft.util.ParquetMeta.parquetFiles(fs, corpusDir)
      .map(st => relName(fs, corpusDir, st)).sorted
    val p = new org.apache.hadoop.fs.Path(s"$path/corpus/_build_stamp")
    val out = fs.create(p, true)
    // zero base files (degenerate build) writes an EMPTY stamp — the
    // legacy-mtime fallback — instead of a lone newline that would parse
    // as an empty manifest and mis-file the base as appended
    try if (names.nonEmpty)
      out.write(names.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** SOURCE LINEAGE for quantized layouts: `_lineage` (next to the
    * centroids, three lines — source table path, id column, vector
    * column) records WHERE the original vectors live, because SQ8/PQ
    * codes are lossy and a retrain needs them
    * ([[rebuildStoredIndex]]'s by-name contract). Written LAST, after
    * the full layout lands, so a half-built index never advertises a
    * retrain source; written only when the builder passed `sourcePath`
    * — lineage is a promise that reading that path yields the build
    * corpus, which only the caller can make (a filtered or transformed
    * build frame must NOT record its base table). */
  private def writeLineage(spark: org.apache.spark.sql.SparkSession,
                           path: String, sourcePath: Option[String],
                           cId: String, cVec: String): Unit =
    sourcePath.foreach { src =>
      require(!src.contains("\n") && !cId.contains("\n") &&
        !cVec.contains("\n"),
        "lineage fields may not contain newlines (line-oriented manifest)")
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val out = fs.create(
        new org.apache.hadoop.fs.Path(s"$path/_lineage"), true)
      try out.write(s"$src\n$cId\n$cVec\n".getBytes("UTF-8"))
      finally out.close()
    }

  /** Recorded (sourcePath, idCol, vecCol) of a stored layout, when the
    * build passed `sourcePath` — see [[writeLineage]]. */
  def readLineage(spark: org.apache.spark.sql.SparkSession,
                  path: String): Option[(String, String, String)] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/_lineage")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val lines =
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
        finally in.close()
      require(lines.length == 3,
        s"$path/_lineage is malformed: expected 3 lines " +
          s"(sourcePath, idCol, vecCol), got ${lines.length}")
      Some((lines(0), lines(1), lines(2)))
    }
  }

  /** Exact re-rank of a nominated (query_id, neighbor_id, ...) set against
    * the raw vector table — the FAISS refine tail every compressed
    * nomination path shares ([[quantizedKnnRefined]], [[sqKnnRefined]],
    * [[rpKnnRefined]]): the candidate set is
    * request-bounded (|Q|·k·refine rows), so it broadcasts into a
    * semi-join that prunes the raw scan; per-candidate work is one
    * exact dot; ranking is the shared bounded top-k. */
  private def refineExact(cand: DataFrame, queries: DataFrame,
                          corpus: DataFrame, k: Int,
                          qId: String, qVec: String,
                          cId: String, cVec: String): DataFrame = {
    val q = queries.select(col(qId).as("query_id"), normalize(col(qVec)).as("qv"))
    val scored = corpus
      .select(col(cId).as("neighbor_id"), normalize(col(cVec)).as("cv"))
      .join(broadcast(cand.select("query_id", "neighbor_id")), "neighbor_id")
      .join(broadcast(q), "query_id")
      .withColumn("cos", dotp(col("qv"), col("cv")))
    topKByScore(scored, Seq("query_id"), "cos", "neighbor_id", k)
  }

  // -------------------------------------------------------------------
  // SCALAR QUANTIZATION (SQ8) — the uniform per-dimension int8 grid
  // (FAISS ScalarQuantizer QT_8bit; Milvus/Lucene SQ8). Complements PQ:
  // PQ learns a codebook (16× compression, lossy subspace geometry);
  // SQ8 is training-free, 4× compression, near-lossless ranking — the
  // production default when recall matters more than RAM. Codes are
  // array<int> of 0..255: parquet dictionary/bit-packing stores them in
  // ~1 byte each on disk, which is where the 100 TB win lives (the scan
  // reads a quarter of the float bytes); scoring reconstructs the
  // corpus vector ONCE per row in a scan-side projection and the
  // pairwise hot loop stays the codegen'd dotp kernel.
  // -------------------------------------------------------------------

  /** Per-dimension uniform quantization grid over the TRAINING corpus:
    * `code = round((v − min) · 255 / span)`, reconstruction
    * `min + code · span / 255`. Exact, training-free statistics (one
    * min/max aggregation) — deterministic for a given corpus. */
  final case class SqModel(mins: Array[Double], spans: Array[Double]) {
    def dim: Int = mins.length
  }

  /** Learn the per-dimension (min, span) grid: ONE distributed
    * aggregation whose buffer is two dim-length arrays
    * ([[graft.model.Aggregators.ArrayMinMax]]) — no shuffle of the
    * vectors, no explode (an n×dim position explode would shuffle the
    * whole corpus), and no per-dimension aggregate expressions (2·dim
    * min/max slots blow past wholestage-codegen's method budget and the
    * driver planner at production embedding widths, 768–4096). min/max
    * are order-insensitive, so the model is bit-identical however the
    * corpus is partitioned.
    *
    * Non-finite elements (NaN from a zero-vector normalization upstream,
    * ±Inf) are EXCLUDED from the stats: Spark's max orders NaN greatest,
    * so one degenerate vector would otherwise poison every span to NaN
    * and silently empty every downstream kNN. A dimension with no finite
    * value at all gets (0, 0) — its codes are 0 and it contributes
    * nothing to any score. */
  def trainSq(corpus: DataFrame, vecCol: String = "embedding"): SqModel = {
    val probe = corpus.filter(col(vecCol).isNotNull)
      .select(size(col(vecCol)).as("d")).head(1)
    require(probe.nonEmpty, "trainSq: no non-null vectors to train on")
    val dim = probe(0).getInt(0)
    require(dim > 0, "trainSq: zero-length vectors")
    val v = col(vecCol).cast("array<double>")
    // abs(x) < Inf is false for NaN (NaN compares greatest in Spark SQL),
    // ±Inf, AND null — one predicate screens all three; the combiner's
    // skip sentinel is NaN
    val sanitized = transform(v, x =>
      when(abs(x) < lit(Double.PositiveInfinity), x)
        .otherwise(lit(Double.NaN)))
    val mm = udaf(new graft.model.Aggregators.ArrayMinMax(dim),
      org.apache.spark.sql.Encoders.product[graft.model.Aggregators.VecRow])
    val r = corpus.agg(mm(sanitized).as("mm")).head().getStruct(0)
    val rawMins = r.getSeq[Double](0)
    val rawMaxs = r.getSeq[Double](1)
    val mins = Array.tabulate(dim)(i =>
      if (rawMins(i).isInfinite) 0.0 else rawMins(i))
    val spans = Array.tabulate(dim)(i =>
      if (rawMaxs(i).isInfinite) 0.0 else rawMaxs(i) - mins(i))
    SqModel(mins, spans)
  }

  /** int8 code array for one vector: per dimension
    * `clamp(⌊(v − min)·255/span + 0.5⌋, 0, 255)`; a degenerate (span ≤ 0)
    * dimension codes to 0. The exact IEEE evaluation order is part of
    * the contract (the q146 oracle replays it in DuckDB). */
  private def sqCodes(vec: Column, m: SqModel): Column = {
    val d = zip_with(vec.cast("array<double>"), lit(m.mins), (x, mn) => x - mn)
    zip_with(d, lit(m.spans), (dd, sp) =>
      when(sp <= lit(0.0), lit(0))
        .otherwise(least(lit(255), greatest(lit(0),
          floor(dd * lit(255.0) / sp + lit(0.5)).cast("int")))))
  }

  /** Reconstructed (dequantized) vector: `min + code·span/255`. */
  private[graft] def sqReconstruct(codes: Column, m: SqModel): Column = {
    val t = zip_with(codes.cast("array<double>"), lit(m.spans),
      (c, sp) => c * sp / lit(255.0))
    zip_with(t, lit(m.mins), (x, mn) => mn + x)
  }

  /** Encode a corpus: (id, codes) — a scan-side projection, no shuffle;
    * the id column keeps its name (the [[pqEncode]] convention, so one
    * `cId` threads through [[sqKnnRefined]]'s codes AND corpus sides).
    * NULL vectors encode to NULL codes (and score as "not a neighbor"
    * downstream, the [[graft.model.Aggregators.topKByScore]] contract). */
  def sqEncode(df: DataFrame, model: SqModel, idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame =
    df.select(col(idCol), sqCodes(col(vecCol), model).as("codes"))

  /** Exact top-k over the QUANTIZED corpus: cosine of the raw query
    * against the per-row reconstruction. Same scale shape as
    * [[bruteKnn]] — queries broadcast, corpus codes scanned once,
    * reconstruction + normalization happen once per corpus row BELOW
    * the join (the pairwise loop is the codegen'd dotp), ranking is the
    * bounded per-partition top-k aggregation. */
  def sqKnn(queries: DataFrame, codes: DataFrame, model: SqModel, k: Int,
            qId: String = "vec_id", qVec: String = "embedding",
            cId: String = "vec_id", codesCol: String = "codes",
            excludeSelf: Boolean = true): DataFrame = {
    val q = queries.select(col(qId).as("query_id"), normalize(col(qVec)).as("qv"))
    val c = codes.select(col(cId).as("neighbor_id"),
      normalize(sqReconstruct(col(codesCol), model)).as("cv"))
    val cond = if (excludeSelf) col("query_id") =!= col("neighbor_id") else lit(true)
    val scored = c.join(broadcast(q), cond)
      .withColumn("cos", dot(col("qv"), col("cv")))
    topKByScore(scored, Seq("query_id"), "cos", "neighbor_id", k)
  }

  /** SQ8 nomination + exact re-rank (the FAISS refine pattern, as
    * [[quantizedKnnRefined]]): the compressed scan nominates k·refine
    * candidates, raw vectors re-score only those. The raw corpus is
    * touched for |Q|·k·refine rows, not scanned. */
  def sqKnnRefined(queries: DataFrame, codes: DataFrame, model: SqModel,
                   corpus: DataFrame, k: Int, refine: Int = 4,
                   qId: String = "vec_id", qVec: String = "embedding",
                   cId: String = "vec_id", cVec: String = "embedding",
                   codesCol: String = "codes",
                   excludeSelf: Boolean = true): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(refine >= 1, s"refine must be >= 1, got $refine")
    val cand = sqKnn(queries, codes, model, k * refine, qId, qVec, cId,
      codesCol, excludeSelf)
    refineExact(cand, queries, corpus, k, qId, qVec, cId, cVec)
  }

  // -------------------------------------------------------------------
  // RESIDUAL-CODE STORED LAYOUTS — IVF-PQ and IVF-SQ8. Both store, per
  // IVF cell, a code of the RESIDUAL v − centroid(cell) instead of the
  // raw vector (each replicated copy against its own cell — the
  // residual's spread is the within-cell scatter, so the same code
  // budget reconstructs far tighter than a whole-sphere code). A codec
  // holds what differs between the two: training, the model table, the
  // residual encoding, and the per-(query, cell) probe columns with the
  // score they feed. The build, the append, the probe and the refine
  // are written once around it.
  // -------------------------------------------------------------------

  /** A trained residual quantizer. */
  private sealed trait ResidualCodec {
    def layout: ResidualLayout[ResidualCodec]
    /** The stored code of a residual column. */
    def encode(res: Column): Column
    /** The model table's rows. */
    def modelRows: Seq[Row]
    /** Per (query, probed cell) columns from `query_id`, `qv` and `cell`;
      * `cent` is the probed cell's centroid. */
    def probe(probed: DataFrame, cent: Column): DataFrame
    /** A candidate's score (larger is nearer) over the probe columns and
      * its stored code. */
    def score: Column
  }

  /** A residual-code layout kind: its [[indexHealth]] name, its model
    * dir (which is also its marker, see [[storedLayout]]), its code
    * column; its model table is written and read with one schema. */
  private final class ResidualLayout[+C <: ResidualCodec](val name: String,
      val dir: String, val codeCol: String, schema: String)
      (decode: Array[Row] => C) {
    def write(spark: SparkSession, rows: Seq[Row], path: String): Unit =
      spark.createDataFrame(rows.asJava, StructType.fromDDL(schema))
        .coalesce(1).write.mode("overwrite").parquet(s"$path/$dir")
    def read(spark: SparkSession, path: String): C = {
      val rows = spark.read.schema(schema).parquet(s"$path/$dir").collect()
      require(rows.nonEmpty, s"$path/$dir is empty — not a complete $name layout")
      decode(rows)
    }
  }

  private val PqLayout = new ResidualLayout("ivf-pq", "pq", "pq_code",
      "blk INT, cid INT, centroid ARRAY<DOUBLE>")({ rows =>
    val books = rows
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).toArray).toMap
    val m = books.keys.map(_._1).max + 1
    val ksub = books.keys.map(_._2).max + 1
    PqCodec(PqModel(m * books.head._2.length, m, ksub,
      Array.tabulate(m)(s => Array.tabulate(ksub)(c => books((s, c))))))
  })

  private val SqLayout = new ResidualLayout("ivf-sq8", "sq", "sq_code",
      "i INT, mn DOUBLE, span DOUBLE")({ rows =>
    val grid = rows.map(r => r.getInt(0) -> ((r.getDouble(1), r.getDouble(2))))
      .toMap
    SqCodec(SqModel(Array.tabulate(grid.size)(i => grid(i)._1),
      Array.tabulate(grid.size)(i => grid(i)._2)))
  })

  /** PQ codes; the probe scores by asymmetric distance over the query
    * RESIDUAL against each probed cell's centroid:
    *   ||q − v||² ≈ ||qres − r_code||²
    *             = |qres|² + Σ_s (|r_s|² − 2·qres_s·r_s)
    * One kernel-built m × ksub table per probe row on the broadcast side
    * ([[graft.functions.AdcDistanceTables]] — m unrolled dtab columns
    * were a 64 KB janino overflow site); per candidate, m `element_at`
    * lookups. */
  private final case class PqCodec(model: PqModel) extends ResidualCodec {
    def layout: ResidualLayout[ResidualCodec] = PqLayout
    def encode(res: Column): Column = model.encodeExpr(res)
    def modelRows: Seq[Row] = for (s <- 0 until model.m; c <- 0 until model.ksub)
      yield Row(s, c, model.codebooks(s)(c).toSeq)
    def probe(probed: DataFrame, cent: Column): DataFrame =
      probed.withColumn("qres", zip_with(col("qv"), cent, (a, b) => a - b))
        .select(col("query_id"), col("cell"),
          dotp(col("qres"), col("qres")).as("qres2"),
          graft.functions.AnnExpressions.adcTables(col("qres"), model.codebooks)
            .as("dtab"))
    def score: Column = -(col("qres2") +
      graft.functions.AnnExpressions.adcSum(col("dtab"), col("pq_code")))
  }

  /** SQ8 codes; scoring DECOMPOSES the reconstruction dot so each
    * candidate costs ONE codegen'd dotp over its codes, never a
    * per-candidate zip_with:
    *   q·v̂ = q·(centroid + mn + c⊙span/255)
    *       = [q·centroid + q·mn]  (per (query, cell), broadcast side)
    *       + (q⊙span/255)·c      (dotp against the candidate's codes)
    * It ranks by inner product of the reconstruction; the refine gives
    * exact cosine. */
  private final case class SqCodec(model: SqModel) extends ResidualCodec {
    def layout: ResidualLayout[ResidualCodec] = SqLayout
    def encode(res: Column): Column = sqCodes(res, model)
    def modelRows: Seq[Row] =
      model.mins.indices.map(i => Row(i, model.mins(i), model.spans(i)))
    def probe(probed: DataFrame, cent: Column): DataFrame =
      probed.select(col("query_id"), col("cell"),
        (dotp(col("qv"), cent) + dotp(col("qv"), lit(model.mins))).as("base"),
        zip_with(col("qv"), lit(model.spans.map(_ / 255.0)), (q, w) => q * w)
          .as("wq"))
    def score: Column =
      col("base") + dotp(col("sq_code").cast("array<double>"), col("wq"))
  }

  /** The residual-code layout stored at `path`, by its marker dir (`sq`
    * before `pq`); None for a flat [[saveIvfIndex]] layout. */
  private def storedLayout(spark: SparkSession,
                           path: String): Option[ResidualLayout[ResidualCodec]] = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    Seq(SqLayout, PqLayout)
      .find(l => fs.exists(new org.apache.hadoop.fs.Path(s"$path/${l.dir}")))
  }

  private def readCodec(spark: SparkSession, path: String): ResidualCodec =
    storedLayout(spark, path).map(_.read(spark, path)).getOrElse(
      throw new IllegalArgumentException(s"$path has no pq or sq model — " +
        "not a saveIvfPqIndex / saveIvfSqIndex layout (serve a flat " +
        "saveIvfIndex layout with ivfKnnStored)"))

  /** Cell-partitioned code write: one writer per cell (~nlist files, not
    * tasks × cells). */
  private def writeCodes(assigned: DataFrame, codec: ResidualCodec,
                         path: String, mode: String): Unit =
    assigned.select(col("neighbor_id"),
        codec.encode(col("res")).as(codec.layout.codeCol), col("cell"))
      .repartition(col("cell"))
      .write.mode(mode).partitionBy("cell").parquet(s"$path/corpus")

  /** The one residual-code build: persist the normalized corpus, train
    * the centroids, assign every vector's residuals, train the codec on
    * them, then write centroids, model table and codes through
    * [[writeLayout]] (stamp after every write) and the lineage last. */
  private def saveResidualIndex[C <: ResidualCodec](corpus: DataFrame,
      path: String, nlist: Int, kmeansIters: Int, replicate: Int,
      cId: String, cVec: String, sourcePath: Option[String])
      (train: DataFrame => C): C = {
    val spark = corpus.sparkSession
    val cBuild = corpus.select(col(cId).as("neighbor_id"),
      normalize(col(cVec)).as("cv")).persist()
    try {
      val cents = trainCentroids(cBuild, nlist, kmeansIters)
      val assigned = assignResiduals(cBuild, cents, replicate).persist()
      try {
        val codec = train(assigned)
        writeLayout(spark, path, cents,
          () => codec.layout.write(spark, codec.modelRows, path),
          () => writeCodes(assigned, codec, path, "overwrite"))
        writeLineage(spark, path, sourcePath, cId, cVec)
        codec
      } finally assigned.unpersist(): Unit
    } finally cBuild.unpersist(): Unit
  }

  /** Build and PERSIST the compressed serving layout — IVF cells × PQ
    * codes (the web-scale IVF-PQ stack): coarse centroids prune the scan
    * to `nprobe/nlist` of the index as whole hive partitions, and the
    * cells store m-int PQ codes of the residual INSTEAD of raw vectors,
    * so the index on disk (and per-probe scan bytes) shrinks ~dim·4/m×.
    * Layout: `path`/centroids, `path`/pq (codebooks), `path`/corpus
    * (neighbor_id, pq_code) partitioned by cell. Serve it with
    * [[quantizedKnnStored]].
    * @return the trained [[PqModel]] (also persisted) */
  def saveIvfPqIndex(corpus: DataFrame, path: String, nlist: Int = 16,
                     m: Int = 8, ksub: Int = 16, kmeansIters: Int = 3,
                     pqIters: Int = 3, replicate: Int = 2,
                     cId: String = "vec_id", cVec: String = "embedding",
                     sourcePath: Option[String] = None)
  : PqModel =
    saveResidualIndex(corpus, path, nlist, kmeansIters, replicate, cId,
      cVec, sourcePath)(a => PqCodec(trainPqOn(
        a.select(col("neighbor_id").as("__id"), col("res").as("cv")),
        m, ksub, pqIters))).model

  /** Build and PERSIST the IVF-SQ8 serving layout (FAISS
    * `IndexIVFScalarQuantizer`): coarse cells prune the probe as whole
    * hive partitions and store int8 codes of the residual on a
    * training-free per-dim grid. On disk: centroids + per-dim (min,
    * span) grid (`path`/sq) + cell-partitioned code parquet; raw vectors
    * are NOT stored. Serve it with [[quantizedKnnStored]]. */
  def saveIvfSqIndex(corpus: DataFrame, path: String, nlist: Int = 16,
                     kmeansIters: Int = 3, replicate: Int = 2,
                     cId: String = "vec_id", cVec: String = "embedding",
                     sourcePath: Option[String] = None)
  : SqModel =
    saveResidualIndex(corpus, path, nlist, kmeansIters, replicate, cId,
      cVec, sourcePath)(a => SqCodec(trainSq(a.select(col("res")), "res")))
      .model

  /** Append new vectors to a stored PQ or SQ8 layout at delta cost:
    * assign to the EXISTING centroids, residual-encode with the EXISTING
    * model, append the codes into the cell partitions — the index is
    * never read or rewritten. Same drift contract as
    * [[appendToIvfIndex]]: once appended volume rivals the corpus,
    * rebuild offline at a NEW path ([[rebuildStoredIndex]]). */
  def appendToQuantizedIndex(delta: DataFrame, path: String,
                             replicate: Int = 2, cId: String = "vec_id",
                             cVec: String = "embedding"): Unit = {
    val spark = delta.sparkSession
    val assigned = assignResiduals(
      delta.select(col(cId).as("neighbor_id"), normalize(col(cVec)).as("cv")),
      readCentroids(spark, path), replicate)
    writeCodes(assigned, readCodec(spark, path), path, "append")
  }

  /** Approximate top-k against a stored PQ or SQ8 layout: queries probe
    * their `nprobe` nearest cells, the probed cells' codes are scored by
    * the layout's codec, a replicated neighbor keeps its best copy, and
    * ranking is the shared bounded top-k. Output: (query_id,
    * neighbor_id, rank).
    *
    * STATIC partition pruning: queries are a request (small by
    * contract), so the probed cell set is collected and pushed into the
    * scan as a literal IN — guaranteed whole-partition pruning,
    * independent of the dynamic-pruning heuristics (which decline
    * local-relation build sides). The probe frame is MATERIALIZED first
    * (eager, |Q|·nprobe rows) so the collected cell set and the joined
    * probe rows come from ONE evaluation — a nondeterministic query
    * lineage (sample/limit over multiple files) re-executed in the join
    * could otherwise carry cells the literal filter excluded, silently
    * dropping candidates. */
  def quantizedKnnStored(spark: SparkSession, path: String,
                         queries: DataFrame, k: Int, nprobe: Int = 4,
                         qId: String = "vec_id", qVec: String = "embedding")
  : DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val cents = readCentroids(spark, path)
    val codec = readCodec(spark, path)
    val centLit = typedLit(cents.map(_.toSeq).toSeq)
    val probed = codec.probe(queries
        .select(col(qId).as("query_id"), normalize(col(qVec)).as("qv"))
        .withColumn("cell",
          explode(topCells(col("qv"), cents, math.min(nprobe, cents.length)))),
      element_at(centLit, col("cell") + 1))
    val stored = readIvfCorpus(spark, path)
    val codeCol = codec.layout.codeCol
    require(stored.columns.contains(codeCol),
      s"$path/corpus lacks $codeCol — not a complete ${codec.layout.name} layout")
    val probedM = probed.transform(graft.util.Stage.materialize)
    val probedCells = probedM.select("cell").distinct().collect()
      .map(_.getInt(0)).toSeq
    // self-enforcing bound on the driver-side literal: the collected set
    // is CELLS, not queries — capped by nlist regardless of how many
    // query rows the caller passes (a violation means a corrupt layout)
    require(probedCells.size <= cents.length,
      s"probed cell set (${probedCells.size}) exceeds nlist " +
        s"(${cents.length}) — corrupt index layout at $path?")
    val scored = stored.filter(col("cell").isin(probedCells: _*))
      .join(broadcast(probedM), "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), codec.score.as("score"))
      // a replicated neighbor reached via two cells carries two residual
      // approximations — keep the better one; a plain distinct would let
      // one neighbor occupy two top-k slots
      .groupBy("query_id", "neighbor_id")
      .agg(max("score").as("score"))
    topKByScore(scored, Seq("query_id"), "score", "neighbor_id", k)
      .drop("score")
  }

  /** Compressed nomination with EXACT re-ranking (the FAISS refine
    * pattern): the stored PQ or SQ8 index nominates `k × refine`
    * candidates per query, then ONLY those are re-scored by exact cosine
    * against the raw vector table and the true top `k` returned — most
    * of the recall the quantization loses, for a candidate-pruned sliver
    * of the raw vectors. `corpus` must be the id-aligned raw vector
    * table the index was built from; the candidate set is request-bounded
    * and broadcasts into a semi-join that prunes the raw scan. */
  def quantizedKnnRefined(spark: SparkSession, path: String,
                          queries: DataFrame, corpus: DataFrame, k: Int,
                          refine: Int = 4, nprobe: Int = 4,
                          qId: String = "vec_id", qVec: String = "embedding",
                          cId: String = "vec_id", cVec: String = "embedding")
  : DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(refine >= 1, s"refine must be >= 1, got $refine")
    val cand = quantizedKnnStored(spark, path, queries, k * refine, nprobe,
      qId, qVec)
    refineExact(cand, queries, corpus, k, qId, qVec, cId, cVec)
  }

  // -------------------------------------------------------------------
  // RANDOM PROJECTION (Johnson–Lindenstrauss) — deterministic signed
  // projection to a lower dimension (Achlioptas 2003's database-friendly
  // ±1 matrix). The third compression lane next to PQ (learned) and SQ8
  // (per-dim grid): dimension itself shrinks, so every downstream
  // pairwise op (near-dup, kNN nomination, clustering) pays dOut ≪ dIn
  // multiplies per pair. The matrix is md5-derived (planeVector family)
  // — no RNG state, bit-identical across runs, engines, partitionings.
  // -------------------------------------------------------------------

  /** Row `j` of the dOut×dIn sign matrix: entries ±1/√dOut from the
    * shared [[md5Long]] stream, seed-tagged so independent projections
    * coexist. */
  private def rpRow(seed: Int, j: Int, dIn: Int, dOut: Int): Array[Double] = {
    val s = 1.0 / math.sqrt(dOut.toDouble)
    Array.tabulate(dIn) { i =>
      if ((md5Long(s"rp|$seed|$j|$i") & 1L) == 0L) s else -s
    }
  }

  /** Project a dIn-vector column to dOut dimensions: dOut codegen'd
    * dotp kernels against constant rows — a scan-side map, no shuffle,
    * no UDF. Linear by construction, E[⟨Rx,Ry⟩] = ⟨x,y⟩ (JL). */
  def randomProject(vec: Column, dIn: Int, dOut: Int, seed: Int = 0): Column = {
    require(dIn > 0, s"dIn must be positive, got $dIn")
    require(dOut > 0 && dOut <= dIn,
      s"dOut must be in [1, dIn=$dIn], got $dOut")
    val v = vec.cast("array<double>")
    array((0 until dOut).map(j => dotp(v, lit(rpRow(seed, j, dIn, dOut)))): _*)
  }

  /** Reduced-space nomination + exact re-rank: both sides project to
    * dOut (scan-side), the candidate generation runs [[bruteKnn]]'s
    * broadcast shape at dOut-wide dot products (4× fewer multiplies at
    * 64→16), and only |Q|·k·refine raw vectors are re-scored exactly.
    * At 100 TB the projected corpus is also 4× fewer bytes to scan when
    * materialized ([[randomProject]] composes with a parquet write). */
  def rpKnnRefined(queries: DataFrame, corpus: DataFrame, k: Int,
                   dOut: Int, refine: Int = 4, seed: Int = 0,
                   qId: String = "vec_id", qVec: String = "embedding",
                   cId: String = "vec_id", cVec: String = "embedding",
                   excludeSelf: Boolean = true): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(refine >= 1, s"refine must be >= 1, got $refine")
    val probe = corpus.filter(col(cVec).isNotNull)
      .select(size(col(cVec)).as("d")).head(1)
    require(probe.nonEmpty, "rpKnnRefined: no non-null corpus vectors")
    val dIn = probe(0).getInt(0)
    val qr = queries.select(col(qId).as("query_id"),
      normalize(randomProject(col(qVec), dIn, dOut, seed)).as("qv"))
    val cr = corpus.select(col(cId).as("neighbor_id"),
      normalize(randomProject(col(cVec), dIn, dOut, seed)).as("cv"))
    val cond = if (excludeSelf) col("query_id") =!= col("neighbor_id") else lit(true)
    val nominated = topKByScore(
      cr.join(broadcast(qr), cond)
        .withColumn("cos", dotp(col("qv"), col("cv"))),
      Seq("query_id"), "cos", "neighbor_id", k * refine)
    refineExact(nominated, queries, corpus, k, qId, qVec, cId, cVec)
  }

  /** Exact all-pairs near-duplicates — O(n²) cross join; the recall
    * baseline for [[nearDupPairs]] and the right tool only for corpora
    * that fit a single-stage cartesian. */
  def nearDupPairsExact(corpus: DataFrame, threshold: Double,
                        idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val normed = corpus.select(col(idCol).as("i"), normalize(col(vecCol)).as("va"))
    val a = normed
    val b = normed.toDF("j", "vb")
    a.join(b, col("i") < col("j"))
      .withColumn("cos", dot(col("va"), col("vb")))
      .filter(col("cos") >= threshold)
      .select("i", "j", "cos")
  }
}
