package graft.io

import scala.collection.immutable.ListMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._

import graft.model._

/** Export / reshape / persistence surface (SURVEY §2.7):
  * format (X3), dcast pivot (X4), dense as.array export (X5),
  * parquet star-schema save/load (the reference has no storage layer at
  * all — Spark's parquet writer is the natural sink).
  */
object CubeIO {

  /** The reference's `format` (R/data.cube.R:433-458): denormalize to keys
    * + attributes, sort by keys NA-last, apply per-measure `fun.format`
    * (the measure's own, or a per-call override). Returns a display-ready
    * DataFrame — formatting turns measures into strings, exactly like the
    * reference's print path. */
  def format(cube: DataCube,
             overrides: Map[String, Column => Column] = Map.empty): DataFrame = {
    val denorm = cube.denormalize()
    val keys = cube.fact.idVars
    val sorted = denorm.orderBy(keys.map(k => col(k).asc_nulls_last): _*)
    cube.fact.measures.foldLeft(sorted) { (df, m) =>
      overrides.get(m.name).orElse(m.format) match {
        case Some(f) => df.withColumn(m.name, f(col(m.name)))
        case None    => df
      }
    }
  }

  /** The reference's `format(dcast = TRUE, formula = rows ~ cols)`
    * (R/data.cube.R:433-458, pivot at :456) as ONE call: denormalize →
    * per-measure fun.format → dcast pivot → NA-last sort on the row keys
    * (sorting after the pivot — the group-by would destroy a pre-sort).
    * `measures` defaults to all of the cube's measures; `values` pins the
    * pivot columns and skips the discovery scan, exactly like [[pivot]]. */
  def format(cube: DataCube, rowKeys: Seq[String], colKeys: Seq[String],
             measures: Seq[String],
             overrides: Map[String, Column => Column],
             values: Seq[Any]): DataFrame = {
    require(colKeys.nonEmpty, "format dcast needs at least one column key")
    val formatted = format(cube, overrides)
    val ms = if (measures.nonEmpty) measures else cube.fact.measures.map(_.name)
    val wide =
      if (colKeys.size == 1) pivot(formatted, rowKeys, colKeys.head, ms, values)
      else pivotMulti(formatted, rowKeys, colKeys, ms, values)
    wide.orderBy(rowKeys.map(k => col(k).asc_nulls_last): _*)
  }

  def format(cube: DataCube, rowKeys: Seq[String],
             colKeys: Seq[String]): DataFrame =
    format(cube, rowKeys, colKeys, Seq.empty, Map.empty, Seq.empty)

  /** dcast-style pivot (X4): long → wide by `rowKeys ~ colKey`, one wide
    * column per (pivot value × measure). Explicit `values` avoids the
    * pivot-discovery job (a full distinct scan) — pass them when known. */
  def pivot(df: DataFrame, rowKeys: Seq[String], colKey: String,
            measures: Seq[String], values: Seq[Any] = Seq.empty): DataFrame = {
    val g = df.groupBy(rowKeys.map(col): _*)
    val p = if (values.nonEmpty) g.pivot(colKey, values) else g.pivot(colKey)
    val aggs = measures.map(m => first(col(m)).as(m))
    p.agg(aggs.head, aggs.tail: _*)
  }

  /** Multi-column pivot headers (`year ~ status + color` →
    * `active_green` …): concat the column keys first
    * (tests/tests-021-format.R:102-110). `values`, when given, are the
    * CONCATENATED header values (e.g. `"active_green"`) and skip the
    * discovery scan exactly like [[pivot]]'s. */
  def pivotMulti(df: DataFrame, rowKeys: Seq[String], colKeys: Seq[String],
                 measures: Seq[String], values: Seq[Any] = Seq.empty): DataFrame = {
    val combined = df.withColumn("__pivot", concat_ws("_", colKeys.map(col): _*))
    pivot(combined, rowKeys, "__pivot", measures, values)
  }

  /** Dense export — the reference's `as.array` (R/data.table.R:44-83):
    * cross-join every dimension's sorted key values, left-join the
    * measure, fill absent cells. DELIBERATELY driver-bound (`collect`):
    * this is an export utility for small results, guarded by a cell
    * budget exactly like the reference's own memory warning
    * (tests/manual/021-array_cube.R:45-67).
    *
    * @return (dimension key value sequences in order, row-major flat array)
    */
  def toDenseArray(cube: DataCube, measure: String,
                   maxCells: Long = 10000000L): (Seq[Seq[Any]], Array[Double]) = {
    // one dimension per fact key, in key order — a regrained cube whose
    // fact is keyed by several attributes of one dimension has no dense
    // array shape (the reference's as.array has the same precondition)
    require(cube.dimensions.size == cube.fact.idVars.size &&
      cube.dimensions.values.map(_.key).toSeq == cube.fact.idVars,
      s"dense export needs one dimension per fact key in key order; " +
        s"fact keys ${cube.fact.idVars.mkString(",")} vs dimension keys " +
        cube.dimensions.values.map(_.key).mkString(","))
    val dimKeys: Seq[Seq[Any]] = cube.dimensions.values.toSeq.map { d =>
      d.keyValues.orderBy(col(d.key).asc).collect().map(_.get(0)).toSeq
    }
    val cells = dimKeys.map(_.size.toLong).product
    require(cells <= maxCells,
      s"dense export would materialize $cells cells (> $maxCells budget)")
    val index: Seq[Map[Any, Int]] = dimKeys.map(_.zipWithIndex.toMap)
    val strides: Seq[Long] = dimKeys.indices.map(i =>
      dimKeys.drop(i + 1).map(_.size.toLong).product)
    val flat = Array.fill(cells.toInt)(Double.NaN)
    val keys = cube.fact.idVars
    cube.fact.data.select((keys.map(col) :+ col(measure)): _*).collect()
      .foreach { row =>
        val pos = keys.indices.map(i =>
          index(i)(row.get(i)) * strides(i)).sum
        flat(pos.toInt) = row.getAs[Any](keys.size) match {
          case null => Double.NaN
          case d: java.lang.Double => d
          case n: Number => n.doubleValue()
        }
      }
    (dimKeys, flat)
  }

  /** 1-D shape convenience (R/data.table.R:44-83: a one-dimensional array
    * drops to a named vector): (sorted key values, measure vector). */
  def toDenseVector(cube: DataCube, measure: String,
                    maxCells: Long = 10000000L): (Seq[Any], Array[Double]) = {
    require(cube.fact.idVars.size == 1,
      s"dense vector export needs exactly one dimension; " +
        s"fact keys: ${cube.fact.idVars.mkString(",")}")
    val (keys, flat) = toDenseArray(cube, measure, maxCells)
    (keys.head, flat)
  }

  /** 0-dim shape convenience (R/data.table.R:44-83: a zero-dimensional
    * cube drops to a scalar): the grand-total cell, NaN when absent. */
  def toScalar(cube: DataCube, measure: String): Double = {
    require(cube.fact.idVars.isEmpty,
      s"scalar export needs a 0-dim cube; fact keys: ${cube.fact.idVars.mkString(",")}")
    toDenseArray(cube, measure)._2.head
  }

  /** Persist the fact bucketed by a key column (sorted within buckets):
    * two tables bucketed the same way join/aggregate on that key with NO
    * shuffle — the co-location technique that matters most at 100 TB,
    * where re-shuffling the fact dominates every query. Bucketed writes
    * go through the session catalog (`saveAsTable`), so callers name the
    * table; read back with `spark.table(name)`. */
  def saveFactBucketed(cube: DataCube, tableName: String, bucketKey: String,
                       buckets: Int): Unit =
    graft.operators.Layout.saveBucketed(cube.fact.data, tableName,
      bucketKey, buckets, sortCols = Seq(bucketKey))

  /** Star metadata as typed rows — written and read by Spark's own JSON
    * codec with this explicit schema (never inference, never hand-rolled
    * parsing: the round-1 regex decoder corrupted on `]`/`"` inside quoted
    * names). Seq fields keep hierarchy/level ORDER, which ListMap-based
    * model construction relies on. */
  private[io] case class LevelMeta(key: String, props: Seq[String])
  private[io] case class HierMeta(name: String, levels: Seq[LevelMeta])
  private[io] case class DimMeta(name: String, key: String,
                                 hierarchies: Seq[HierMeta], dir: String)
  private[io] case class MeasureMeta(vr: String, name: String)
  // factPartitions was added after round 4, factSchemaJson after round 6:
  // old meta files read the missing fields as null (explicit schema) —
  // normalized/defaulted in readMeta and at the read sites
  private[io] case class StarMeta(idVars: Seq[String],
                                  measures: Seq[MeasureMeta],
                                  dimensions: Seq[DimMeta],
                                  factPartitions: Seq[String],
                                  factSchemaJson: String)

  /** Dimension data directory name: md5 of the dimension name — stable,
    * collision-free in practice, and safe for names containing path
    * metacharacters (`/`, quotes, brackets). The human-readable name
    * lives in the metadata, not the filesystem. */
  private def dimDir(name: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(name.getBytes("UTF-8"))
    "dim_" + d.map("%02x".format(_)).mkString
  }

  /** Persist the star schema as parquet: fact + one directory per
    * dimension flat table, plus a tiny JSON of the metadata.
    *
    * @param partitionFact hive-partition the fact by these key columns
    *        (typically the time key): a slice on a partition column then
    *        prunes whole directories at the SCAN (`PartitionFilters` in
    *        the plan) — at 100 TB the difference between reading a day
    *        and reading a decade. Choose low-cardinality keys; a
    *        high-cardinality partition column produces millions of tiny
    *        files (the small-files problem) and slows listing. */
  def saveStar(cube: DataCube, path: String,
               partitionFact: Seq[String] = Seq.empty): Unit = {
    require(partitionFact.forall(cube.fact.idVars.contains),
      s"partition columns ${partitionFact.mkString(",")} must be fact id.vars " +
        s"(${cube.fact.idVars.mkString(",")})")
    cube.fact.data.write.mode("overwrite")
      .partitionBy(partitionFact: _*).parquet(s"$path/fact")
    cube.dimensions.values.foreach { d =>
      d.denormalized.write.mode("overwrite").parquet(s"$path/${dimDir(d.name)}")
    }
    val meta = StarMeta(
      cube.fact.idVars,
      cube.fact.measures.map(m => MeasureMeta(m.vr, m.name)),
      cube.dimensions.values.toSeq.map { d =>
        DimMeta(d.name, d.key,
          d.hierarchies.toSeq.map { case (hn, h) =>
            HierMeta(hn, h.levels.toSeq.map { case (lk, props) =>
              LevelMeta(lk, props)
            })
          },
          dimDir(d.name))
      },
      partitionFact,
      // the WRITTEN fact schema, pinned: a partitioned reload otherwise
      // infers partition-column types from the directory VALUES, so a
      // numeric-looking string key ('00123') would silently reload as int
      // — lost leading zeros and a corrupted join grain
      cube.fact.data.schema.json)
    val spark = cube.fact.data.sparkSession
    import spark.implicits._
    Seq(meta).toDS().coalesce(1)
      .write.mode("overwrite").json(s"$path/meta")
  }

  private def readMeta(spark: SparkSession, path: String): StarMeta = {
    import spark.implicits._
    // FAILFAST: a corrupt or old-format meta file must fail loudly here,
    // not surface later as an all-null StarMeta NPE
    val meta = spark.read
      .schema(org.apache.spark.sql.Encoders.product[StarMeta].schema)
      .option("mode", "FAILFAST")
      .json(s"$path/meta").as[StarMeta].head()
    require(meta.idVars != null && meta.measures != null && meta.dimensions != null,
      s"$path/meta is not a saveStar metadata file (missing fields)")
    if (meta.factPartitions == null) meta.copy(factPartitions = Seq.empty) else meta
  }

  /** Read the stored fact with the WRITTEN schema when the meta recorded
    * one (post-round-6 stars): partition-column types then come from the
    * schema, not from Hive partition-VALUE inference — a zero-padded
    * string key round-trips as string. Pre-schema meta files fall back to
    * inference (their partition columns must round-trip under
    * `partitionColumnTypeInference`, the old documented contract). */
  private def readFact(spark: SparkSession, path: String, meta: StarMeta): DataFrame = {
    val reader = spark.read
    val withSchema =
      if (meta.factSchemaJson == null) reader
      else reader.schema(
        org.apache.spark.sql.types.DataType.fromJson(meta.factSchemaJson)
          .asInstanceOf[org.apache.spark.sql.types.StructType])
    withSchema.parquet(s"$path/fact")
  }

  /** Load a star schema saved by [[saveStar]]. Measures reload as SUM of
    * the stored (already grain-aggregated) columns — the additive default;
    * callers with custom aggregates re-supply them. */
  def loadStar(spark: SparkSession, path: String): DataCube = {
    val meta = readMeta(spark, path)
    val measures = meta.measures.map(m => Measure.sum(m.vr, m.name))
    val dims = meta.dimensions.map { d =>
      val hs = d.hierarchies.map(h =>
        h.name -> Hierarchy(ListMap(h.levels.map(l => l.key -> l.props): _*)))
      Dimension.build(d.name, d.key, ListMap(hs: _*),
        spark.read.parquet(s"$path/${d.dir}"))
    }
    val factDf = readFact(spark, path, meta)
    // stored fact is already at grain; re-aggregation is a no-op reload
    DataCube.build(Fact(factDf, meta.idVars, measures.map(m => m.copy(vr = m.name))), dims)
  }

  /** SCD TYPE-1 dimension update: overwrite ONE dimension's attribute
    * table in a stored star in place — the history-free correction path
    * ("fix the misspelled nation name everywhere, retroactively"); the
    * versioned alternative is [[graft.sources.Sources.scd2]] plus an
    * as-of lookup (q63). Validates BEFORE writing: the new table must
    * carry every hierarchy column the stored metadata names
    * ([[graft.model.Dimension.build]] enforces it), and every fact key
    * value must still resolve in the new members (fact ⊆ dim) — an
    * update that would orphan fact rows fails with the orphan count,
    * star untouched. The write is the same small-table overwrite commit
    * [[saveStar]] uses; metadata is unchanged (name/key/hierarchies must
    * not change in a type-1 update — that is a rebuild). */
  def updateDimensionInStar(spark: SparkSession, path: String,
                            dimName: String, newFlat: DataFrame): Unit = {
    val meta = readMeta(spark, path)
    val dm = meta.dimensions.find(_.name == dimName).getOrElse(
      throw new IllegalArgumentException(
        s"no dimension '$dimName' in this star " +
          s"(have: ${meta.dimensions.map(_.name).mkString(", ")})"))
    val hs = dm.hierarchies.map(h =>
      h.name -> Hierarchy(ListMap(h.levels.map(l => l.key -> l.props): _*)))
    // Dimension.build validates the hierarchy columns against newFlat
    val dim = Dimension.build(dm.name, dm.key, ListMap(hs: _*), newFlat)
    val orphans = readFact(spark, path, meta)
      .select(col(dm.key)).distinct()
      .join(dim.keyValues, Seq(dm.key), "left_anti").count()
    require(orphans == 0,
      s"$orphans fact key value(s) of '${dm.key}' missing from the new " +
        s"'$dimName' members — the update would orphan fact rows; " +
        "star left untouched")
    dim.denormalized.write.mode("overwrite").parquet(s"$path/${dm.dir}")
  }

  /** Batch-incremental maintenance of a PARTITIONED star fact
    * (`saveStar(..., partitionFact = ...)`): aggregate `rawDelta` to the
    * stored grain, read ONLY the partitions the delta touches (the filter
    * is partition-pruned at the scan), merge at grain, and rewrite JUST
    * those partitions via dynamic partition overwrite. Cost scales with
    * the delta's partition footprint, not the fact size — a day's ingest
    * reads and rewrites a day, not a decade. This is the 100 TB
    * maintenance model; an unpartitioned star must be rebuilt with
    * [[saveStar]] (merging without partition boundaries rewrites
    * everything anyway).
    *
    * Measures follow the [[loadStar]] additive contract (stored columns
    * merge by SUM), and the delta arrives in the STAR's own schema —
    * id.vars plus measure-NAME columns (what [[saveStar]] wrote; for a
    * stored star the measure name IS the column). Delta rows may be below
    * grain (they are summed to grain first) and may hit existing grain
    * rows (merged) or open new partitions. Custom non-additive aggregates
    * need a rebuild at their original definition.
    *
    * The merged rows are materialized (eager localCheckpoint) BEFORE the
    * overwrite: the write must not lazily re-read the very files it is
    * replacing.
    *
    * @return the number of fact partitions rewritten */
  def ingestIntoStar(spark: SparkSession, path: String,
                     rawDelta: DataFrame): Int =
    mergeTouched(spark, path, rawDelta, "ingest", identity) match {
      case None => 0
      case Some(m) => writeFactPartitions(m.merged, m.pCols, path); m.nTouched
    }

  /** The merge protocol shared by the upsert ([[ingestIntoStar]]) and
    * delete ([[retractFromStar]]) halves of incremental maintenance:
    * aggregate the raw delta to grain, apply `transform` (identity /
    * negation), collect the delta's partition footprint (small by
    * construction — days, not rows) into a pruning filter, read ONLY the
    * touched partitions, and merge at grain. The merged rows are
    * materialized (eager localCheckpoint) BEFORE any overwrite so the
    * write cannot lazily re-read the files it replaces. */
  private final case class TouchedMerge(pCols: Seq[String], nTouched: Int,
                                        deltaData: DataFrame, merged: DataFrame)

  private def mergeTouched(spark: SparkSession, path: String,
                           rawDelta: DataFrame, op: String,
                           transform: DataFrame => DataFrame): Option[TouchedMerge] = {
    val meta = readMeta(spark, path)
    require(meta.factPartitions.nonEmpty,
      s"incremental $op needs a partitioned fact " +
        "(saveStar(..., partitionFact = ...)); rebuild unpartitioned stars")
    val pCols = meta.factPartitions
    val ingestMeasures = meta.measures.map(m => Measure.sum(m.vr, m.name))
    val delta = Fact.build(rawDelta, meta.idVars, ingestMeasures)
    val stored = meta.measures.map(m => Measure.sum(m.name, m.name))
    val deltaData = transform(delta.data)
    val touched = delta.data.select(pCols.map(col): _*).distinct().collect()
    if (touched.isEmpty) return None
    val touchedFilter = touched.map { r =>
      pCols.zipWithIndex
        .map { case (c, i) => col(c) <=> lit(r.get(i)) }
        .reduce(_ && _)
    }.reduce(_ || _)
    val existing = readFact(spark, path, meta)
      .filter(touchedFilter)
      .select(deltaData.columns.map(col).toSeq: _*) // align column order for union
    val merged = Fact.aggregate(
      existing.unionByName(deltaData), meta.idVars, stored)
      .transform(graft.util.Stage.materialize)
    Some(TouchedMerge(pCols, touched.length, deltaData, merged))
  }

  private def writeFactPartitions(rows: DataFrame, pCols: Seq[String],
                                  path: String): Unit =
    rows.write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(pCols: _*)
      .parquet(s"$path/fact")

  /** Retraction — the DELETE half of incremental star maintenance
    * ([[ingestIntoStar]] is the upsert half): aggregate `rawRetraction`
    * (the same star-schema shape as an ingest delta) to the stored
    * grain, NEGATE every measure, and merge into only the touched
    * partitions, exactly like an ingest. `supportCol` names the stored
    * row-count measure (a `lit(1)` SUM like q62's `n_orders`): it
    * defines row existence, so grain rows whose support reaches zero are
    * DROPPED rather than kept as all-zero rows, and partitions left with
    * no surviving rows are REMOVED from the filesystem — dynamic
    * partition overwrite alone cannot delete them (an empty partition
    * writes no files, which would leave the old files live as stale
    * data). Support going NEGATIVE means the caller retracted rows that
    * were never ingested: the job fails with the offending keys BEFORE
    * any write, star untouched.
    *
    * Like ingest, retraction is not idempotent (re-running subtracts
    * again) and not atomic across partitions (the dynamic overwrite
    * commits per partition; directory removal follows it). Callers that
    * can replay need a journaling layer on top, same as ingest.
    *
    * @return the number of fact partitions rewritten or removed */
  def retractFromStar(spark: SparkSession, path: String,
                      rawRetraction: DataFrame, supportCol: String): Int = {
    val meta = readMeta(spark, path)
    require(meta.measures.exists(_.name == supportCol),
      s"supportCol '$supportCol' is not a stored measure " +
        s"(have: ${meta.measures.map(_.name).mkString(", ")})")
    val negate = (d: DataFrame) => d.select(
      (d.columns.toSeq.filterNot(c => meta.measures.exists(_.name == c))
        .map(col) ++
        meta.measures.map(m => (-col(m.name)).as(m.name))): _*)
    val m = mergeTouched(spark, path, rawRetraction, "retraction", negate)
      .getOrElse(return 0)
    val (pCols, merged) = (m.pCols, m.merged)
    val overdrawn = merged.filter(col(supportCol) < 0)
      .select(meta.idVars.map(col): _*).limit(5).collect()
    if (overdrawn.nonEmpty)
      throw new IllegalStateException(
        s"retraction exceeds ingested rows ($supportCol < 0) at grain keys " +
          overdrawn.mkString("[", ", ", "]") + " — star left untouched")
    val survivors = merged.filter(col(supportCol) > 0)
    writeFactPartitions(survivors, pCols, path)
    // remove partitions whose every grain row died: they were touched but
    // appear nowhere in the survivors, so the overwrite wrote nothing
    // into them and their old files are stale. Directory names use the
    // SAME cast-to-string Spark's partition writer applies (collected as
    // an extra projection) — String.valueOf of the JVM value diverges for
    // timestamps (trailing ".0") and would silently miss the delete —
    // and escaped by the partition-path function that writer uses.
    val aliveStr = survivors
      .select(pCols.map(c => col(c).cast("string")): _*).distinct().collect()
      .map(_.toSeq).toSet
    val deadStr = m.deltaData
      .select(pCols.map(c => col(c).cast("string")): _*).distinct().collect()
      .map(_.toSeq).filterNot(aliveStr.contains)
    if (deadStr.nonEmpty) {
      val factRoot = new Path(s"$path/fact")
      val fs = factRoot.getFileSystem(spark.sessionState.newHadoopConf())
      deadStr.foreach { vals =>
        val dir = pCols.zip(vals).map { case (c, v) =>
          ExternalCatalogUtils.getPartitionPathString(c,
            if (v == null) null else v.toString)
        }.mkString("/")
        fs.delete(new Path(factRoot, dir), true): Unit
      }
    }
    m.nTouched
  }

  /** Apply a delta to a stored star AT MOST ONCE per `batchId` — the
    * idempotence wrapper that makes [[ingestIntoStar]] safe under
    * at-least-once delivery (Structured Streaming foreachBatch replays
    * the last uncommitted micro-batch after a crash; a bare re-ingest
    * would double-add). A journal marker directory
    * (`<path>/_ingest_journal/batch=<id>`, `_`-prefixed so fact reads
    * never see it) is written AFTER the merge commits; a replay that
    * finds the marker skips the merge entirely and returns false.
    *
    * Guarantee: exactly-once in every case except a crash INSIDE the
    * window between the dynamic-overwrite commit and the marker write —
    * there a replay double-applies that one batch (the same class of
    * window [[retractFromStar]] documents for its directory removals;
    * closing it needs a transactional table format, which plain parquet
    * does not offer). The journal accumulates one empty directory per
    * batch — prune it whenever the streaming checkpoint is compacted.
    *
    * @return true when the delta was applied, false when the journal
    *         already had the batch */
  def ingestIntoStarOnce(spark: SparkSession, path: String,
                         rawDelta: DataFrame, batchId: Long): Boolean = {
    val marker = new Path(s"$path/_ingest_journal/batch=$batchId")
    val fs = marker.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(marker)) return false
    ingestIntoStar(spark, path, rawDelta)
    fs.mkdirs(marker)
    true
  }

  /** Retraction twin of [[ingestIntoStarOnce]]: at most one
    * [[retractFromStar]] per `batchId`, journaled under
    * `<path>/_retract_journal` (a separate namespace — an ingest and a
    * retraction may legitimately share a batch id when driven by two
    * streams). Same guarantee and same documented commit-to-marker
    * window. */
  def retractFromStarOnce(spark: SparkSession, path: String,
                          rawRetraction: DataFrame, supportCol: String,
                          batchId: Long): Boolean = {
    val marker = new Path(s"$path/_retract_journal/batch=$batchId")
    val fs = marker.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(marker)) return false
    retractFromStar(spark, path, rawRetraction, supportCol)
    fs.mkdirs(marker)
    true
  }
}
