package graft.model

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions.{col, isnan, posexplode, row_number, udaf}
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** The measure escape hatch (SURVEY §2.9 / §7.3): the reference accepts any
  * R closure as `fun.aggregate`; the Spark engine's open-world equivalent
  * is a typed `Aggregator[IN, BUF, OUT]` wrapped into a `Column` function
  * so it plugs into [[Measure]] like any built-in. Partial aggregation
  * (map-side combine) comes from `merge` — unlike an R closure, a Spark
  * Aggregator scales because the planner can split it. */
object Aggregators {

  /** Wrap a double Aggregator as a Measure-compatible Column function. */
  def asMeasureFn(agg: Aggregator[Double, _, Double]): Column => Column = {
    val fn = udaf(agg, Encoders.scalaDouble)
    c => fn(c)
  }

  def measure(vr: String, name: String,
              agg: Aggregator[Double, _, Double]): Measure =
    Measure(vr, name, asMeasureFn(agg))

  /** Product of values — an aggregate Spark has no builtin for (the
    * canonical "user closure" example). */
  object Product extends Aggregator[Double, Double, Double] {
    def zero: Double = 1.0
    def reduce(b: Double, a: Double): Double = b * a
    def merge(b1: Double, b2: Double): Double = b1 * b2
    def finish(r: Double): Double = r
    def bufferEncoder: Encoder[Double] = Encoders.scalaDouble
    def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  /** One (score, id) candidate flowing into [[TopKByScore]]. */
  private[Aggregators] final case class ScoredId(score: Double, id: Long)

  /** Bounded-buffer contents of [[TopKByScore]] (a case-class wrapper so
    * `Encoders.product` handles the nested Seq). */
  private[Aggregators] final case class TopKBuf(items: Seq[ScoredId])

  /** Fixed-size primitive heap buffer of [[TopKByScore]]: parallel
    * score/id arrays in binary-min-heap order (root = WEAKEST retained
    * element under (score desc, id asc)), `n` live slots. A case class so
    * `Encoders.product` codegens the (rare — spill/shuffle only)
    * serialization; the arrays are mutated in place on the per-row path. */
  private[Aggregators] final case class TopKHeap(scores: Array[Double],
                                                 ids: Array[Long], n: Int)

  /** Bounded per-group top-k by (score desc, id asc) over a long id — the
    * integral-id form of [[topKByScore]]. As a `udaf` the planner gives
    * it map-side partial aggregation (ObjectHashAggregate), so a shuffle
    * carries at most k elements per (partition, group) instead of every
    * scored row. Spark 4.1's `row_number` window limit gives the same
    * bound (a Partial `WindowGroupLimit` below the exchange) and wins on
    * small inputs; this heap stays for integral ids because it wins from
    * about 1M rows up, the range the scale probes run. Same answers,
    * local[4] on a 4-core box, AQE on, cached input, k = 10, three reps
    * (heap vs window): 12.5k rows / 50 groups 384–595 vs 188–279 ms;
    * 1M / 50 groups 301–415 vs 352–496 ms; 4M / 2,000 groups 672–847 vs
    * 1,027–1,359 ms. The buffer is a fixed-size primitive min-heap
    * keyed weakest-at-root: each incoming row is one root comparison and
    * at most O(log k) in-place sifts — no per-row allocation, no periodic
    * re-sort (the previous Vector-append buffer re-sorted boxed elements
    * every 2k appends, a measured ~0.6 s constant on q22's 12.5k rows).
    * The retained set is the exact top-k under the total order, so the
    * result is deterministic regardless of arrival order; NaN scores are
    * dropped as unrankable (never retained, never block retention). */
  private[Aggregators] final class TopKByScore(k: Int)
      extends Aggregator[ScoredId, TopKHeap, TopKBuf] {
    require(k > 0, s"k must be positive, got $k")
    /** (s1, i1) loses to (s2, i2) under (score desc, id asc)? */
    private def weaker(s1: Double, i1: Long, s2: Double, i2: Long): Boolean =
      s1 < s2 || (s1 == s2 && i1 > i2)
    private def swap(b: TopKHeap, i: Int, j: Int): Unit = {
      val s = b.scores(i); b.scores(i) = b.scores(j); b.scores(j) = s
      val d = b.ids(i); b.ids(i) = b.ids(j); b.ids(j) = d
    }
    private def insert(b: TopKHeap, s: Double, id: Long): TopKHeap =
      // NaN is unrankable and would poison the heap (a NaN root loses
      // every `weaker` comparison, permanently blocking real elements) —
      // treat it as "not a candidate", matching topKByScore's pre-filter
      if (s.isNaN) b
      else if (b.n < k) { // filling: place at the end, sift up
        var pos = b.n
        b.scores(pos) = s; b.ids(pos) = id
        while (pos > 0 && {
          val p = (pos - 1) >> 1
          weaker(b.scores(pos), b.ids(pos), b.scores(p), b.ids(p))
        }) { val p = (pos - 1) >> 1; swap(b, pos, p); pos = p }
        b.copy(n = b.n + 1) // arrays shared; only the live count changes
      } else if (weaker(b.scores(0), b.ids(0), s, id)) {
        // stronger than the weakest retained: replace the root, sift down
        b.scores(0) = s; b.ids(0) = id
        var pos = 0
        var done = false
        while (!done) {
          val l = 2 * pos + 1
          val r = l + 1
          var m = pos
          if (l < b.n && weaker(b.scores(l), b.ids(l), b.scores(m), b.ids(m))) m = l
          if (r < b.n && weaker(b.scores(r), b.ids(r), b.scores(m), b.ids(m))) m = r
          if (m == pos) done = true else { swap(b, pos, m); pos = m }
        }
        b
      } else b
    def zero: TopKHeap = TopKHeap(new Array[Double](k), new Array[Long](k), 0)
    def reduce(b: TopKHeap, a: ScoredId): TopKHeap = insert(b, a.score, a.id)
    def merge(x: TopKHeap, y: TopKHeap): TopKHeap = {
      var acc = x
      var i = 0
      while (i < y.n) { acc = insert(acc, y.scores(i), y.ids(i)); i += 1 }
      acc
    }
    def finish(b: TopKHeap): TopKBuf =
      TopKBuf(Array.tabulate(b.n)(i => ScoredId(b.scores(i), b.ids(i)))
        .sortBy(s => (-s.score, s.id)).toSeq)
    def bufferEncoder: Encoder[TopKHeap] = Encoders.product[TopKHeap]
    def outputEncoder: Encoder[TopKBuf] = Encoders.product[TopKBuf]
  }

  /** The one per-group top-k ranking tail (kNN, BM25, RRF fusion,
    * diversity sampling): for each `groupCols` group, the `k` rows with
    * the highest `scoreCol`, ties broken by `idCol` ascending. Output:
    * the group columns, `idCol` in its input type, `rank` (INT, 1..k)
    * and `scoreCol`. Rows with a NULL or NaN score or a NULL id are
    * dropped as unrankable: an undefined similarity is "not a
    * candidate", never rank 1 (Spark's desc puts NaN first).
    *
    * Integral ids rank on the primitive long heap ([[TopKByScore]]);
    * every other id type ranks with `row_number()` and `rank <= k`,
    * which Spark plans as a Partial `WindowGroupLimit` below the hash
    * exchange — at most k rows per (partition, group) cross the shuffle
    * on both paths, never the scored relation. */
  private[graft] def topKByScore(scored: DataFrame, groupCols: Seq[String],
                                 scoreCol: String, idCol: String,
                                 k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val groups = groupCols.map(col)
    val ranked = scored.filter(col(scoreCol).isNotNull &&
      !isnan(col(scoreCol)) && col(idCol).isNotNull)
    val idType = scored.schema(idCol).dataType
    idType match {
      case LongType | IntegerType | ShortType | ByteType =>
        val topk = udaf(new TopKByScore(k), Encoders.product[ScoredId])
        ranked.groupBy(groups: _*)
          .agg(topk(col(scoreCol), col(idCol).cast(LongType)).as("tk"))
          .select(groups :+ posexplode(col("tk.items")).as(Seq("idx", "it")): _*)
          .select(groups ++ Seq(col("it.id").cast(idType).as(idCol),
            (col("idx") + 1).as("rank"), col("it.score").as(scoreCol)): _*)
      case _ =>
        val w = Window.partitionBy(groups: _*)
          .orderBy(col(scoreCol).desc, col(idCol).asc)
        ranked.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= k)
          .select(groups ++ Seq(col(idCol), col("rank"), col(scoreCol)): _*)
    }
  }

  /** Misra-Gries heavy-hitters summary buffer: candidate item → count
    * lower bound, at most k entries (case-class wrapper so
    * `Encoders.product` handles the Map). */
  final case class MgBuf(counts: Map[String, Long])

  /** Bounded-memory frequent-items sketch (Misra-Gries): tracks at most
    * `k` candidate items; any item with true count > n/(k+1) over n
    * observations is GUARANTEED present in the summary, and every
    * reported count is a lower bound within n/(k+1) of the truth — the
    * mergeable-summaries form (Agarwal et al., PODS'12), so map-side
    * partial aggregation preserves the bound. The point at 100 TB: a
    * full `groupBy(term)` must materialize the whole vocabulary
    * (unbounded memory / shuffle); MG holds O(k) per partition and
    * shuffles at most k rows per partition, turning "top terms of a
    * corpus" into a candidate-generation pass that a tiny exact
    * second pass over ≤ k candidates then confirms
    * ([[graft.operators.Corpus.frequentTerms]]).
    *
    * The summary CONTENTS (which sub-threshold candidates survive, and
    * the exact lower bounds) depend on arrival/merge order — only the
    * guarantees above are deterministic. Callers wanting deterministic
    * output must re-verify candidates exactly, as frequentTerms does. */
  final class MisraGries(k: Int) extends Aggregator[String, MgBuf, MgBuf] {
    require(k > 0, s"k must be positive, got $k")
    def zero: MgBuf = MgBuf(Map.empty)
    def reduce(b: MgBuf, item: String): MgBuf = {
      val m = b.counts
      m.get(item) match {
        case Some(c) => MgBuf(m.updated(item, c + 1))
        case None if m.size < k => MgBuf(m.updated(item, 1L))
        // summary full: decrement every counter (the classic step — one
        // "vote" from each of k+1 distinct items cancels), dropping zeros
        case None => MgBuf(m.collect { case (t, c) if c > 1 => t -> (c - 1) })
      }
    }
    def merge(x: MgBuf, y: MgBuf): MgBuf = {
      val combined = y.counts.foldLeft(x.counts) { case (m, (t, c)) =>
        m.updated(t, m.getOrElse(t, 0L) + c)
      }
      if (combined.size <= k) MgBuf(combined)
      else {
        // subtract the (k+1)-th largest count from everything and drop
        // non-positives — at most k survive, error grows by that count,
        // staying within the summed n/(k+1) bound (mergeable-summaries)
        val cs = combined.values.toArray
        java.util.Arrays.sort(cs)
        val cut = cs(cs.length - (k + 1))
        MgBuf(combined.collect { case (t, c) if c > cut => t -> (c - cut) })
      }
    }
    def finish(b: MgBuf): MgBuf = b
    def bufferEncoder: Encoder[MgBuf] = Encoders.product[MgBuf]
    def outputEncoder: Encoder[MgBuf] = Encoders.product[MgBuf]
  }

  /** One sanitized vector row flowing into [[ArrayMinMax]] (a case-class
    * wrapper so `Encoders.product` supplies the input encoder; the
    * caller pre-encodes null/non-finite ELEMENTS as NaN). */
  final case class VecRow(v: Seq[Double])

  /** Elementwise (min, max) buffer of [[ArrayMinMax]]: two dim-length
    * arrays, whatever the vector width. */
  final case class MinMaxBuf(mins: Seq[Double], maxs: Seq[Double])

  /** Per-dimension (min, max) over fixed-width double arrays in ONE
    * aggregation slot — the scalar-quantizer grid trainer's combiner
    * ([[graft.operators.Similarity.trainSq]]). The alternative (2·dim
    * independent min/max aggregate EXPRESSIONS over `element_at`) blows
    * past wholestage-codegen's method budget and the driver's planner at
    * production embedding widths (768–4096 dims = thousands of agg
    * slots); this buffer stays two arrays at any width. NaN elements
    * (the caller's sentinel for null/±Inf input) are skipped; a
    * dimension that never sees a finite value finishes (+Inf, −Inf) and
    * the caller maps it to its degenerate grid. min/max are
    * order-insensitive, so the result is bit-identical under any
    * partitioning. */
  final class ArrayMinMax(dim: Int)
    extends Aggregator[VecRow, MinMaxBuf, MinMaxBuf] {
    def zero: MinMaxBuf = MinMaxBuf(
      Seq.fill(dim)(Double.PositiveInfinity),
      Seq.fill(dim)(Double.NegativeInfinity))
    def reduce(b: MinMaxBuf, a: VecRow): MinMaxBuf = {
      if (a == null || a.v == null) b
      else {
        val mn = b.mins.toArray
        val mx = b.maxs.toArray
        val n = math.min(dim, a.v.length)
        var i = 0
        while (i < n) {
          val x = a.v(i)
          if (!x.isNaN) {
            if (x < mn(i)) mn(i) = x
            if (x > mx(i)) mx(i) = x
          }
          i += 1
        }
        MinMaxBuf(mn.toIndexedSeq, mx.toIndexedSeq)
      }
    }
    def merge(x: MinMaxBuf, y: MinMaxBuf): MinMaxBuf = MinMaxBuf(
      x.mins.lazyZip(y.mins).map((a, b) => math.min(a, b)).toIndexedSeq,
      x.maxs.lazyZip(y.maxs).map((a, b) => math.max(a, b)).toIndexedSeq)
    def finish(r: MinMaxBuf): MinMaxBuf = r
    def bufferEncoder: Encoder[MinMaxBuf] = Encoders.product[MinMaxBuf]
    def outputEncoder: Encoder[MinMaxBuf] = Encoders.product[MinMaxBuf]
  }

  /** Geometric mean via log-space sums (stable + mergeable). */
  object GeoMean extends Aggregator[Double, (Double, Long), Double] {
    def zero: (Double, Long) = (0.0, 0L)
    def reduce(b: (Double, Long), a: Double): (Double, Long) =
      (b._1 + math.log(a), b._2 + 1)
    def merge(x: (Double, Long), y: (Double, Long)): (Double, Long) =
      (x._1 + y._1, x._2 + y._2)
    def finish(r: (Double, Long)): Double =
      if (r._2 == 0) Double.NaN else math.exp(r._1 / r._2)
    def bufferEncoder: Encoder[(Double, Long)] =
      Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong)
    def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }
}
