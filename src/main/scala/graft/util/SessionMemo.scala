package graft.util

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** A value built at most once per (session, dir): the build-once-query-many
  * model (one in-memory cube queried many times) as one protocol.
  *
  *  - `get` builds through `computeIfAbsent`, so concurrent callers share
  *    one build, and a build that throws leaves no entry behind.
  *  - Application end evicts the context's entries. Each memo registers
  *    one listener per SparkContext, so the bus never holds per-entry
  *    objects however many entries come and go.
  *  - A context that stops during the build fails the `get` instead of
  *    handing back a value bound to it: the listener may have run before
  *    the entry was inserted, so `get` checks again afterwards.
  *  - `invalidate` drops the entry, runs `release` (unpersist) and clears
  *    the broadcast size estimates taken against the persisted working set.
  *
  * Each memo owns its map: a build may call another memo's `get` (the
  * near-dup pairs read the shingle index), and a nested `computeIfAbsent`
  * on one map throws.
  */
final class SessionMemo[V](
    val name: String,
    build: (SparkSession, String) => V,
    fill: V => Unit,
    release: V => Unit) {

  private val entries = new ConcurrentHashMap[(SparkSession, String), V]()
  private val contexts = ConcurrentHashMap.newKeySet[SparkContext]()

  def get(s: SparkSession, dir: String): V = {
    val v = entries.computeIfAbsent((s, dir), k => build(k._1, k._2))
    val sc = s.sparkContext
    if (contexts.add(sc)) sc.addSparkListener(new SparkListener {
      override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
        evict(sc)
    })
    if (sc.isStopped) {
      evict(sc)
      throw new IllegalStateException(s"$name: SparkContext stopped during build")
    }
    v
  }

  /** Build if needed and fill the persisted caches, so the cost lands on
    * its own line instead of in whichever query runs first. */
  def warm(s: SparkSession, dir: String): Unit = fill(get(s, dir))

  def invalidate(s: SparkSession, dir: String): Unit =
    Option(entries.remove((s, dir))).foreach { v =>
      release(v)
      graft.model.Joins.invalidateEstimates()
    }

  /** Drop every entry of `sc`'s sessions (the application-end listener). */
  private[graft] def evict(sc: SparkContext): Unit = {
    contexts.remove(sc)
    entries.keySet.removeIf(_._1.sparkContext eq sc): Unit
  }

  private[graft] def size: Int = entries.size
}
