package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.SparkContext
import org.apache.spark.graft.Listeners
import org.apache.spark.sql.SparkSession

import graft.util.SessionMemo

/** The build-once protocol behind the cube, shingle, near-dup and v4
  * memos, on test-local memos over the shared session. The stopped-context
  * failure is not exercised: the JVM holds one SparkContext, shared by
  * every spec. */
class SessionMemoSpec extends SparkSpec {

  private def counting(name: String)(build: (SparkSession, String) => String)
  : (SessionMemo[String], AtomicInteger) = {
    val released = new AtomicInteger(0)
    (new SessionMemo[String](name, build, _ => (),
      _ => released.incrementAndGet(): Unit), released)
  }

  test("concurrent gets share one build") {
    val builds = new AtomicInteger(0)
    val start = new CountDownLatch(1)
    val (memo, _) = counting("concurrent") { (_, d) =>
      builds.incrementAndGet()
      Thread.sleep(50)
      s"built $d"
    }
    val pool = Executors.newFixedThreadPool(8)
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val gets = (1 to 8).map { _ =>
        Future { start.await(); memo.get(spark, "dir") }
      }
      start.countDown()
      val got = Await.result(Future.sequence(gets), 30.seconds)
      assert(got.toSet == Set("built dir"))
      assert(builds.get == 1)
      assert(memo.size == 1)
    } finally {
      pool.shutdown()
      pool.awaitTermination(10, TimeUnit.SECONDS)
    }
  }

  test("a throwing build leaves no entry; the retry that succeeds registers one listener") {
    val attempts = new AtomicInteger(0)
    val (memo, _) = counting("flaky") { (_, _) =>
      if (attempts.incrementAndGet() <= 2) throw new RuntimeException("boom")
      "ok"
    }
    val before = Listeners.count(spark.sparkContext)
    (1 to 2).foreach { _ =>
      intercept[RuntimeException](memo.get(spark, "dir"))
      assert(memo.size == 0)
    }
    assert(memo.get(spark, "dir") == "ok")
    assert(memo.get(spark, "dir") == "ok")
    assert(attempts.get == 3)
    assert(memo.size == 1)
    assert(Listeners.count(spark.sparkContext) - before == 1)
  }

  test("invalidate releases once and is a no-op on a missing key") {
    val builds = new AtomicInteger(0)
    val (memo, released) = counting("invalidate") { (_, d) =>
      builds.incrementAndGet(); d
    }
    memo.invalidate(spark, "missing")
    assert(released.get == 0)
    memo.get(spark, "a")
    memo.get(spark, "b")
    memo.invalidate(spark, "a")
    memo.invalidate(spark, "a")
    assert(released.get == 1)
    assert(memo.size == 1)
    memo.get(spark, "a")
    assert(builds.get == 3, "a get after invalidate builds again")
  }

  test("eviction drops every session of the ended context, and only those") {
    val (memo, released) = counting("evict")((_, d) => d)
    val other = spark.newSession()
    memo.get(spark, "a")
    memo.get(other, "a")
    assert(memo.size == 2, "entries are per session")
    // a second context instance that never started (a live JVM allows one)
    val elsewhere = new org.objenesis.ObjenesisStd()
      .newInstance(classOf[SparkContext])
    memo.evict(elsewhere)
    assert(memo.size == 2)
    memo.evict(spark.sparkContext)
    assert(memo.size == 0)
    assert(released.get == 0, "application end drops entries, it does not release them")
  }

  test("a build may read another memo (the near-dup pairs over the shingle index)") {
    val inner = new AtomicInteger(0)
    val (shingles, _) = counting("inner") { (_, d) =>
      inner.incrementAndGet(); s"shingles $d"
    }
    val (pairs, _) = counting("outer") { (s, d) =>
      s"pairs over ${shingles.get(s, d)}"
    }
    assert(pairs.get(spark, "dir") == "pairs over shingles dir")
    assert(shingles.get(spark, "dir") == "shingles dir")
    assert(inner.get == 1)
  }
}
