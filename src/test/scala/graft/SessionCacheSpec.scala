package graft

import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._
import org.scalatest.concurrent.TimeLimits
import org.scalatest.time.SpanSugar._

import graft.operators.SessionCache

/** Pins the [[SessionCache]] build protocol every shared per-session
  * artifact relies on: nested builds of different keys complete, a
  * re-entrant build of the same key fails loudly instead of deadlocking,
  * a failed build leaves nothing behind, concurrent callers build once,
  * and reuse is visible in the snapshot. Each test takes a fresh
  * `newSession()`, so its keys start cold. */
class SessionCacheSpec extends SparkSpec with TimeLimits {
  private val dir = "spec"

  test("a build that resolves a different key completes") {
    val s = spark.newSession()
    val v = failAfter(60.seconds) {
      SessionCache.get(s, dir, "outer") {
        SessionCache.get(s, dir, "inner")(20) + 1
      }
    }
    assert(v == 21)
    assert(SessionCache.get(s, dir, "inner")(0) == 20)
  }

  test("a re-entrant build of the same key throws, naming the family") {
    val s = spark.newSession()
    val e = failAfter(60.seconds) {
      intercept[IllegalStateException] {
        SessionCache.get(s, dir, "selfNested") {
          SessionCache.get(s, dir, "selfNested")(1) + 1
        }
      }
    }
    assert(e.getMessage.contains("selfNested"))
  }

  test("a build that throws leaves no entry: the next call rebuilds") {
    val s = spark.newSession()
    val builds = new AtomicInteger()
    intercept[RuntimeException] {
      SessionCache.get[Int](s, dir, "flaky") {
        builds.incrementAndGet()
        throw new RuntimeException("boom")
      }
    }
    val v = SessionCache.get(s, dir, "flaky") { builds.incrementAndGet(); 7 }
    assert(v == 7 && builds.get == 2)
    assert(SessionCache.get(s, dir, "flaky") { builds.incrementAndGet(); 8 } == 7)
    assert(builds.get == 2)
  }

  test("two threads on one key run the build exactly once") {
    val s = spark.newSession()
    val builds = new AtomicInteger()
    val barrier = new CyclicBarrier(2)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val futures = (1 to 2).map { _ =>
        pool.submit(new java.util.concurrent.Callable[String] {
          def call(): String = {
            barrier.await()
            SessionCache.get(s, dir, "shared") {
              builds.incrementAndGet()
              Thread.sleep(200)
              "built"
            }
          }
        })
      }
      assert(futures.map(_.get(60, TimeUnit.SECONDS)) == Seq("built", "built"))
      assert(builds.get == 1)
    } finally pool.shutdownNow()
  }

  test("snapshot reports each entry's hits and build seconds") {
    val s = spark.newSession()
    (1 to 3).foreach(_ => SessionCache.get(s, dir, "counted")("x"))
    val f1 = SessionCache.frame(s, dir, "frame")(s.range(10).toDF("id"))
    val f2 = SessionCache.frame(s, dir, "frame")(s.range(99).toDF("id"))
    assert((f1 eq f2) && f2.count() == 10)
    val snap = SessionCache.snapshot(s)
    assert(snap.columns.toSeq == Seq("family", "dir", "hits", "build_s"))
    val rows = snap.collect().map(r => r.getString(0) -> r).toMap
    assert(rows.keySet == Set("counted", "frame"))
    assert(rows("counted").getString(1) == dir)
    assert(rows("counted").getLong(2) == 2L && rows("frame").getLong(2) == 1L)
    assert(snap.filter(col("build_s") < 0).isEmpty)
    assert(SessionCache.snapshot(spark.newSession()).isEmpty)
  }
}
