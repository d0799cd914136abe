package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.SessionMemo

/** `SessionMemo`'s at-most-once contract: a memoized build that writes
  * files (the ANN index) or trains a model must run once per (session,
  * key), however many callers race for it, and a failed build must not
  * poison the key. Runs on the shared test session, which it never
  * stops. */
class SessionMemoSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("concurrent callers of one key run the build once and share its value") {
    val memo = new SessionMemo[String, Integer]("spec-concurrent")
    val builds = new AtomicInteger
    val callers = 8
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(callers)
    try {
      val futures = (0 until callers).map { _ =>
        pool.submit(() => {
          start.await()
          memo.getOrElseUpdate(spark, "k") {
            builds.incrementAndGet()
            // hold the build long enough that every caller arrives mid-build
            Thread.sleep(200)
            Integer.valueOf(42)
          }
        })
      }
      start.countDown()
      assert(futures.map(_.get(1, TimeUnit.MINUTES).intValue) == Seq.fill(callers)(42))
      assert(builds.get == 1, s"${builds.get} builds for one key")
    } finally pool.shutdownNow()
  }

  test("a build that throws is not cached, and the next caller retries it") {
    val memo = new SessionMemo[String, String]("spec-retry")
    val builds = new AtomicInteger
    val err = intercept[IllegalStateException] {
      memo.getOrElseUpdate(spark, "k") {
        builds.incrementAndGet()
        throw new IllegalStateException("first build fails")
      }
    }
    assert(err.getMessage == "first build fails")
    assert(memo.getOrElseUpdate(spark, "k") { builds.incrementAndGet(); "built" } == "built")
    assert(memo.getOrElseUpdate(spark, "k") { builds.incrementAndGet(); "rebuilt" } == "built")
    assert(builds.get == 2, s"${builds.get} builds: one failure, one success, then hits")
  }

  test("two keys build independently, each once") {
    val memo = new SessionMemo[String, String]("spec-keys")
    val builds = new AtomicInteger
    def get(k: String) = memo.getOrElseUpdate(spark, k) { builds.incrementAndGet(); s"v-$k" }
    assert(get("a") == "v-a")
    assert(get("b") == "v-b")
    assert(get("a") == "v-a" && get("b") == "v-b")
    assert(builds.get == 2, s"${builds.get} builds for two keys")
  }
}
