package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.TestListenerBus
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.SessionMemo

/** `SessionMemo`'s contract: a declared artifact builds once per
  * (session, key), however many callers race for it; builds of
  * different keys overlap; a failed build does not poison its key; one
  * eviction listener serves every artifact of a context; and every
  * artifact declared in src/main is in the registry Bench warms from.
  * Runs on the shared test session, which it never stops. */
class SessionMemoSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("concurrent callers of one key run the build once and share its value") {
    val builds = new AtomicInteger
    val memo = SessionMemo("SessionMemoSpec.concurrent") { (_, _: String) =>
      builds.incrementAndGet()
      // hold the build long enough that every caller arrives mid-build
      Thread.sleep(200)
      Integer.valueOf(42)
    }
    val callers = 8
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(callers)
    try {
      val futures = (0 until callers).map { _ =>
        pool.submit(() => { start.await(); memo(spark, "k") })
      }
      start.countDown()
      assert(futures.map(_.get(1, TimeUnit.MINUTES).intValue) == Seq.fill(callers)(42))
      assert(builds.get == 1, s"${builds.get} builds for one key")
    } finally pool.shutdownNow()
  }

  test("a build that throws is not cached, and the next caller retries it") {
    val builds = new AtomicInteger
    val memo = SessionMemo("SessionMemoSpec.retry") { (_, _: String) =>
      if (builds.incrementAndGet() == 1) throw new IllegalStateException("first build fails")
      s"built ${builds.get}"
    }
    val err = intercept[IllegalStateException](memo(spark, "k"))
    assert(err.getMessage == "first build fails")
    assert(memo(spark, "k") == "built 2")
    assert(memo(spark, "k") == "built 2")
    assert(builds.get == 2, s"${builds.get} builds: one failure, one success, then hits")
  }

  test("two keys build independently, each once") {
    val builds = new AtomicInteger
    val memo = SessionMemo("SessionMemoSpec.keys") { (_, k: String) =>
      builds.incrementAndGet(); s"v-$k"
    }
    assert(memo(spark, "a") == "v-a")
    assert(memo(spark, "b") == "v-b")
    assert(memo(spark, "a") == "v-a" && memo(spark, "b") == "v-b")
    assert(builds.get == 2, s"${builds.get} builds for two keys")
    assert(memo.counts._1 == 2 && memo.counts._2 == 2)
  }

  test("builds of different keys overlap: key A's build waits on key B's") {
    val bDone = new CountDownLatch(1)
    val memo = SessionMemo("SessionMemoSpec.overlap") { (_, k: String) =>
      if (k == "a") assert(bDone.await(20, TimeUnit.SECONDS), "key b never built while a was building")
      else bDone.countDown()
      k
    }
    val pool = Executors.newSingleThreadExecutor()
    try {
      val a = pool.submit(() => memo(spark, "a"))
      // let A's build start before B is asked for
      Thread.sleep(200)
      assert(memo(spark, "b") == "b")
      assert(a.get(1, TimeUnit.MINUTES) == "a")
    } finally pool.shutdownNow()
  }

  test("one eviction listener per context, however many sessions touch an artifact") {
    val memo = SessionMemo("SessionMemoSpec.listeners") { (_, k: String) => k }
    val sc = spark.sparkContext
    val before = TestListenerBus.listenerCount(sc)
    (1 to 10).foreach(i => memo(spark.newSession(), s"k$i"))
    // one if no artifact had been read on the shared context before
    val added = TestListenerBus.listenerCount(sc) - before
    assert(added <= 1, s"$added listeners added by 10 sessions")
  }

  test("the registry holds every artifact declared in src/main, and Bench warms its dir-keyed ones") {
    SparkEntry.queries
    Tables // a leaf reader: no query object touches it while initializing
    val code = Using.resource(Files.walk(Paths.get("src/main/scala"))) { paths =>
      paths.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .flatMap(p => Files.readAllLines(p).asScala)
        .filterNot(l => l.trim.startsWith("*") || l.trim.startsWith("//")).toList
    }
    val declarations = code.flatMap("""SessionMemo\("([^"]+)"\)""".r.findAllMatchIn(_).map(_.group(1)))
    assert(declarations.size == 26, declarations.mkString(", "))
    assert(declarations.distinct.size == declarations.size, "duplicate artifact names")
    val fromMain = SessionMemo.declared.filter(m => declarations.contains(m.name))
    assert(fromMain.map(_.name).sorted == declarations.sorted)
    val names = SessionMemo.declared.map(_.name)
    assert(names.distinct.size == names.size)
    assert(SessionMemo.declared.forall(m => m.name.startsWith(m.owner + ".")))
    assert(Bench.warmSet.flatMap(_._2).toSet == SessionMemo.declared.filter(_.dirKeyed).toSet)
    assert(fromMain.count(_.dirKeyed) == 24, fromMain.filterNot(_.dirKeyed).map(_.name))
  }
}
