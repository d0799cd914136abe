package graft.queries

import java.util.concurrent.{CompletableFuture, CompletionException, ConcurrentHashMap}
import java.util.concurrent.atomic.AtomicLong

import scala.reflect.{ClassTag, classTag}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** A session artifact: the value `build` makes for one (SparkSession,
  * key), made once and shared by every later caller of that pair. The one
  * implementation behind every standing artifact of the query layer
  * (features, fits, indexes, pair sets, checkpoints), declared once with
  * its name and its build:
  * {{{
  * private val cachedSplit = SessionMemo("MlQueries.split") { (spark, dir: String) => … }
  * }}}
  * and called as `cachedSplit(spark, dir)`. The name is
  * `<declaring object>.<artifact>`; Bench warms the artifacts of one
  * declaring object on one thread, in declaration order.
  *
  * Each (session, key) has its own cell. The first caller runs the build
  * on its own thread, outside any map lock; a concurrent caller of the
  * same pair waits on that cell alone. So a build waits only on the keys
  * it reads, builds of different keys overlap, and without a cycle
  * between keys no wait can deadlock (a build that reads its own key
  * fails at once). A build that throws leaves no cell: its waiters get
  * the error and the next caller builds again.
  *
  * Values live as long as their SparkContext: one listener per context
  * drops every artifact's cells when it ends. */
final class SessionMemo[K, V] private (val name: String, val dirKeyed: Boolean,
                                       build: (SparkSession, K) => V) {
  private final class Cell extends CompletableFuture[V] {
    val builder: Thread = Thread.currentThread()
  }
  private val cells = new ConcurrentHashMap[(SparkSession, K), Cell]
  private val nBuilds, nHits, buildNanos = new AtomicLong

  def apply(spark: SparkSession, key: K): V = {
    SessionMemo.watch(spark.sparkContext)
    val k = (spark, key)
    val found = cells.get(k)
    if (found != null) return await(found, key)
    val mine = new Cell
    val raced = cells.putIfAbsent(k, mine)
    if (raced != null) return await(raced, key)
    val t0 = System.nanoTime()
    try {
      val v = build(spark, key)
      mine.complete(v)
      v
    } catch { case e: Throwable =>
      cells.remove(k, mine)
      mine.completeExceptionally(e)
      throw e
    } finally {
      nBuilds.incrementAndGet()
      buildNanos.addAndGet(System.nanoTime() - t0)
    }
  }

  private def await(cell: Cell, key: K): V = {
    if (!cell.isDone && (cell.builder eq Thread.currentThread()))
      throw new IllegalStateException(s"session artifact $name: key $key is read by its own build")
    nHits.incrementAndGet()
    try cell.join() catch { case e: CompletionException => throw e.getCause }
  }

  /** Builds this artifact for a fixture dir, or finds it built. */
  def warm(spark: SparkSession, dir: String): Unit = {
    require(dirKeyed, s"session artifact $name is not keyed by dir")
    apply(spark, dir.asInstanceOf[K])
  }

  /** The declaring object: the name up to its first dot. */
  def owner: String = name.takeWhile(_ != '.')

  /** (builds, hits, build seconds) since the JVM started; a build that
    * threw counts as a build. */
  def counts: (Long, Long, Double) = (nBuilds.get, nHits.get, buildNanos.get / 1e9)

  private def evict(sc: SparkContext): Unit =
    cells.keySet.removeIf(_._1.sparkContext eq sc)
}

object SessionMemo {
  private val registry = new java.util.concurrent.ConcurrentLinkedQueue[SessionMemo[_, _]]
  private val watched = ConcurrentHashMap.newKeySet[SparkContext]()

  /** Declares a session artifact; its name must be unique in the JVM. */
  def apply[K: ClassTag, V](name: String)(build: (SparkSession, K) => V): SessionMemo[K, V] =
    registry.synchronized {
      require(!declared.exists(_.name == name), s"two session artifacts are named $name")
      val m = new SessionMemo(name, classTag[K].runtimeClass == classOf[String], build)
      registry.add(m)
      m
    }

  /** Every declared artifact, in declaration order. A declaration runs
    * when its object initializes. */
  def declared: Seq[SessionMemo[_, _]] = registry.toArray(Array.empty[SessionMemo[_, _]]).toSeq

  private def watch(sc: SparkContext): Unit =
    if (!watched.contains(sc) && watched.add(sc))
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
          declared.foreach(_.evict(sc))
          watched.remove(sc)
        }
      })
}
