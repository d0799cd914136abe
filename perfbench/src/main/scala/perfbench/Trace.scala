package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One timed interval. `parent` is the id of the enclosing span (-1 at
  * the root); `request` names the workload operation it belongs to. */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
                      parent: Int, request: String) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span store. Spans from listener events carry wall-clock
  * milliseconds, converted onto the nanoTime axis with one offset taken
  * at construction. */
final class Spans {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def add(name: String, startNs: Long, endNs: Long, parent: Int, request: String): Int =
    synchronized {
      val id = buf.size
      buf += Span(id, name, startNs, endNs, parent, request)
      id
    }

  def addMs(name: String, startMs: Long, endMs: Long, parent: Int, request: String): Int =
    add(name, startMs * 1000000L - epochOffsetNs, endMs * 1000000L - epochOffsetNs,
      parent, request)

  def all: Seq[Span] = synchronized(buf.toList)

  /** Duration minus the part of it that direct children cover. */
  def selfSeconds: Map[Int, Double] = {
    val spans = all
    val kids = spans.filter(_.parent >= 0).groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
      s.id -> (s.endNs - s.startNs - Tracer.unionLength(covered)) / 1e9
    }.toMap
  }
}

/** Totals of one tag: every job, stage and task submitted while the
  * driver thread carried the tag as the local property [[Tracer.TagKey]]. */
final class TagTotals {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var recordsRead = 0L
  /** (submission ms, completion ms) of every completed stage. */
  val stageWalls = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** SparkListener that attributes jobs, stages and task metrics to the
  * tag active when they were submitted. */
final class Tracer extends SparkListener {
  private val totals = new ConcurrentHashMap[String, TagTotals]()
  private val stageTag = new ConcurrentHashMap[Int, String]()

  private def of(tag: String): TagTotals = totals.computeIfAbsent(tag, _ => new TagTotals)

  private def tagOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.TagKey))).getOrElse("untagged")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = tagOf(e.properties)
    of(tag).synchronized(of(tag).jobs += 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageTag.put(e.stageInfo.stageId, tagOf(e.properties))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val t = of(stageTag.getOrDefault(e.stageId, "untagged"))
    val m = e.taskMetrics
    t.synchronized {
      t.tasks += 1
      if (m != null) {
        t.runMs += m.executorRunTime
        t.cpuNs += m.executorCpuTime
        t.gcMs += m.jvmGCTime
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        t.recordsRead += m.inputMetrics.recordsRead
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val t = of(stageTag.getOrDefault(info.stageId, "untagged"))
    t.synchronized {
      t.stages += 1
      for (s <- info.submissionTime; c <- info.completionTime) t.stageWalls += ((s, c))
    }
  }

  def snapshot: Map[String, TagTotals] = totals.asScala.toMap
}

object Tracer {
  val TagKey = "perfbench.tag"

  /** Total length of the union of [start, end) intervals. */
  def unionLength(walls: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- walls.sortBy(_._1)) {
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
