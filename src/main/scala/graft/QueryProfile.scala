package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerStageCompleted}
import org.apache.spark.sql.GraftBridge

/** Single-query profiler: `runMain graft.QueryProfile <query> <sfDir> [reps]`.
  * One query in isolation, with Bench's toRdd accounting — the tool for
  * "profile suspicious queries in isolation before optimizing them"
  * (shared-memo warmup and neighbor-query GC both contaminate in-bench
  * numbers). One table-count pass first absorbs page-cache/codegen
  * cost. Per rep it prints the construct and exec walls, the job /
  * stage / task counts, the summed stage walls and the driver gap (rep
  * wall minus summed stage walls: planning, AQE re-optimization, job
  * submission latency). The last rep adds a per-stage table, slowest
  * first: stage wall, executor run/CPU time, shuffle read/write bytes
  * and output records — where the wall goes. */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: QueryProfile <queryName> <sfDir> [reps]")
    val (name, sfDir) = (args(0), args(1))
    val reps = if (args.length > 2) args(2).toInt else 5
    val fn = SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query '$name'; known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}"))
    val spark = GraftSession.local()
    Seq("lineitem", "orders", "customer", "part", "events", "documents", "embeddings")
      .foreach(t => try Tables.read(spark, sfDir, t).count() catch { case _: Throwable => () })
    val trace = new StageTrace(spark.sparkContext)
    val times = (1 to reps).map { rep =>
      val (constructSec, sec, jobs, stages) = trace.run {
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val construct = (System.nanoTime() - t0) / 1e9
        df.queryExecution.toRdd.count()
        construct
      }
      val stageWallSec = stages.map(_.wallMs).sum / 1000.0
      println(f"[profile] $name rep $rep: total=$sec%.3f s (construct=$constructSec%.3f " +
        f"exec=${sec - constructSec}%.3f) jobs=$jobs stages=${stages.size} " +
        f"tasks=${stages.map(_.tasks).sum} stageWallSum=$stageWallSec%.3f s " +
        f"driverGap=${sec - stageWallSec}%.3f s")
      if (rep == reps) stages.sortBy(-_.wallMs).foreach { s =>
        println(f"[profile]   stage ${s.id}%4d wall=${s.wallMs}%5d ms run=${s.runMs}%5d ms " +
          f"cpu=${s.cpuNs / 1000000L}%5d ms tasks=${s.tasks}%3d srB=${s.readBytes}%9d " +
          f"swB=${s.writeBytes}%9d outRows=${s.outRows}%8d ${s.name}")
      }
      sec
    }
    println(f"[profile] $name median-of-$reps: ${times.sorted.apply(times.size / 2)}%.3f s")
    spark.stop()
  }
}

/** Stage-completion trace for [[QueryProfile]]: one record per
  * completed stage, plus a job count.
  * Registers itself on `sc`. */
final class StageTrace(sc: SparkContext) extends SparkListener {
  import StageTrace.Stage
  private val done = ArrayBuffer.empty[Stage]
  private var jobs = 0
  sc.addSparkListener(this)

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { jobs += 1 }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    val wall = (for { s <- i.submissionTime; c <- i.completionTime } yield c - s).getOrElse(-1L)
    if (m != null) synchronized {
      done += Stage(i.stageId, i.name.takeWhile(_ != '\n').take(60), wall, i.numTasks,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.outputMetrics.recordsWritten max m.shuffleWriteMetrics.recordsWritten)
    }
  }

  /** Runs `f` between two listener-bus flushes (outside the timed
    * window); returns its result, its wall seconds, and the jobs and
    * stages that completed inside the window. */
  def run[A](f: => A): (A, Double, Int, Vector[Stage]) = {
    GraftBridge.flushListeners(sc)
    synchronized { done.clear(); jobs = 0 }
    val t0 = System.nanoTime()
    val out = f
    val sec = (System.nanoTime() - t0) / 1e9
    GraftBridge.flushListeners(sc)
    synchronized { (out, sec, jobs, done.toVector) }
  }
}

object StageTrace {
  case class Stage(id: Int, name: String, wallMs: Long, tasks: Int, runMs: Long,
                   cpuNs: Long, gcMs: Long, spillBytes: Long, readBytes: Long,
                   writeBytes: Long, outRows: Long)
}
