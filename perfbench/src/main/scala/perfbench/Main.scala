package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Benchmark harness: runs one workload against the engine's public entry
  * points and writes a JSON result for `perfbench/run.py`.
  *
  * {{{
  * java <add-opens> -cp <app jar>:<spark jars> perfbench.Main \
  *   --workload corpus_index --data <inputs> --work <scratch> \
  *   --out result.json --seconds 2 --trace 0 --cpus 4
  * }}}
  *
  * Every operation is timed from outside; a thrown operation or a wrong
  * output is a counted failure whose sample is +infinity, so a failure
  * can only make a percentile or a total worse, never better.
  */
object Main {

  final class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def get(k: String, d: String): String = m.getOrElse(k, d)
  }

  def parse(args: Array[String]): Args =
    new Args(args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap)

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cpus = args("cpus").toInt
    val ctx = new Ctx(args, cpus)
    val out = new File(args("out"))
    var exit = 0
    try {
      ctx.session()
      // set-up is the cold path: JVM start to session ready, inputs staged
      ctx.e2e("setup_s") = (System.currentTimeMillis() - jvmStartMs) / 1e3
      Workloads.run(ctx)
      ctx.e2e("peak_rss_mb") = Env.vmHwmMb()
      // two more set-ups on fresh sessions in the now-warm JVM, kept in
      // the artifact only: they show what session re-creation costs once
      // class loading and JIT are paid
      for (_ <- 1 to 2) {
        ctx.spark.stop()
        val t0 = System.nanoTime()
        ctx.session()
        ctx.warmSetupSamples += (System.nanoTime() - t0) / 1e9
      }
    } catch {
      case NonFatal(e) =>
        ctx.fail("harness", e)
        exit = 1
    } finally {
      ctx.env("end") = Env.snapshot()
      if (ctx.spark != null) try ctx.spark.stop() catch { case NonFatal(_) => () }
    }
    Json.write(out, ctx.result())
    sys.exit(exit)
  }
}

/** Run state shared by the workloads. */
final class Ctx(val args: Main.Args, val cpus: Int) {
  val workload: String = args("workload")
  val data: String = new File(args("data")).getAbsolutePath
  val work: String = new File(args("work")).getAbsolutePath
  val seconds: Double = args("seconds").toDouble
  val traced: Boolean = args("trace") == "1"
  /** Index of the operation that is made to throw (failure-accounting test). */
  val injectFailure: Int = args.get("inject-failure", "-1").toInt
  /** The output counts the generator computed for these inputs. */
  val expect: java.util.Map[String, AnyRef] = Json.read(new File(data, "expect.json"))

  var spark: SparkSession = _
  var tracer: Tracer = _
  val spans = new Spans
  /** Re-set-ups in the warm JVM after the workload (new session, inputs
    * staged again); `setup_s` itself is the cold one. */
  val warmSetupSamples = mutable.ArrayBuffer.empty[Double]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  /** End-to-end metrics, as BENCHMARK.json names them. */
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  /** Per-workload numbers under their own names, with sample counts. */
  val named = mutable.LinkedHashMap.empty[String, Any]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val checks = mutable.LinkedHashMap.empty[String, Any]
  val env = mutable.LinkedHashMap.empty[String, Any]
  /** Query name -> parquet dump of its collected rows, for the oracle check. */
  val dumps = mutable.LinkedHashMap.empty[String, String]
  private var opIndex = 0

  env("start") = Env.snapshot()

  /** Builds the session and stages the workload's inputs. */
  def session(): Unit = {
    spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (traced) {
      tracer = new Tracer
      spark.sparkContext.addSparkListener(tracer)
    }
    Workloads.stage(this)
  }

  def fail(what: String, e: Throwable): Unit = {
    val msg = s"$what: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
    System.err.println(s"[perfbench] FAILED $msg")
    failures += msg
  }

  def failCheck(what: String): Unit = {
    System.err.println(s"[perfbench] FAILED check $what")
    failures += s"check $what"
  }

  def check(what: String, ok: Boolean, detail: Any): Unit = {
    checks(what) = Map("ok" -> ok, "detail" -> detail)
    if (!ok) failCheck(s"$what ($detail)")
  }

  /** Times one operation under a listener tag. A throw is counted and
    * yields None; its sample is +inf. */
  def op[A](name: String, tag: String, parent: Int = -1, request: String = "")
           (f: => A): (Option[A], Double, Int) = {
    attempted += 1
    val idx = opIndex
    opIndex += 1
    val sc = spark.sparkContext
    sc.setLocalProperty(Tracer.TagKey, tag)
    val t0 = System.nanoTime()
    val res =
      try {
        if (idx == injectFailure) throw new IllegalStateException(s"injected failure at operation $idx")
        Some(f)
      } catch { case NonFatal(e) => fail(s"$name [$request]", e); None }
    val t1 = System.nanoTime()
    sc.setLocalProperty(Tracer.TagKey, null)
    val id = spans.add(name, t0, t1, parent, if (request.isEmpty) tag else request)
    (res, if (res.isDefined) (t1 - t0) / 1e9 else Double.PositiveInfinity, id)
  }

  def drain(): Unit = if (traced) PerfbenchBus.drain(spark.sparkContext)

  /** Listener totals per tag (empty when not traced). */
  def totals: Map[String, TagTotals] = {
    drain()
    if (tracer == null) Map.empty else tracer.snapshot
  }

  /** Writes collected rows as parquet for the oracle comparison. */
  def dump(name: String, rows: Array[Row], df: DataFrame): Unit = {
    val path = s"$work/dumps/$name"
    spark.createDataFrame(rows.toSeq.asJava, df.schema)
      .coalesce(1).write.mode("overwrite").parquet(path)
    dumps(name) = path
  }

  def result(): java.util.Map[String, AnyRef] = {
    val oracle = graft.SparkEntry.oracleSql
    Json.obj(
      "workload" -> workload,
      "traced" -> traced,
      "attempted" -> attempted,
      "failed" -> failures.size,
      "failures" -> failures.toSeq,
      "e2e" -> e2e,
      "named" -> named,
      "warm_setup_s" -> warmSetupSamples,
      "layers" -> layers,
      "checks" -> checks,
      "env" -> env,
      "dumps" -> dumps,
      "oracle_sql" -> dumps.keys.flatMap(k => oracle.get(k).map(k -> _)).toMap,
      "spans" -> (if (traced) {
        val self = spans.selfSeconds
        spans.all.map(s => Map("id" -> s.id, "name" -> s.name, "start_ns" -> s.startNs,
          "end_ns" -> s.endNs, "parent" -> s.parent, "request" -> s.request,
          "self_s" -> self(s.id)))
      } else Seq.empty))
  }
}

object Stats {
  /** Linear-interpolated quantile; +inf samples sort last. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted.toArray
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    if (s(hi).isInfinite || s(lo).isInfinite) s(hi) max s(lo)
    else s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

object Env {
  private def read(path: String): String =
    try new String(java.nio.file.Files.readAllBytes(new File(path).toPath), "UTF-8")
    catch { case NonFatal(_) => "" }

  def snapshot(): Map[String, Any] = Map(
    "cpus" -> Runtime.getRuntime.availableProcessors(),
    "loadavg" -> read("/proc/loadavg").trim,
    "mem_available_kb" -> read("/proc/meminfo").linesIterator
      .find(_.startsWith("MemAvailable:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L),
    "unix_ms" -> System.currentTimeMillis())

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def vmHwmMb(): Double =
    read("/proc/self/status").linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  def resetHeapPeaks(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())

  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
}

object Json {
  private val mapper = new ObjectMapper()

  def read(f: File): java.util.Map[String, AnyRef] =
    mapper.readValue(f, classOf[java.util.Map[String, AnyRef]])

  def write(f: File, v: AnyRef): Unit = {
    f.getAbsoluteFile.getParentFile.mkdirs()
    mapper.writerWithDefaultPrettyPrinter().writeValue(f, v)
  }

  def obj(kv: (String, Any)*): java.util.Map[String, AnyRef] = {
    val m = new java.util.LinkedHashMap[String, AnyRef]()
    kv.foreach { case (k, v) => m.put(k, toJava(v)) }
    m
  }

  /** Scala values to Jackson-writable Java values; non-finite doubles
    * become strings ("Infinity", "NaN") so the file stays valid JSON. */
  def toJava(v: Any): AnyRef = v match {
    case null => null
    case d: Double if d.isNaN || d.isInfinite => d.toString
    case m: scala.collection.Map[_, _] =>
      val jm = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => jm.put(k.toString, toJava(x)) }
      jm
    case s: Iterable[_] => s.map(toJava).toList.asJava
    case x: AnyRef => x
    case x => x.asInstanceOf[AnyRef]
  }
}
