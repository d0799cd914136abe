package graft

import org.apache.spark.sql.SparkSession

/** The one way a graft main builds its SparkSession: `local[n]` with
  * `n` from the environment variable read below (the only place it is
  * read), or every available core when unset; `n` shuffle partitions;
  * UTC session time zone; UI off; log level WARN. Callers add their own
  * conf pairs (Bench: FAIR scheduling). */
object GraftSession {
  def local(conf: (String, String)*): SparkSession = {
    val n = sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors)(_.toInt)
    val base = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = conf.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
