package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Plan dumper: `runMain graft.ExplainMany <outDir> <suffix> <q1,q2,...> [sfDir]`
  * — one JVM, one SparkSession, one executed `.explain("formatted")` dump
  * per named query, written to `<outDir>/<query>_<suffix>.txt` (a single
  * dump is the one-name list). A round's before/after plan record covers
  * dozens of queries, and a JVM+session per dump made the capture cost
  * ~1 min each. Each query runs to completion first, so the printed plan
  * is AQE's FINAL plan, not the pre-execution estimate. A failing query
  * is logged and skipped; the main exits nonzero if any failed. */
object ExplainMany {
  /** Dumps every named query's plan; returns the names that failed. */
  def dump(spark: SparkSession, outDir: Path, suffix: String,
           names: Seq[String], sfDir: String): Seq[String] = {
    Files.createDirectories(outDir)
    names.filterNot { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        df.queryExecution.toRdd.count() // execute so AQE's final plan prints
        val buf = new java.io.ByteArrayOutputStream()
        Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
          println(s"=== $name (formatted, $sfDir) ===")
          df.explain("formatted")
        }
        val f = outDir.resolve(s"${name}_$suffix.txt")
        Files.write(f, buf.toByteArray)
        System.err.println(s"[explainmany] wrote $f")
        true
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[explainmany] $name failed: ${e.getMessage}")
        false
      }
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: ExplainMany <outDir> <suffix> <q1,q2,...> [sfDir]")
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.01"
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = GraftSession.local()
    val failed = try dump(spark, Paths.get(args(0)), args(1), names, sfDir) finally spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[explainmany] ${failed.size} of ${names.size} failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
