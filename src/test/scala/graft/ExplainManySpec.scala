package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

class ExplainManySpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("a failing query is reported and the batch goes on to the next one") {
    // an SF dir holding only events: q1_pricing_summary (lineitem) fails,
    // q_lag_lead (events only) must still be dumped after it
    val sfDir = Files.createTempDirectory("graft-explain-sf")
    Files.copy(Paths.get(TestSpark.Sf, "events.parquet"), sfDir.resolve("events.parquet"))
    val out = Files.createTempDirectory("graft-explain-out")
    try {
      val failed = ExplainMany.dump(spark, out, "t",
        Seq("q1_pricing_summary", "q_lag_lead"), sfDir.toString)
      assert(failed == Seq("q1_pricing_summary"))
      assert(!Files.exists(out.resolve("q1_pricing_summary_t.txt")))
      val dumped = Files.readString(out.resolve("q_lag_lead_t.txt"))
      assert(dumped.startsWith(s"=== q_lag_lead (formatted, $sfDir) ==="), dumped.take(200))
    } finally {
      IoUtil.deleteRecursively(sfDir)
      IoUtil.deleteRecursively(out)
    }
  }
}
