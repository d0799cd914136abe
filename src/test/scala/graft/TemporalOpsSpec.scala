package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{AsOfJoin, BandJoin, SaltedWindow, Sessionize, SkewJoin}

/** Edge cases for the temporal-alignment and skew operators. */
class TemporalOpsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("asofBackward: equal-ts right row matches; no prior right → null") {
    val left = Seq(
      (1L, "u1", 100L, 1.0),  // before any right → null
      (2L, "u1", 200L, 2.0),  // equal ts → matched
      (3L, "u1", 350L, 3.0),  // between rights → latest before
      (4L, "u2", 500L, 4.0)   // other key, no rights at all → null
    ).toDF("event_id", "k", "ts", "v")
    val right = Seq(("u1", 200L, 20.0), ("u1", 300L, 30.0), ("u1", 400L, 40.0))
      .toDF("k", "ts", "rv")
    val got = AsOfJoin.asofBackward(left, right, "k", "ts", "rv")
      .orderBy("event_id").select("event_id", "asof_value")
      .as[(Long, Option[Double])].collect()
    assert(got.toSeq == Seq(
      (1L, None), (2L, Some(20.0)), (3L, Some(30.0)), (4L, None)))
  }

  test("asofBackward pre-aggregates duplicate right timestamps (max)") {
    val left = Seq((1L, "u1", 300L, 1.0)).toDF("event_id", "k", "ts", "v")
    val right = Seq(("u1", 200L, 5.0), ("u1", 200L, 9.0)).toDF("k", "ts", "rv")
    val got = AsOfJoin.asofBackward(left, right, "k", "ts", "rv")
      .select("asof_value").as[Double].head()
    assert(got == 9.0)
  }

  test("asofBackward matches a null-valued right row instead of skipping past it") {
    val left = Seq((1L, "u1", 350L, 1.0)).toDF("event_id", "k", "ts", "v")
    val right = Seq(("u1", 100L, Some(7.0)), ("u1", 300L, None))
      .toDF("k", "ts", "rv")
    // the most recent right row (ts=300) has a NULL value: ASOF semantics
    // return that row's null, NOT the older 7.0
    val got = AsOfJoin.asofBackward(left, right, "k", "ts", "rv")
      .select("asof_value").as[Option[Double]].head()
    assert(got.isEmpty, s"expected null from the ts=300 row, got $got")
  }

  test("asofBackwardNative: identical edge-case results, custom exec node in the plan") {
    val left = Seq(
      (1L, "u1", 100L, 1.0), (2L, "u1", 200L, 2.0),
      (3L, "u1", 350L, 3.0), (4L, "u2", 500L, 4.0)
    ).toDF("event_id", "k", "ts", "v")
    val right = Seq(("u1", 200L, 20.0), ("u1", 300L, 30.0), ("u1", 400L, 40.0))
      .toDF("k", "ts", "rv")
    val res = AsOfJoin.asofBackwardNative(left, right, "k", "ts", "rv")
    val got = res.orderBy("event_id").select("event_id", "asof_value")
      .as[(Long, Option[Double])].collect()
    assert(got.toSeq == Seq(
      (1L, None), (2L, Some(20.0)), (3L, Some(30.0)), (4L, None)))
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoinExec") || plan.contains("AsOfJoin"), plan.take(1200))
    // dup right timestamps pre-aggregate to max, like the composed form
    val dup = AsOfJoin.asofBackwardNative(
      Seq((1L, "u1", 300L)).toDF("event_id", "k", "ts"),
      Seq(("u1", 200L, 5.0), ("u1", 200L, 9.0)).toDF("k", "ts", "rv"),
      "k", "ts", "rv").select("asof_value").as[Double].head()
    assert(dup == 9.0)
  }

  test("asofBackwardNative: named errors for an output-name collision and a key type mismatch") {
    val left = Seq((1L, "u1", 100L, 1.0)).toDF("event_id", "k", "ts", "v")
    val right = Seq(("u1", 50L, 5.0)).toDF("k", "ts", "rv")
    // an outCol equal to a left column would leave two columns of that name
    val clash = intercept[IllegalArgumentException] {
      AsOfJoin.asofBackwardNative(left, right, "k", "ts", "rv", outCol = "v")
    }
    assert(clash.getMessage.contains("collides"), clash.getMessage)
    // int key on the left, long key on the right: a named error, not an
    // unresolved-operator failure at execution
    val typeErr = intercept[IllegalArgumentException] {
      AsOfJoin.asofBackwardNative(
        Seq((1L, 7, 100L)).toDF("event_id", "k", "ts"),
        Seq((7L, 50L, 5.0)).toDF("k", "ts", "rv"), "k", "ts", "rv").collect()
    }
    assert(typeErr.getMessage.contains("cast one side"), typeErr.getMessage)
    // names bind through the session resolver, as col(name) does
    val got = AsOfJoin.asofBackwardNative(left, right, "K", "TS", "RV")
      .select("asof_value").as[Double].head()
    assert(got == 5.0)
  }

  test("asofBackwardNative: null keys never match, null-ts right rows are skipped") {
    val left = Seq((1L, Option("u1"), 100L), (2L, Option.empty[String], 100L))
      .toDF("event_id", "k", "ts")
    val right = Seq((Option("u1"), Option.empty[Long], 5.0),
      (Option("u1"), Option(50L), 7.0), (Option.empty[String], Option(10L), 9.0))
      .toDF("k", "ts", "rv")
    val got = AsOfJoin.asofBackwardNative(left, right, "k", "ts", "rv")
      .orderBy("event_id").select("event_id", "asof_value")
      .as[(Long, Option[Double])].collect()
    // the null-ts u1 row must not stall the merge pointer ahead of the
    // real ts=50 match; the null-key right row matches nothing
    assert(got.toSeq == Seq((1L, Some(7.0)), (2L, None)), s"got ${got.toSeq}")
  }

  test("asofBackwardNative equals the composed form on the events fixture") {
    // both sides derive from the SAME base scan (duplicate expression ids
    // across children) — the exact shape q_asof_join runs
    val e = Tables.events(spark, TestSpark.Sf)
    val purchases = e.filter($"event_type" === "purchase")
      .select("event_id", "user_id", "ts", "value")
    val signups = e.filter($"event_type" === "signup")
      .select("user_id", "ts", "value")
    val composed = AsOfJoin.asofBackward(purchases, signups, "user_id", "ts", "value")
      .select("event_id", "asof_value").as[(Long, Option[Double])]
      .collect().sortBy(_._1).toSeq
    val native = AsOfJoin.asofBackwardNative(purchases, signups, "user_id", "ts", "value")
      .select("event_id", "asof_value").as[(Long, Option[Double])]
      .collect().sortBy(_._1).toSeq
    assert(native == composed)
    assert(native.nonEmpty && native.exists(_._2.nonEmpty))
  }

  test("asofBackward rejects reserved column names") {
    val left = Seq((1L, "u1", 1L)).toDF("__k", "k", "ts")
    val right = Seq(("u1", 1L, 2.0)).toDF("k", "ts", "rv")
    val e = intercept[IllegalArgumentException] {
      AsOfJoin.asofBackward(left, right, "k", "ts", "rv")
    }
    assert(e.getMessage.contains("__k"))
  }

  test("sessionize splits on gaps and counts durations exactly") {
    val NsPerS = 1000000000L
    val ev = Seq(
      (1L, "u1", 0L), (2L, "u1", 10 * NsPerS), (3L, "u1", 5000 * NsPerS),
      (4L, "u1", 5002 * NsPerS), (5L, "u2", 0L)
    ).toDF("event_id", "k", "ts")
    val got = Sessionize.sessionSummary(ev, "k", "ts", gapNanos = 60 * NsPerS, idCol = "event_id")
      .orderBy("k", "session_idx")
      .select("k", "session_idx", "n_events", "duration_s", "first_event")
      .as[(String, Long, Long, Long, Long)].collect()
    assert(got.toSeq == Seq(
      ("u1", 0L, 2L, 10L, 1L), ("u1", 1L, 2L, 2L, 3L), ("u2", 0L, 1L, 0L, 5L)))
  }

  test("bandJoin equals the naive band predicate, joins on (key, bucket)") {
    val left = Seq((1L, "u1", 1000L), (2L, "u1", 5000L), (3L, "u2", 1000L))
      .toDF("lid", "k", "lts")
    val right = Seq((10L, "u1", 900L), (11L, "u1", 2100L), (12L, "u1", 6000L),
      (13L, "u2", 3000L), (14L, "u3", 1000L))
      .toDF("rid", "k", "rts")
    val banded = BandJoin.bandJoin(left, right, "k", "lts", "rts", tol = 1000L)
      .select("lid", "rid").as[(Long, Long)].collect().sorted.toSeq
    val naive = left.join(right, Seq("k"))
      .filter(abs($"lts" - $"rts") <= 1000L)
      .select("lid", "rid").as[(Long, Long)].collect().sorted.toSeq
    assert(banded == naive)
    assert(banded == Seq((1L, 10L), (2L, 12L)), s"got $banded")
    val plan = BandJoin.bandJoin(left, right, "k", "lts", "rts", 1000L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      plan.take(1200))
  }

  test("salted window and band join use exact integer bucketing at epoch-nano scale") {
    // ts values within a few ns of a chunk/tolerance boundary at 2024
    // epochs (~1.7e18 ns, double ulp ≈ 256 ns): double division would
    // misplace them; integer div must not
    val chunk = 86400L * 1000000000L
    val base = 1704067200L * 1000000000L // 2024-01-01 in ns, a chunk multiple
    val rows = Seq(
      ("k", base - 1L, 1.0), ("k", base, 2.0), ("k", base + 1L, 4.0),
      ("k", base + chunk - 3L, 8.0), ("k", base + chunk, 16.0))
    val df = rows.toDF("k", "ts", "v")
    val frame = 10L
    val salted = SaltedWindow.saltedRollingSum(df, "k", "ts", "v", frame, chunk)
      .select("ts", "rolling_sum").as[(Long, Double)].collect().toMap
    // base is the first ts of its chunk; base-1 is the last of the
    // previous chunk but within the 10ns frame → carried over correctly
    assert(salted(base) == 1.0 + 2.0, s"boundary row got ${salted(base)}")
    assert(salted(base + 1L) == 1.0 + 2.0 + 4.0)
    assert(salted(base + chunk) == 8.0 + 16.0)
    val l = Seq((1L, "k", base - 1L)).toDF("lid", "k", "lts")
    val r = Seq((2L, "k", base + 1L), (3L, "k", base + 100L)).toDF("rid", "k", "rts")
    val pairs = BandJoin.bandJoin(l, r, "k", "lts", "rts", tol = 2L)
      .select("lid", "rid").as[(Long, Long)].collect().toSeq
    assert(pairs == Seq((1L, 2L)), s"got $pairs") // |Δ|=2 qualifies, |Δ|=101 not
  }

  test("saltedRollingSum equals the unsalted window on a skewed fixture") {
    // hot key: 2000 rows spread over ~20 chunks; cold key: 10 rows.
    // Timestamps land on, just before, and just after chunk boundaries so
    // the carry/frame-stitch paths are all exercised.
    val chunk = 1000L
    val frame = 300L
    val rows =
      (0 until 2000).map(i => ("hot", i * 10L + (i % 3), i * 1.0 + 0.25)) ++
      (0 until 10).map(i => ("cold", i * 995L, 1.0)) ++
      Seq(("edge", 999L, 1.0), ("edge", 1000L, 2.0), ("edge", 1001L, 4.0),
        ("edge", 1299L, 8.0), ("edge", 1301L, 16.0))
    val df = rows.toDF("k", "ts", "v")
    val salted = SaltedWindow.saltedRollingSum(df, "k", "ts", "v", frame, chunk)
      .select("k", "ts", "rolling_sum").as[(String, Long, Double)].collect().sorted.toSeq
    val plain = SaltedWindow.rollingSum(df, "k", "ts", "v", frame)
      .select("k", "ts", "rolling_sum").as[(String, Long, Double)].collect().sorted.toSeq
    assert(salted == plain)
    // sanity on the stitched boundary: edge @1001 must see 999+1000+1001
    val edge = salted.collect { case ("edge", 1001L, s) => s }
    assert(edge == Seq(1.0 + 2.0 + 4.0))
  }

  test("saltedInnerJoin equals the plain inner join") {
    val left = Tables.events(spark, TestSpark.Sf).select("event_id", "user_id", "value")
    val right = Tables.events(spark, TestSpark.Sf)
      .groupBy("user_id").agg(count(lit(1)).as("n"))
    val plain = left.join(right, "user_id")
      .select("event_id", "n").as[(Long, Long)].collect().toSet
    val salted = SkewJoin.saltedInnerJoin(left, right, "user_id", buckets = 7)
      .select("event_id", "n").as[(Long, Long)].collect().toSet
    assert(salted == plain)
  }
}
