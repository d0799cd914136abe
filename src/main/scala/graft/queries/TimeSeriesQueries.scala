package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TimeSeries._

/** Window-function surface over the `events` stream table (SURVEY.md §2.5
  * W1-W11, §2.4 A8-A9, §2.9 ST3-as-batch) — the reference's analytical core
  * re-expressed as per-user ordered windows.
  *
  * All per-user features share ONE WindowSpec (partitionBy user_id,
  * orderBy ts, event_id) so Catalyst's CollapseWindow folds them into a
  * single WindowExec: one hash-partition shuffle on user_id + one sort,
  * regardless of feature count. event_id is the total-order tiebreaker —
  * without it, equal timestamps make lag/lead nondeterministic.
  *
  * The two deliberately-global computations (W10 diff over the flattened
  * frame, A9 z-score) follow the reference's unpartitioned semantics
  * (spark_stream.py:131-138): the z-score scalars are computed by an
  * aggregate and broadcast back (no single-partition window), the global
  * diff is a genuine total-order sort — kept as the reference defines it,
  * flagged in Scaladoc as the one operator that cannot scale horizontally.
  */
object TimeSeriesQueries {

  private val ORDER = "PARTITION BY user_id ORDER BY ts, event_id"

  private def w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))

  /** events.ts arrives as epoch-nano long (see Tables.read); wall-clock
    * calendar day for grouping — the shared conversion. */
  private def eventDay = Tables.eventDay

  /** DuckDB twin of TimeSeries.smaCents: exact integer-cent average over a
    * row frame — engine-identical doubles (see smaCents Scaladoc). */
  private def centsAvgSql(e: String, frame: String): String =
    s"(sum(CAST(round(($e) * 100) AS BIGINT)) OVER ($ORDER ROWS BETWEEN $frame)" +
      s" / (count($e) OVER ($ORDER ROWS BETWEEN $frame) * 100.0))"

  /** W1+W2: lags 1/3/5 and lead 1 of value per user. */
  def qLagLead(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("value"),
        lagK(col("value"), 1, w).as("lag1"),
        lagK(col("value"), 3, w).as("lag3"),
        lagK(col("value"), 5, w).as("lag5"),
        lead1(col("value"), w).as("next_value"))
      .orderBy("user_id", "event_id")

  /** W3: trailing moving averages (frames [-5,-1] and [-20,-1]). */
  def qRollingMean(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        rnd(smaCents(col("value"), w, -5, -1), 4).as("ma5"),
        rnd(smaCents(col("value"), w, -20, -1), 4).as("ma20"))
      .orderBy("user_id", "event_id")

  /** W4: rolling sample stddev (volatility14). */
  def qRollingStd(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        rnd(volatility(col("value"), w, 14), 4).as("volatility14"))
      .orderBy("user_id", "event_id")

  /** W5: RSI-14, reference semantics (current row excluded, +1e-6 guard). */
  def qRsi(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        rnd(rsi(col("value"), 14, w), 4).as("rsi14"))
      .orderBy("user_id", "event_id")

  /** W6: absolute + relative momentum. */
  def qMomentum(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        rnd(momentum(col("value"), 3, w), 2).as("mom3"),
        rnd(momentumPct(col("value"), 5, w), 4).as("mom5_pct"))
      .orderBy("user_id", "event_id")

  /** W7: spike flag vs 1.5× the trailing 5-row mean. */
  def qSpike(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        spikeFlag(col("value"), 5, 1.5, w).as("spike"))
      .orderBy("user_id", "event_id")

  /** W8: MACD from the reference's SMA-"EMAs". */
  def qMacd(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        rnd(macd(col("value"), w), 4).as("macd"))
      .orderBy("user_id", "event_id")

  /** W9: forward fill across a deterministically injected null run
    * (error events lose their value, ffill carries the last good one). */
  def qFfill(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("v", when(col("event_type") === "error", lit(null)).otherwise(col("value")))
      .select(col("event_id"), col("user_id"),
        ffill(col("v"), w).as("filled"))
      .orderBy("user_id", "event_id")

  /** W10: global (unpartitioned) first-difference + percent change in the
    * reference's flattened-frame order — a deliberate total-order sort. */
  def qDiffGlobal(spark: SparkSession, dir: String): DataFrame = {
    val wg = Window.orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("event_id"),
        rnd(diff1(col("value"), wg), 2).as("diff"),
        rnd(pctChange(col("value"), wg), 4).as("pct_change"))
      .orderBy("event_id")
  }

  /** W10's SCALABLE twin: the same global first-difference + percent
    * change served by [[graft.operators.ChunkedOrder.withGlobalPrev]]
    * (chunk-partitioned lag + metadata-scale carry stitch) instead of a
    * total-order window — closes SCALE.md's q_diff_global limit. Shares
    * q_diff_global's oracle verbatim: the equality IS the property. */
  def qDiffChunked(spark: SparkSession, dir: String): DataFrame = {
    val prev = col("__prev")
    graft.operators.ChunkedOrder.withGlobalPrev(
        Tables.events(spark, dir), "ts", "event_id", "value",
        "__prev", chunkSpan = 6L * 3600L * 1000000000L)
      .select(col("event_id"),
        rnd(col("value") - prev, 2).as("diff"),
        rnd((col("value") - prev) / nullif(prev, lit(0)) * lit(100), 4).as("pct_change"))
      .orderBy("event_id")
  }

  /** MA crossover events: rows where the 5/20 signal flips (index.js
    * crossover chart as a window query). */
  def qCrossover(spark: SparkSession, dir: String): DataFrame = {
    val sig = crossSignal(col("value"), w, 5, 20)
    Tables.events(spark, dir)
      .withColumn("signal", sig)
      .withColumn("prev_signal", lag(col("signal"), 1).over(w))
      .filter(col("prev_signal").isNotNull && col("signal") =!= col("prev_signal"))
      .select(col("event_id"), col("user_id"), col("signal"))
      .orderBy("user_id", "event_id")
  }

  /** Running sum + row_number per user (O5 building block). */
  def qRunningSum(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        rnd(runningSum(col("value"), w), 2).as("cum_value"),
        row_number().over(w).as("rn"))
      .orderBy("user_id", "event_id")

  /** Ranking functions (beyond-reference: row_number/rank/dense_rank),
    * top-3 events per user by value. */
  def qRanked(spark: SparkSession, dir: String): DataFrame = {
    val wv = Window.partitionBy("user_id").orderBy(desc("value"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("value"),
        row_number().over(wv).as("rn"),
        rank().over(wv).as("rk"),
        dense_rank().over(wv).as("drk"))
      .filter(col("rn") <= 3)
      .orderBy("user_id", "rn")
  }

  /** Cents-exact global mean + population stddev of value — ONE
    * definition for both anomaly queries (they drifted as copies once). */
  private def globalValueStats(e: DataFrame): DataFrame =
    e.agg(
      (sum(round(col("value") * 100).cast("long")) / (count(col("value")) * lit(100.0))).as("mu"),
      stddev_pop(col("value")).as("sigma"))

  /** A9+F13: global z-score anomalies, population stddev (scipy ddof=0).
    * Scalars via aggregate + broadcast cross join — not a single-partition
    * window — so the pattern survives 100 TB. */
  def qZscoreAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    e.crossJoin(broadcast(globalValueStats(e)))
      .withColumn("z", (col("value") - col("mu")) / nullif(col("sigma"), lit(0.0)))
      .filter(abs(col("z")) > 3)
      .select(col("event_id"), col("value"), rnd(col("z"), 4).as("z"))
      .orderBy("event_id")
  }

  /** A8: anomaly count per calendar day. */
  def qAnomalyDaily(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    e.crossJoin(broadcast(globalValueStats(e)))
      .filter(abs((col("value") - col("mu")) / nullif(col("sigma"), lit(0.0))) > 3)
      .groupBy(eventDay.as("day"))
      .agg(count(lit(1)).as("n_anomalies"))
      .orderBy("day")
  }

  /** ST3 as batch: threshold alert on >5% jump vs previous event of the
    * same user (the streaming twin lives in graft.streaming.Ingest). */
  def qThresholdAlert(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("pct", pctChange(col("value"), w))
      .filter(col("pct") > 5)
      .select(col("event_id"), col("user_id"), rnd(col("pct"), 4).as("pct"))
      .orderBy("user_id", "event_id")

  /** Hot-key-safe rolling window: 1-hour trailing RANGE-frame sum of
    * value per user, computed by graft.operators.SaltedWindow with
    * (user, day-chunk) parallelism + boundary frame-stitch. Result is
    * identical to the unsalted per-user window (TemporalOpsSpec) — this
    * is the declared form because it survives a pathological hot entity
    * at 100 TB where the plain per-key partition serializes. */
  def qSaltedRolling(spark: SparkSession, dir: String): DataFrame =
    graft.operators.SaltedWindow.saltedRollingSum(
      Tables.events(spark, dir).select("event_id", "user_id", "ts", "value"),
      "user_id", "ts", "value",
      frameNs = 3600L * 1000000000L, chunkNs = 86400L * 1000000000L)
      .select(col("event_id"), col("user_id"), rnd(col("rolling_sum"), 4).as("rolling_sum"))
      .orderBy("user_id", "event_id")

  /** F-explode analog: extract the JSON payload key and aggregate it
    * per event type (spark_stream.py's schema-on-read flatten). */
  def qEventJson(spark: SparkSession, dir: String): DataFrame =
    // Tables.distributed: the per-row JSON extraction below is this
    // query's entire compute and sat in the single-split scan task
    // (StageProf: 549 ms wall / 509 ms cpu / tasks=1)
    Tables.distributed(Tables.events(spark, dir), "event_id")
      // try_cast, not cast: a malformed or non-numeric payload must
      // land in NULL (visible as a lower count(k)), not ANSI-throw.
      // get_json_object already NULLs malformed JSON in Spark; the
      // oracle needs an explicit json_valid guard because DuckDB's
      // json_extract_string ERRORS on invalid JSON (hostile sweep r18).
      // The integral-string RLIKE gate is the shared cross-engine
      // semantics for FRACTIONAL k (ADVICE r18): Spark's
      // try_cast('3.7' AS INT) yields NULL while DuckDB's
      // TRY_CAST('3.7' AS INTEGER) ROUNDS to 4 — both engines now
      // admit only '-?[0-9]+' strings into the INT cast (the oracle
      // carries the same regexp_matches gate), and anything else —
      // fractional, scientific, garbage — is NULL on both sides.
      // try_cast stays underneath for out-of-INT-range integral
      // strings, which both engines NULL identically.
      .withColumn("k", expr(
        """try_cast(CASE WHEN get_json_object(props, '$.k') RLIKE '^-?[0-9]+$'
          |  THEN get_json_object(props, '$.k') END AS INT)""".stripMargin))
      .groupBy("event_type")
      .agg(
        rnd(sum(col("k")) / (count(col("k")) * lit(1.0)), 4).as("avg_k"),
        count(lit(1)).as("cnt"))
      .orderBy("event_type")

  /** M15: the full shared feature matrix — every per-user feature in one
    * projection; CollapseWindow must reduce this to a single WindowExec
    * (asserted in PlanSpec). Restricted to user_id < 20 to bound the
    * oracle diff size. */
  def qMlFeatures(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("user_id") < 20)
      .select(col("event_id"), col("user_id"), col("value"),
        lagK(col("value"), 1, w).as("lag1"),
        lagK(col("value"), 3, w).as("lag3"),
        rnd(smaCents(col("value"), w, -5, -1), 4).as("ma5"),
        rnd(volatility(col("value"), w, 14), 4).as("volatility14"),
        rnd(rsi(col("value"), 14, w), 4).as("rsi14"),
        rnd(momentum(col("value"), 3, w), 2).as("mom3"),
        rnd(macd(col("value"), w), 4).as("macd"),
        spikeFlag(col("value"), 5, 1.5, w).as("spike"),
        lead1(col("value"), w).as("next_value"))
      .orderBy("user_id", "event_id")

  /** OHLC time-bucket resample (the classic market-data downsample):
    * per (series, hour) open/high/low/close/volume in ONE aggregation
    * with map-side partials — open/close via min_by/max_by on the
    * deterministic (ts, event_id) order (the q_upsert_latest recency
    * idiom), no per-bucket sort, no window. Volume sums exact cents
    * (values are 2-decimal) so the cross-engine total is
    * order-independent.
    *
    * Scale shape: group keys are (event_type, hour) — bounded
    * cardinality per series, uniform in time; the single shuffle
    * carries one partial row per (task, key). A hot series stays one
    * key per HOUR, not one key total, so skew is capped by bucket
    * width. */
  def qOhlcResample(spark: SparkSession, dir: String): DataFrame = {
    // ts is an epoch-NANO long (Tables.read); bucket by exact integer
    // FLOOR division — `div` truncates toward zero, which would put a
    // pre-1970 (negative-epoch) ts one bucket high while the oracle's
    // date_trunc floors; ts - pmod(ts, h) is the floored bucket start
    // for either sign. Tiebreak at full ns precision (epoch_ns on the
    // oracle side — same grain, tie handling cannot diverge).
    val hourNs = 3600L * 1000000000L
    val tiebreak = struct(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .groupBy(col("event_type"),
        // div (not /): double division loses precision above 2^53
        expr(s"(ts - pmod(ts, ${hourNs}L)) div ${hourNs}L").as("b"))
      .agg(
        min_by(col("value"), tiebreak).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), tiebreak).as("close"),
        count(lit(1)).as("n_events"),
        sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents"))
      .select(col("event_type"),
        // the bucket ships as the exact INTEGER epoch-hour, not a
        // formatted string: format-pattern functions were the one
        // engine-version-fragile oracle class in 13 rounds (the r12
        // q_ks_test trip; verdict r13 ask #2) — an integer compares
        // bit-exactly on any engine version, and chronological order
        // is numeric order
        col("b").as("bucket_hour"),
        col("open"), col("high"), col("low"), col("close"), col("n_events"),
        rnd(col("cents") / 100.0, 2).as("volume"))
      .orderBy("event_type", "bucket_hour")
  }

  /** Gap-filled hourly resample — pandas `resample('H').ffill()` as one
    * plan: the hourly close per event_type on a REGULAR time grid, with
    * missing hours materialized from a per-type date spine and filled
    * with the last observed close ([[qOhlcResample]] gives the sparse
    * buckets; dashboards need the dense series). `n_events` is 0 on
    * spine-only rows, so the output distinguishes "no trades, price
    * carried" from real buckets.
    *
    * Scale shape: the bucket aggregate is the q_ohlc one-pass shape;
    * the spine is `sequence(min_b, max_b)` per type — sized by the TIME
    * SPAN, not data volume (8.8k cells per type-year); the
    * carry-forward window partitions by type over spine rows, i.e.
    * metadata scale, never a per-event window. The spine join is a
    * left join on (type, hour) — uniform keys, shuffle bounded by the
    * grid size. */
  def qResampleFfill(spark: SparkSession, dir: String): DataFrame = {
    val hourNs = 3600L * 1000000000L
    val tiebreak = struct(col("ts"), col("event_id"))
    val buckets = Tables.events(spark, dir)
      .groupBy(col("event_type"),
        expr(s"(ts - pmod(ts, ${hourNs}L)) div ${hourNs}L").as("b"))
      .agg(max_by(col("value"), tiebreak).as("close"),
        count(lit(1)).as("n_events"))
    val spine = buckets.groupBy("event_type")
      .agg(min(col("b")).as("b0"), max(col("b")).as("b1"))
      .select(col("event_type"), explode(sequence(col("b0"), col("b1"))).as("b"))
    val w = Window.partitionBy("event_type").orderBy("b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(buckets, Seq("event_type", "b"), "left")
      .select(col("event_type"),
        // the bucket ships as the exact INTEGER epoch-hour, not a
        // formatted string: format-pattern functions were the one
        // engine-version-fragile oracle class in 13 rounds (the r12
        // q_ks_test trip; verdict r13 ask #2) — an integer compares
        // bit-exactly on any engine version, and chronological order
        // is numeric order
        col("b").as("bucket_hour"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        last(col("close"), ignoreNulls = true).over(w).as("close_ffill"))
      .orderBy("event_type", "bucket_hour")
  }

  /** Gap-filled hourly resample with LINEAR TIME interpolation — the
    * pandas `resample('H').interpolate('time')` twin of
    * [[qResampleFfill]]: carried hours take the straight line between
    * the previous and next OBSERVED closes, weighted by hour distance,
    * instead of repeating the last value. Both spine endpoints are
    * observed buckets by construction (the spine spans min..max of the
    * per-type observed hours), so every NULL is interior and always has
    * both neighbours — no extrapolation branch exists to get wrong.
    *
    * Cross-engine parity: the interpolation is one fixed-order IEEE
    * expression over identical inputs — prev + (next − prev) ·
    * (Δb / Δspan), with both deltas exact integers — mirrored verbatim
    * in the oracle; observed rows short-circuit to the raw close before
    * any division (also keeps ANSI division away from the Δspan=0 case).
    *
    * Scale shape: identical to [[qResampleFfill]] — bucket aggregate at
    * event grain, then spine-grain (metadata-scale) windows; the
    * backward-looking pair of windows shares the forward pair's sort, so
    * CollapseWindow folds all four features into two WindowExecs over
    * one exchange. */
  def interpolateHourly(df: DataFrame, typeCol: String, tsCol: String,
                        valCol: String, idCol: String): DataFrame = {
    val hourNs = 3600L * 1000000000L
    val tiebreak = struct(col(tsCol), col(idCol))
    val buckets = df
      .groupBy(col(typeCol),
        expr(s"(`$tsCol` - pmod(`$tsCol`, ${hourNs}L)) div ${hourNs}L").as("b"))
      .agg(max_by(col(valCol), tiebreak).as("close"))
    val spine = buckets.groupBy(typeCol)
      .agg(min(col("b")).as("b0"), max(col("b")).as("b1"))
      .select(col(typeCol), explode(sequence(col("b0"), col("b1"))).as("b"))
    val wb = Window.partitionBy(typeCol).orderBy("b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = Window.partitionBy(typeCol).orderBy("b")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val obsB = when(col("close").isNotNull, col("b"))
    spine.join(buckets, Seq(typeCol, "b"), "left")
      .select(col(typeCol), col("b"), col("close"),
        last(col("close"), ignoreNulls = true).over(wb).as("pv"),
        last(obsB, ignoreNulls = true).over(wb).as("pb"),
        first(col("close"), ignoreNulls = true).over(wf).as("nv"),
        first(obsB, ignoreNulls = true).over(wf).as("nb"))
      .select(col(typeCol),
        // the bucket ships as the exact INTEGER epoch-hour, not a
        // formatted string: format-pattern functions were the one
        // engine-version-fragile oracle class in 13 rounds (the r12
        // q_ks_test trip; verdict r13 ask #2) — an integer compares
        // bit-exactly on any engine version, and chronological order
        // is numeric order
        col("b").as("bucket_hour"),
        col("close").isNotNull.as("observed"),
        rnd(when(col("close").isNotNull, col("close"))
          .otherwise(col("pv") + (col("nv") - col("pv")) *
            ((col("b") - col("pb")).cast("double") /
              (col("nb") - col("pb")).cast("double"))), 4)
          .as("value_interp"))
  }

  def qInterpolate(spark: SparkSession, dir: String): DataFrame =
    interpolateHourly(Tables.events(spark, dir), "event_type", "ts",
      "value", "event_id")
      .orderBy("event_type", "bucket_hour")

  /** Seasonal (day-of-week × hour-of-day) baseline profile + residual
    * anomaly counts — the "is this hour unusual FOR a Tuesday 9am"
    * upgrade over [[qZscoreAnomaly]]'s global z-score: per
    * (event_type, dow, hour) cell, mean/sample-std of value and the
    * count of events sitting more than 3σ from their own cell's mean.
    *
    * Cross-engine parity: the moments come from EXACT integer-cent sums
    * (n, Σc, Σc²) — the [[graft.operators.PartialAgg]] recipe — derived
    * in one fixed-order double expression per side, variance clamped at
    * 0 before the (correctly-rounded, hence engine-identical) sqrt.
    *
    * Scale shape: one event-grain aggregate onto the bounded 5×7×24
    * grid, then the grid broadcast back onto the scan for the residual
    * count — the winsorize/normalize stats-join idiom; no windows, no
    * distinct state. The Σc² partial stays long-exact up to ~9·10⁸ rows
    * per cell (c ≤ 1e5 cents ⇒ c² ≤ 1e10; 2^63 ≈ 9.2·10¹⁸) — past
    * that, widen the partial per the shared-recipe note in
    * [[graft.queries]]. */
  def seasonalBaseline(df: DataFrame, typeCol: String, tsCol: String,
                       valCol: String): DataFrame = {
    val ev = df
      .select(col(typeCol).as("event_type"), col(valCol).as("value"),
        dayofweek(timestamp_micros(expr(s"`$tsCol` div 1000"))).as("dow"),
        hour(timestamp_micros(expr(s"`$tsCol` div 1000"))).as("hod"),
        expr(s"CAST(floor(`$valCol` * 100 + 0.5) AS BIGINT)").as("cents"))
    // ONE cell-partitioned window + ONE aggregate on the same keys (r20
    // optimization): the old grid-aggregate → broadcast-stats-back →
    // anomaly aggregate → stats⋈anom left join planned the fact scan +
    // cell rollup TWICE (the pushed-down anomaly filter de-canonicalized
    // the second subtree — plans/r20/q_seasonal_baseline_before.txt) plus
    // two joins. The window hands every row its own cell's n/sumc/sumsq
    // (identical integer sums → identical moment doubles), the anomaly
    // test runs beside it, and the groupBy reuses the window's
    // partitioning, so the whole query is one exchange. n=1 cells gate
    // the variance BEFORE the division exactly as before (ANSI /0).
    // The key-isNotNull conjunct preserves the old inner-join-on-keys
    // semantics: a NULL-keyed cell never matched the broadcast stats,
    // so its anomalies counted 0 — the cell row itself still emits.
    val wc = Window.partitionBy("event_type", "dow", "hod")
    ev
      .withColumn("n", count(lit(1)).over(wc))
      .withColumn("sumc_c", sum(col("cents")).over(wc))
      .withColumn("sumsq_c", sum(col("cents") * col("cents")).over(wc))
      .withColumn("mean_v", meanFromCents(col("n"), col("sumc_c")))
      .withColumn("std_v", when(col("n") >= 2,
        sqrt(varFromCents(col("n"), col("sumc_c"), col("sumsq_c")))))
      .groupBy("event_type", "dow", "hod")
      .agg(max(col("n")).as("n_out"),
        max(col("mean_v")).as("mean_out"),
        max(col("std_v")).as("std_out"),
        sum(when(col("event_type").isNotNull && col("dow").isNotNull &&
          col("hod").isNotNull && col("n") >= 2 && col("std_v") > 0.0 &&
          abs(col("value") - col("mean_v")) > lit(3.0) * col("std_v"),
          1L).otherwise(0L)).as("n_anom"))
      .select(col("event_type"), col("dow"), col("hod"),
        col("n_out").as("n"),
        rnd(col("mean_out"), 4).as("mean_value"),
        rnd(col("std_out"), 4).as("std_value"),
        col("n_anom").as("n_anomalies"))
  }

  def qSeasonalBaseline(spark: SparkSession, dir: String): DataFrame =
    seasonalBaseline(Tables.events(spark, dir), "event_type", "ts", "value")
      .orderBy("event_type", "dow", "hod")

  /** Rolling 14-row MEDIAN per user — the robust rolling baseline
    * (pandas `rolling(14, min_periods=1).median()`): outlier-resistant
    * where [[qRollingMean]] is not. Spark has no percentile over row
    * frames, so the median is built from first principles on the
    * bounded frame: `sort_array(collect_list(cents))` (14 longs max —
    * constant per-row state) and exact integer middle-element
    * arithmetic ((lo+hi)/2 over longs, both engines IEEE-exact), never
    * a UDF or an unbounded buffer.
    *
    * Scale shape: ONE user-partitioned window on the shared (ts, id)
    * order — CollapseWindow folds it with any sibling features; frame
    * state is 14 longs regardless of history length. */
  def qRollingMedian(spark: SparkSession, dir: String): DataFrame = {
    val wf = w.rowsBetween(-13, 0)
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"),
        col("ts"))
      .withColumn("cs", sort_array(collect_list(col("cents")).over(wf)))
      .withColumn("k", size(col("cs")))
      // median over the frame's NON-NULL values (collect_list already
      // skips NULLs; the oracle's list() keeps them, so it filters
      // explicitly — hostile r18), NULL when the frame holds none
      .select(col("event_id"), col("user_id"),
        rnd(when(col("k") > 0,
          ((expr("element_at(cs, CAST((k + 1) div 2 AS INT))") +
            expr("element_at(cs, CAST((k div 2) + 1 AS INT))")) / 2.0)
            / 100.0), 4).as("med14"))
      .orderBy("user_id", "event_id")
  }

  /** Per-(type, day) latency-style percentile bands — the P50/P95/P99
    * observability panel: exact interpolated percentiles beside n and
    * max. Exact grouped `percentile` keeps a per-cell value buffer —
    * bounded here by a day's traffic per type; at true scale swap in
    * `percentile_approx` (the q_approx_sketch A/B prices exactly that
    * trade) or the t-digest partial. */
  def qLatencyBands(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"), eventDay.as("day"))
      .agg(count(lit(1)).as("n"),
        expr("percentile(value, array(0.5D, 0.95D, 0.99D))").as("q"),
        max(col("value")).as("max_value"))
      .select(col("event_type"), col("day"), col("n"),
        rnd(col("q").getItem(0), 4).as("p50"),
        rnd(col("q").getItem(1), 4).as("p95"),
        rnd(col("q").getItem(2), 4).as("p99"),
        col("max_value"))
      .orderBy("event_type", "day")

  /** Market-basket association over (user, day) baskets — support /
    * confidence / lift for every unordered event-type pair that
    * co-occurs in a basket: the "users who X also Y" panel, and the
    * unordered complement of [[qTransitionMatrix]]'s ordered pairs.
    *
    * Scale shape: baskets are the DISTINCT (user, day, type) triples
    * (one dedup aggregate); the pair join keys on (user, day) — each
    * basket holds at most |type| rows, so the join fans out
    * quadratically only in the bounded type cardinality, never in
    * events; supports/lifts come from two broadcast joins against the
    * bounded per-type counts. All ratios are exact integer-count
    * rationals in mirrored fixed-order double arithmetic. */
  def liftPairs(df: DataFrame, userCol: String, tsCol: String,
                typeCol: String): DataFrame = {
    val day = to_date(timestamp_micros(expr(s"`$tsCol` div 1000")))
    // materialize the distinct basket triples ONCE (r20 optimization,
    // the qPagerank edges recipe): this frame feeds FOUR plan positions
    // (basket-count aggregate, per-type supports, both self-join sides)
    // whose prunings de-canonicalize the distinct's exchange — without
    // the checkpoint the scan + dedup pipeline ran once per consumer.
    // The frame is (users × days × types) rows — basket-bounded, tiny
    // next to the fact table it deduplicates; at 100 TB the basket
    // table is the persisted artifact this checkpoint stands in for.
    // localCheckpoint KEPT over persist(MEMORY_AND_DISK) (r21, measured
    // and reverted): the lineage-preserving swap read consistently
    // WORSE in interleaved A/B (+0.21/+0.25/+0.37/+0.96/-0.24 s across
    // five paired rounds, median +0.25) — the self-join's two sides
    // racing the first InMemoryRelation build serialize on block locks,
    // and the columnar encode/decode costs more than the raw
    // checkpoint-block reads on every consumer. The sibling swaps
    // (bigram pairs, tfidf tf) were measured and reverted too: both
    // keep localCheckpoint (TextStats bigramLogprobOf and the tfidf tf
    // table); this frame is the smallest of the three, so its
    // truncated-lineage exposure is also the smallest.
    val bask = df
      .select(col(userCol).as("user_id"), day.as("day"),
        col(typeCol).as("event_type"))
      .distinct()
      .localCheckpoint(true)
    val nBaskets = bask.select("user_id", "day").distinct()
      .agg(count(lit(1)).as("nb"))
    val item = bask.groupBy("event_type").agg(count(lit(1)).as("cnt"))
    val pairs = bask.as("x")
      .join(bask.withColumnRenamed("event_type", "type_b").as("y"),
        Seq("user_id", "day"))
      .filter(col("event_type") < col("type_b"))
      .groupBy(col("event_type").as("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_both"))
    pairs
      .join(broadcast(item.select(col("event_type").as("type_a"),
        col("cnt").as("cnt_a"))), Seq("type_a"))
      .join(broadcast(item.select(col("event_type").as("type_b"),
        col("cnt").as("cnt_b"))), Seq("type_b"))
      .crossJoin(broadcast(nBaskets))
      .select(col("type_a"), col("type_b"), col("n_both"),
        rnd(col("n_both").cast("double") / col("nb").cast("double"), 6)
          .as("support"),
        rnd(col("n_both").cast("double") / col("cnt_a").cast("double"), 6)
          .as("confidence"),
        rnd((col("n_both").cast("double") * col("nb").cast("double")) /
          (col("cnt_a").cast("double") * col("cnt_b").cast("double")), 6)
          .as("lift"))
  }

  def qLiftPairs(spark: SparkSession, dir: String): DataFrame =
    liftPairs(Tables.events(spark, dir), "user_id", "ts", "event_type")
      .orderBy("type_a", "type_b")

  /** PageRank iteration count / damping for [[qPagerank]] — damping
    * terms spelled as literal constants on BOTH engines (0.15 written
    * out, never derived as 1−0.85 in one engine and a literal in the
    * other). */
  val PrIters = 3
  val PrDamp = 0.85
  val PrBase = 0.15

  /** PageRank over the event-type transition graph — the canonical
    * distributed power iteration expressed as what it actually is on
    * Spark: K rounds of (edge ⋈ score) → groupBy(dst) → weighted sum.
    * Edges are the [[transitionMatrix]] probabilities; each round
    * recomputes PR(j) = 0.15/N + 0.85·Σ PR(i)·P(j|i), with a left join
    * back to the node list so sink-only nodes keep the base score.
    *
    * Scale shape: the per-round join keys on the edge's src — at real
    * graph scale this is the standard edge-partitioned shuffle; the
    * driver only paces K fixed rounds (no convergence collect). The
    * 5-node fixture graph keeps the oracle's unrolled-CTE twin exact. */
  def qPagerank(spark: SparkSession, dir: String): DataFrame = {
    val n = lit(5.0)
    // transitionPairs directly (r20 optimization): this query only
    // needs the raw (prev, next, n) counts — going through
    // transitionMatrix paid that operator's own totals aggregate +
    // broadcast join to compute a probability column the very next
    // select dropped
    val counts = transitionPairs(Tables.events(spark, dir), "user_id",
      "event_type", "ts", "event_id")
    // materialize the bounded edge list ONCE (|types|² rows): without
    // this, every iteration's plan re-runs the per-user lag window that
    // builds the transition counts — K× the whole upstream for a frame
    // that is pure metadata. Row-normalization via a WINDOW on the same
    // frame (r20 optimization): the old tots aggregate + broadcast join
    // consumed `counts` twice, so the checkpoint build ran the whole
    // transition pipeline once per consumer plus a broadcast round —
    // the window states the identical per-prev sum (same longs, same
    // division) inside ONE pipeline. prev is non-NULL by construction
    // (transitionPairs filters NULL lags), so the window partitioning
    // and the old using-join agree on every row; NULL next flows
    // through both forms untouched (the join keyed on prev alone).
    val wTot = Window.partitionBy("prev")
    val edges = counts
      .withColumn("tot", sum(col("n")).over(wTot))
      .select(col("prev"), col("next"),
        (col("n").cast("double") / col("tot").cast("double")).as("pw"))
      .localCheckpoint(true)
    // node set in ONE distinct over both endpoints (r20: the old
    // distinct-union-distinct chain ran three aggregates / five jobs
    // over the checkpointed edges; set equality is definitional)
    val nodes = edges
      .select(explode(array(col("prev"), col("next"))).as("node")).distinct()
      .localCheckpoint(true)
    var pr = nodes.select(col("node"), (lit(1.0) / n).as("score"))
    for (_ <- 1 to PrIters) {
      val contrib = edges.join(pr, col("prev") === col("node"))
        .groupBy(col("next").as("node2"))
        .agg(sum(col("pw") * col("score")).as("mass"))
      pr = nodes.join(contrib, col("node") === col("node2"), "left")
        .select(col("node"),
          (lit(PrBase) / n + lit(PrDamp) * coalesce(col("mass"), lit(0.0)))
            .as("score"))
    }
    pr.select(col("node").as("event_type"), rnd(col("score"), 6).as("pagerank"))
      .orderBy("event_type")
  }

  /** Cohort retention — the dashboard staple the reference's summary
    * panels approximate by hand: users grouped by FIRST-ACTIVE day
    * (their cohort), then distinct-active counts per (cohort,
    * day-offset). Reading one column of the output down gives day-N
    * retention across cohorts; reading a row across gives one cohort's
    * decay curve.
    *
    * Scale shape: two grouped aggregates on user_id (first-day and
    * distinct active days — the second is a groupBy(user, day) dedup,
    * NOT count(distinct) state per output cell) joined on user_id, then
    * a cell-grain rollup. All shuffles key on user_id or the bounded
    * (cohort, offset) grid; no windows. */
  def cohortRetention(df: DataFrame, userCol: String,
                      tsCol: String): DataFrame = {
    val day = to_date(timestamp_micros(expr(s"`$tsCol` div 1000")))
    val first = df.groupBy(userCol).agg(min(day).as("cohort"))
    val active = df.select(col(userCol), day.as("day")).distinct()
    active.join(first, userCol)
      .select(col("cohort"),
        datediff(col("day"), col("cohort")).as("day_offset"))
      .groupBy("cohort", "day_offset")
      .agg(count(lit(1)).as("n_users"))
  }

  def qCohortRetention(spark: SparkSession, dir: String): DataFrame =
    cohortRetention(Tables.events(spark, dir), "user_id", "ts")
      .orderBy("cohort", "day_offset")

  /** Ordered conversion funnel — strictly-sequenced stage times per
    * user (first click, first view AFTER that click, first purchase
    * AFTER that view), rolled into per-stage user counts + conversion
    * rates. The unordered form (a user did all three event types)
    * overcounts; the ORDER is the funnel's meaning, and it is exactly
    * what the batch twin of [[graft.streaming.Ingest.conversionJoin]]'s
    * attribution semantics looks like.
    *
    * Scale shape: three chained grouped min-aggregates on user_id —
    * each stage joins the previous stage's (user, t) frame (shuffles
    * key on user_id throughout, so AQE can reuse the exchange), never
    * a window or a self-cross. The final rollup is three single-row
    * aggregates unioned — metadata scale. */
  def funnelSequence(df: DataFrame, userCol: String, typeCol: String,
                     tsCol: String, stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty, "funnelSequence: at least one stage type")
    // fold the ordered stages into chained (user, t) frames: stage i
    // keeps the first typeCol==stages(i) event strictly after stage i-1
    val frames = stages.zipWithIndex.scanLeft(Option.empty[DataFrame]) {
      case (prev, (stype, i)) =>
        val base = df.filter(col(typeCol) === stype)
        val gated = prev match {
          case None => base
          case Some(p) => base.join(p, userCol)
            .filter(col(tsCol) > col(s"t$i"))
        }
        Some(gated.groupBy(userCol)
          .agg(min(col(tsCol)).as(s"t${i + 1}")))
    }.flatten
    val counts = frames.zip(stages.zipWithIndex).map { case (f, (stype, i)) =>
      val label = if (i == 0) stype else s"${stype}_after_${stages(i - 1)}"
      f.agg(count(lit(1)).as("n")).withColumn("stage", lit(i + 1))
        .withColumn("name", lit(label))
    }.reduce(_ unionByName _)
    val entered = frames.head.agg(count(lit(1)).as("n_entered"))
    counts.crossJoin(broadcast(entered))
      .select(col("stage"), col("name"), col("n"),
        // nullif: a funnel nobody entered reads NULL conversion on both
        // engines (ANSI Spark throws on /0 where DuckDB natively yields
        // NULL — degenerate sweep r19)
        rnd(col("n") / nullif(col("n_entered").cast("double"), lit(0.0)), 4)
          .as("conv_from_entry"))
  }

  def qFunnelSequence(spark: SparkSession, dir: String): DataFrame =
    funnelSequence(Tables.events(spark, dir).select("user_id", "event_type", "ts"),
      "user_id", "event_type", "ts", Seq("click", "view", "purchase"))
      .orderBy("stage")

  /** First-order event-type transition matrix (the Markov view of user
    * behaviour dashboards draw as a flow diagram): per-user consecutive
    * event pairs via lag over the (user, ts, id) order, counted per
    * (prev → next) cell and row-normalized into transition
    * probabilities.
    *
    * Scale shape: ONE user-partitioned window (the q_lag_lead frame —
    * bounded by a user's own history, never global), a 25-cell rollup,
    * and a broadcast row-total join for the normalization. The rounded
    * probability is an exact rational n/tot in both engines. */
  def transitionMatrix(df: DataFrame, userCol: String, typeCol: String,
                       tsCol: String, idCol: String): DataFrame = {
    // ONE definition of "transition" shared with markovEntropy (the
    // dailyCounts rule — review r14)
    val pairs = transitionPairs(df, userCol, typeCol, tsCol, idCol)
    val totals = pairs.groupBy("prev").agg(sum(col("n")).as("tot"))
    pairs.join(broadcast(totals), "prev")
      .select(col("prev"), col("next"), col("n"),
        rnd(col("n") / col("tot").cast("double"), 4).as("p"))
  }

  def qTransitionMatrix(spark: SparkSession, dir: String): DataFrame =
    transitionMatrix(Tables.events(spark, dir), "user_id", "event_type",
      "ts", "event_id")
      .orderBy("prev", "next")

  /** Time-weighted average value per (type, day) — the TWAP every
    * irregular time series needs where a plain mean over-weights bursts:
    * each observation holds its value until the NEXT one (lead window,
    * (ts, event_id)-tiebroken), weighted by that holding interval in
    * EXACT integer milliseconds × integer cents, so the whole statistic
    * is one integer rational divided once. The day's last observation
    * has no holding interval and drops from both sides; a one-event day
    * is NULL, never /0.
    *
    * Scale: the lead window partitions by (type, day) — bounded by
    * daily per-type volume, the q_roc_auc partition argument.
    * Long-exactness: Σ cents·Δms ≤ 10⁵·8.64·10⁷ per term ≈ 8.6·10¹²;
    * BIGINT holds ~10⁶ such max-terms per group — beyond that widen to
    * decimal(38,0). */
  def twap(df: DataFrame, typeCol: String, tsCol: String,
           valCol: String, idCol: String): DataFrame = {
    val wLead = Window
      .partitionBy("event_type", "day").orderBy(tsCol, idCol)
    val ev = df.select(
      col(typeCol).as("event_type"), dayOf(tsCol).as("day"),
      col(tsCol), col(idCol), centsOf(valCol).as("cents"))
    ev
      .withColumn("dns", lead(col(tsCol), 1).over(wLead) - col(tsCol))
      .withColumn("dms", expr("dns div 1000000")) // integer ms, exact
      .groupBy("event_type", "day")
      .agg(count(lit(1)).as("n_events"),
        sum(col("cents") * col("dms")).as("num"),
        sum(col("dms")).as("den"))
      .select(col("event_type"), col("day"), col("n_events"),
        rnd(when(col("den") > 0L,
          (col("num").cast("double") / col("den").cast("double")) / 100.0), 4)
          .as("twap"))
  }

  def qTwap(spark: SparkSession, dir: String): DataFrame =
    twap(Tables.events(spark, dir), "event_type", "ts", "value", "event_id")
      .orderBy("event_type", "day")

  /** Inter-arrival gap statistics per group — the event-pipeline health
    * read (is a source stalling? bursty? drying up?): count, mean,
    * median and coefficient of variation of consecutive-event gaps.
    * Gaps are EXACT integer milliseconds (epoch-nano lag diff, integer
    * div — the twap dms idiom); mean and cv come from exact integer
    * moment sums in mirrored fixed-order double expressions (variance
    * clamped at 0 — the varFromCents discipline); the median
    * interpolates integral ms on both engines (exact halves, the
    * q_percentile precedent). A cv near 0 is a metronome, near 1 is
    * Poisson, far above 1 is bursty.
    *
    * Scale: one lag window per group at the row grain (the q_lag_lead
    * shape — chunk-stitch per ChunkedOrder for a monster group). The
    * moment sums combine map-side, but the EXACT median's aggregation
    * buffer holds every gap of its group — the same priced hazard as
    * latencyPercentiles: for a monster group swap `percentile` for
    * `percentile_approx` (the at-tolerance swap; the mean/cv columns
    * are unaffected). Long-exactness: Σg² ≤ span_ms²·n — exact to
    * ~10⁴ gaps at day-long gaps, ~10⁹ gaps at second-long gaps;
    * decimal(38,0) is the named widen. */
  def interarrival(df: DataFrame, typeCol: String, tsCol: String,
                   idCol: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy(tsCol, idCol)
    val gaps = df
      .select(col(typeCol).as("event_type"), col(tsCol), col(idCol))
      .withColumn("gns", col(tsCol) - lag(col(tsCol), 1).over(w))
      .filter(col("gns").isNotNull)
      .select(col("event_type"), expr("gns div 1000000").as("g"))
    val a = gaps.groupBy("event_type").agg(
      count(lit(1)).as("n_gaps"),
      sum(col("g")).as("sg"),
      sum(col("g") * col("g")).as("sgg"),
      expr("percentile(g, 0.5)").as("median_gap_ms"))
    def d(s: String) = col(s).cast("double")
    val mean = d("sg") / d("n_gaps")
    val vr = greatest(lit(0.0),
      (d("n_gaps") * d("sgg") - d("sg") * d("sg")) /
        (d("n_gaps") * (d("n_gaps") - 1.0)))
    a.select(col("event_type"), col("n_gaps"),
      rnd(mean, 3).as("mean_gap_ms"),
      col("median_gap_ms"),
      rnd(when(col("n_gaps") > 1L && col("sg") > 0L, sqrt(vr) / mean), 4)
        .as("cv"))
  }

  def qInterarrival(spark: SparkSession, dir: String): DataFrame =
    interarrival(Tables.events(spark, dir), "event_type", "ts", "event_id")
      .orderBy("event_type")

  /** Longest consecutive-day activity streak per user — the
    * gaps-and-islands idiom: over distinct (user, active day), island
    * anchor = day − row_number (consecutive days share an anchor), one
    * rollup per island, then per-user max. Output is the deterministic
    * (best_streak desc, user) top-20 — churn analysis's "how sticky are
    * the stickiest users".
    *
    * Scale: distinct-day dedup is the only fact-grain pass; the
    * row_number window partitions per USER over that user's ACTIVE DAYS
    * (≤ calendar days — bounded), and islands/best are metadata-scale
    * rollups. */
  def streaks(df: DataFrame, userCol: String, tsCol: String,
              k: Int = 20): DataFrame = {
    val wU = Window.partitionBy("user").orderBy("day")
    val days = df.select(col(userCol).as("user"), dayOf(tsCol).as("day"))
      .distinct()
    days
      .withColumn("anchor", date_sub(col("day"), row_number().over(wU)))
      .groupBy("user", "anchor").agg(count(lit(1)).as("len"))
      .groupBy("user")
      .agg(max(col("len")).as("best_streak"), sum(col("len")).as("n_active_days"))
      .orderBy(desc("best_streak"), col("user"))
      .limit(k)
  }

  def qStreaks(spark: SparkSession, dir: String): DataFrame =
    streaks(Tables.events(spark, dir), "user_id", "ts")

  /** Calendar-completeness audit per group — the freshness/SLA read a
    * pipeline runs before trusting a source (the complement of
    * [[interarrival]]'s event-grain health: this is DAY-grain — which
    * calendar days are silent?): active vs span days, missing-day
    * count, integer coverage percent (floor of an exact ratio of
    * exact integers — engine-deterministic with no rounding surface)
    * and the longest dark gap in days. Every output is an integer or a
    * date; nothing can drift.
    *
    * Scale: the daily rollup is the only fact-volume pass; the lag
    * window partitions per group over ACTIVE DAYS (≤ calendar days,
    * bounded) — the [[streaks]] shape. */
  def completeness(df: DataFrame, typeCol: String, tsCol: String): DataFrame = {
    val daily = dailyCounts(df, typeCol, tsCol).withColumnRenamed("x", "n")
    val w = Window.partitionBy("event_type").orderBy("day")
    val g = daily
      .withColumn("gap",
        (datediff(col("day"), lag(col("day"), 1).over(w)) - lit(1))
          .cast("long"))
      .groupBy("event_type")
      .agg(sum(col("n")).as("n_events"),
        min(col("day")).as("first_day"), max(col("day")).as("last_day"),
        count(lit(1)).as("active_days"),
        coalesce(max(col("gap")), lit(0L)).as("longest_gap_days"))
    val span = (datediff(col("last_day"), col("first_day")) + lit(1))
      .cast("long")
    g.select(col("event_type"), col("n_events"), col("first_day"),
      col("last_day"), span.as("span_days"), col("active_days"),
      (span - col("active_days")).as("missing_days"),
      floor((col("active_days") * lit(100L)).cast("double") /
        span.cast("double")).cast("long").as("coverage_pct"),
      col("longest_gap_days"))
  }

  def qCompleteness(spark: SparkSession, dir: String): DataFrame =
    completeness(Tables.events(spark, dir), "event_type", "ts")
      .orderBy("event_type")

  /** Max transition gap for [[qFunnelTimebound]] — 7 days in nanos,
    * interpolated into BOTH engines. */
  val FunnelGapNs: Long = 7L * 86400L * 1000000000L

  /** Time-BOUND conversion funnel — the q_funnel_sequence ordering
    * constraint plus a freshness constraint: a user converts a stage
    * only if it happens within `gapNs` of their previous-stage entry
    * (first qualifying event each time, so the funnel is the standard
    * "first touch" reading). Three bounded user-grain aggregates
    * chained by equi-joins on the user key — each stage's frame is a
    * FILTERED fact scan aggregated to one row per surviving user, so
    * the join fan-in shrinks monotonically down the funnel; no windows,
    * no fact×fact join.
    *
    * Output: one row per stage with surviving-user counts (integer
    * attrition report). */
  def funnelTimebound(df: DataFrame, userCol: String, typeCol: String,
                      tsCol: String, stages: Seq[String],
                      gapNs: Long): DataFrame = {
    require(stages.size == 3, "funnelTimebound: exactly three stages")
    // `div 1` anchors the epoch-nano long invariant: identity on the
    // long, a LOUD analysis error on a timestamp column (a plain cast
    // would silently read epoch seconds and void the gap bound)
    val ev = df.select(col(userCol).as("user"), col(typeCol).as("et"),
      expr(s"`$tsCol` div 1").as("t"))
    val s1 = ev.filter(col("et") === stages.head)
      .groupBy("user").agg(min(col("t")).as("t1"))
    val s2 = ev.filter(col("et") === stages(1)).join(s1, "user")
      .filter(col("t") > col("t1") && col("t") - col("t1") <= gapNs)
      .groupBy("user").agg(min(col("t")).as("t2"))
    val s3 = ev.filter(col("et") === stages(2)).join(s2, "user")
      .filter(col("t") > col("t2") && col("t") - col("t2") <= gapNs)
      .groupBy("user").agg(min(col("t")).as("t3"))
    val counts = Seq(s1, s2, s3).zipWithIndex.map { case (s, i) =>
      s.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1).as("stage"), lit(stages(i)).as("event_type"),
          col("n_users"))
    }
    counts.reduce(_ unionAll _)
  }

  def qFunnelTimebound(spark: SparkSession, dir: String): DataFrame =
    funnelTimebound(Tables.events(spark, dir), "user_id", "event_type",
      "ts", Seq("signup", "click", "purchase"), FunnelGapNs)
      .orderBy("stage")

  /** Quintile count for [[qRfm]] — interpolated into BOTH engines. */
  val RfmQ = 5

  /** RFM segmentation rollup — recency / frequency / monetary quintile
    * scores per user by EXACT integer rank arithmetic (the
    * quantileBuckets formula, no interpolated edges), rolled up to
    * segment populations with exact integer-cent spend means. Scoring
    * windows rank the USER-grain frame (one row per user — the same
    * key-grain aggregate a dedup pays), ordered so score 5 = most
    * recent / most frequent / highest spend, with the user id as the
    * deterministic tiebreak. The global user rank is the
    * quantileBuckets single-sort caveat: chunk-stitched ranking
    * (q_pagination_chunked) is the named swap at billion-user scale.
    *
    * Recency is measured against the CORPUS max day (broadcast
    * one-row aggregate), so the score is reproducible rather than
    * wall-clock-dependent. */
  def rfm(df: DataFrame, userCol: String, tsCol: String,
          valCol: String): DataFrame = {
    val per = df.select(col(userCol).as("user"), dayOf(tsCol).as("day"),
        centsOf(valCol).as("cents"))
      .groupBy("user")
      .agg(max(col("day")).as("last_day"), count(lit(1)).as("freq"),
        sum(col("cents")).as("cents"))
    val anchor = per.agg(max(col("last_day")).as("anchor"))
    val base = per.crossJoin(broadcast(anchor))
      .withColumn("rec_days", datediff(col("anchor"), col("last_day")))
    val n = base.agg(count(lit(1)).as("n"))
    def score(orderCols: Seq[Column], name: String)(d: DataFrame) = {
      val w = Window.orderBy(orderCols: _*)
      d.withColumn(s"__rn_$name", row_number().over(w))
    }
    val scored = score(Seq(col("rec_days").desc, col("user")), "r")(
      score(Seq(col("freq"), col("user")), "f")(
        score(Seq(col("cents"), col("user")), "m")(base)))
      .crossJoin(broadcast(n))
    def q(name: String) = expr(
      s"CAST(((CAST(__rn_$name - 1 AS BIGINT) * $RfmQ) div n) + 1 AS INT)")
    scored
      .select(q("r").as("r_score"), q("f").as("f_score"), q("m").as("m_score"),
        col("cents"))
      .groupBy("r_score", "f_score", "m_score")
      .agg(count(lit(1)).as("n_users"),
        rnd((sum(col("cents")).cast("double") /
          count(lit(1)).cast("double")) / 100.0, 4).as("avg_spend"))
  }

  def qRfm(spark: SparkSession, dir: String): DataFrame =
    rfm(Tables.events(spark, dir), "user_id", "ts", "value")
      .orderBy("r_score", "f_score", "m_score")

  /** Cohort LTV curve — cumulative revenue per acquisition cohort by
    * age: cohort = the user's first active week (anchored to the CORPUS
    * first day, the q_rfm reproducibility rule), age = weeks since that
    * first day, cumulative exact integer-cent revenue per (cohort, age)
    * divided by the cohort's user count — the monetary twin of
    * q_cohort_retention. The cumulative window runs on the bounded
    * (cohort × age) grid (weeks², metadata-scale); the fact grain
    * crosses one user-grain first-day aggregate and one rollup.
    *
    * Scale: the user→first-day join is an equi-join on the user key —
    * AQE picks broadcast only while the user dim fits; at billions of
    * users it is the same shuffle a sessionize pays. */
  def cohortLtv(df: DataFrame, userCol: String, tsCol: String,
                valCol: String): DataFrame = {
    val ev = df.select(col(userCol).as("user"), dayOf(tsCol).as("day"),
      centsOf(valCol).as("cents"))
    val first = ev.groupBy("user").agg(min(col("day")).as("d0"))
    val anchor = first.agg(min(col("d0")).as("a0"))
    val cohorts = first.crossJoin(broadcast(anchor))
      .select(col("user"),
        (datediff(col("d0"), col("a0")).cast("long") / lit(7L))
          .cast("long").as("cohort_week"), col("d0"))
    val sizes = cohorts.groupBy("cohort_week")
      .agg(count(lit(1)).as("n_users"))
    val cells = ev.join(cohorts, "user")
      .withColumn("age_week",
        (datediff(col("day"), col("d0")).cast("long") / lit(7L))
          .cast("long"))
      .groupBy("cohort_week", "age_week").agg(sum(col("cents")).as("c"))
    val wCum = Window.partitionBy("cohort_week").orderBy("age_week")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells
      .withColumn("cum", sum(col("c")).over(wCum))
      .join(broadcast(sizes), "cohort_week")
      .select(col("cohort_week"), col("age_week"), col("n_users"),
        rnd(col("c").cast("double") / 100.0, 2).as("revenue"),
        rnd((col("cum").cast("double") / col("n_users").cast("double"))
          / 100.0, 4).as("cum_ltv_per_user"))
  }

  def qCohortLtv(spark: SparkSession, dir: String): DataFrame =
    cohortLtv(Tables.events(spark, dir), "user_id", "ts", "value")
      .orderBy("cohort_week", "age_week")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_twap" -> qTwap _,
    "q_interarrival" -> qInterarrival _,
    "q_streaks" -> qStreaks _,
    "q_completeness" -> qCompleteness _,
    "q_cohort_ltv" -> qCohortLtv _,
    "q_funnel_timebound" -> qFunnelTimebound _,
    "q_rfm" -> qRfm _,
    "q_transition_matrix" -> qTransitionMatrix _,
    "q_cohort_retention" -> qCohortRetention _,
    "q_funnel_sequence" -> qFunnelSequence _,
    "q_resample_ffill" -> qResampleFfill _,
    "q_interpolate" -> qInterpolate _,
    "q_seasonal_baseline" -> qSeasonalBaseline _,
    "q_rolling_median" -> qRollingMedian _,
    "q_latency_bands" -> qLatencyBands _,
    "q_lift_pairs" -> qLiftPairs _,
    "q_pagerank" -> qPagerank _,
    "q_ohlc_resample" -> qOhlcResample _,
    "q_lag_lead" -> qLagLead _,
    "q_rolling_mean" -> qRollingMean _,
    "q_rolling_std" -> qRollingStd _,
    "q_rsi" -> qRsi _,
    "q_momentum" -> qMomentum _,
    "q_spike" -> qSpike _,
    "q_macd" -> qMacd _,
    "q_ffill" -> qFfill _,
    "q_diff_global" -> qDiffGlobal _,
    "q_diff_chunked" -> qDiffChunked _,
    "q_crossover" -> qCrossover _,
    "q_running_sum" -> qRunningSum _,
    "q_ranked" -> qRanked _,
    "q_zscore_anomaly" -> qZscoreAnomaly _,
    "q_anomaly_daily" -> qAnomalyDaily _,
    "q_threshold_alert" -> qThresholdAlert _,
    "q_salted_rolling" -> qSaltedRolling _,
    "q_event_json" -> qEventJson _,
    "q_ml_features" -> qMlFeatures _,
  )

  private val DiffGlobalSql =
    """SELECT event_id,
      |  floor((value - lag(value, 1) OVER (ORDER BY ts, event_id)) * 1e2 + 0.5) / 1e2 AS diff,
      |  floor(((value - lag(value, 1) OVER (ORDER BY ts, event_id))
      |      / nullif(lag(value, 1) OVER (ORDER BY ts, event_id), 0) * 100) * 1e4 + 0.5) / 1e4 AS pct_change
      |FROM events ORDER BY event_id""".stripMargin

  val oracles: Map[String, String] = Map(
    // integer/date outputs only — the coverage percent is the floor of
    // an exact-integer ratio, identical on both engines by construction
    "q_completeness" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY event_type, CAST(ts AS DATE)),
        |g AS (
        |  SELECT event_type, day, n,
        |    CAST(date_diff('day',
        |      lag(day) OVER (PARTITION BY event_type ORDER BY day), day) - 1
        |      AS BIGINT) AS gap
        |  FROM daily),
        |a AS (
        |  SELECT event_type, CAST(sum(n) AS BIGINT) AS n_events,
        |    min(day) AS first_day, max(day) AS last_day,
        |    CAST(count(*) AS BIGINT) AS active_days,
        |    CAST(coalesce(max(gap), 0) AS BIGINT) AS longest_gap_days
        |  FROM g GROUP BY event_type)
        |SELECT event_type, n_events, first_day, last_day,
        |  CAST(date_diff('day', first_day, last_day) + 1 AS BIGINT)
        |    AS span_days,
        |  active_days,
        |  CAST(date_diff('day', first_day, last_day) + 1 - active_days
        |    AS BIGINT) AS missing_days,
        |  CAST(floor(CAST(active_days * 100 AS DOUBLE)
        |    / CAST(date_diff('day', first_day, last_day) + 1 AS DOUBLE))
        |    AS BIGINT) AS coverage_pct,
        |  longest_gap_days
        |FROM a ORDER BY event_type""".stripMargin,
    // same anchors, integer week arithmetic, bounded cumulative window
    "q_cohort_ltv" ->
      """WITH ev AS (
        |  SELECT user_id AS u, CAST(ts AS DATE) AS day,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events),
        |f AS (SELECT u, min(day) AS d0 FROM ev GROUP BY u),
        |a AS (SELECT min(d0) AS a0 FROM f),
        |co AS (
        |  SELECT u, CAST(date_diff('day', a0, d0) AS BIGINT) // 7
        |    AS cohort_week, d0
        |  FROM f, a),
        |sz AS (SELECT cohort_week, CAST(count(*) AS BIGINT) AS n_users
        |  FROM co GROUP BY cohort_week),
        |cells AS (
        |  SELECT cohort_week,
        |    CAST(date_diff('day', d0, day) AS BIGINT) // 7 AS age_week,
        |    CAST(sum(cents) AS BIGINT) AS c
        |  FROM ev JOIN co ON ev.u = co.u GROUP BY 1, 2),
        |w AS (
        |  SELECT cohort_week, age_week, c,
        |    sum(c) OVER (PARTITION BY cohort_week ORDER BY age_week
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM cells)
        |SELECT w.cohort_week, age_week, n_users,
        |  floor((CAST(c AS DOUBLE) / 100.0) * 1e2 + 0.5) / 1e2 AS revenue,
        |  floor(((CAST(cum AS DOUBLE) / CAST(n_users AS DOUBLE)) / 100.0)
        |    * 1e4 + 0.5) / 1e4 AS cum_ltv_per_user
        |FROM w JOIN sz USING (cohort_week)
        |ORDER BY cohort_week, age_week""".stripMargin,
    // chained first-touch stage CTEs with the same nano gap literal
    "q_funnel_timebound" ->
      s"""WITH ev AS (
         |  SELECT user_id AS u, event_type AS et, epoch_us(ts) * 1000 AS t
         |  FROM events),
         |s1 AS (SELECT u, min(t) AS t1 FROM ev WHERE et = 'signup' GROUP BY u),
         |s2 AS (
         |  SELECT ev.u, min(t) AS t2 FROM ev JOIN s1 ON ev.u = s1.u
         |  WHERE et = 'click' AND t > t1 AND t - t1 <= $FunnelGapNs
         |  GROUP BY ev.u),
         |s3 AS (
         |  SELECT ev.u, min(t) AS t3 FROM ev JOIN s2 ON ev.u = s2.u
         |  WHERE et = 'purchase' AND t > t2 AND t - t2 <= $FunnelGapNs
         |  GROUP BY ev.u)
         |SELECT 1 AS stage, 'signup' AS event_type,
         |  CAST(count(*) AS BIGINT) AS n_users FROM s1
         |UNION ALL SELECT 2, 'click', CAST(count(*) AS BIGINT) FROM s2
         |UNION ALL SELECT 3, 'purchase', CAST(count(*) AS BIGINT) FROM s3
         |ORDER BY stage""".stripMargin,
    // exact integer rank quintiles (the quantile_buckets formula) over
    // the user-grain rollup; identical tiebreaks and anchors
    "q_rfm" ->
      s"""WITH per AS (
         |  SELECT user_id AS u, max(CAST(ts AS DATE)) AS last_day,
         |    CAST(count(*) AS BIGINT) AS freq,
         |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         |      AS cents
         |  FROM events GROUP BY user_id),
         |a AS (SELECT max(last_day) AS anchor FROM per),
         |b AS (
         |  SELECT per.*,
         |    CAST(date_diff('day', last_day, anchor) AS INT) AS rec_days
         |  FROM per, a),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM b),
         |r AS (
         |  SELECT b.*,
         |    row_number() OVER (ORDER BY rec_days DESC, u) AS rn_r,
         |    row_number() OVER (ORDER BY freq, u) AS rn_f,
         |    row_number() OVER (ORDER BY cents, u) AS rn_m
         |  FROM b),
         |s AS (
         |  SELECT cents,
         |    CAST(((CAST(rn_r - 1 AS BIGINT) * $RfmQ) // n) + 1 AS INT) AS r_score,
         |    CAST(((CAST(rn_f - 1 AS BIGINT) * $RfmQ) // n) + 1 AS INT) AS f_score,
         |    CAST(((CAST(rn_m - 1 AS BIGINT) * $RfmQ) // n) + 1 AS INT) AS m_score
         |  FROM r, n)
         |SELECT r_score, f_score, m_score,
         |  CAST(count(*) AS BIGINT) AS n_users,
         |  floor(((CAST(CAST(sum(cents) AS BIGINT) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE)) / 100.0) * 1e4 + 0.5) / 1e4
         |    AS avg_spend
         |FROM s GROUP BY r_score, f_score, m_score
         |ORDER BY r_score, f_score, m_score""".stripMargin,
    // identical lag/tiebreak window; gaps in exact integer ms (the
    // twap dms idiom); exact moment sums, mirrored mean/cv expressions
    "q_interarrival" ->
      """WITH g AS (
        |  SELECT event_type,
        |    (epoch_us(ts) - epoch_us(lag(ts, 1) OVER
        |      (PARTITION BY event_type ORDER BY ts, event_id))) // 1000 AS g
        |  FROM events),
        |f AS (SELECT event_type, g FROM g WHERE g IS NOT NULL),
        |a AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
        |    CAST(sum(g) AS BIGINT) AS sg,
        |    CAST(sum(g * g) AS BIGINT) AS sgg,
        |    quantile_cont(g, 0.5) AS median_gap_ms
        |  FROM f GROUP BY event_type)
        |SELECT event_type, n_gaps,
        |  floor((CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE)) * 1e3 + 0.5)
        |    / 1e3 AS mean_gap_ms,
        |  median_gap_ms,
        |  CASE WHEN n_gaps > 1 AND sg > 0 THEN
        |    floor((sqrt(greatest(CAST(0.0 AS DOUBLE),
        |        (CAST(n_gaps AS DOUBLE) * CAST(sgg AS DOUBLE)
        |          - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE))
        |        / (CAST(n_gaps AS DOUBLE) * (CAST(n_gaps AS DOUBLE) - 1.0))))
        |      / (CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE)))
        |      * 1e4 + 0.5) / 1e4
        |  END AS cv
        |FROM a ORDER BY event_type""".stripMargin,
    // identical lead/tiebreak window; dms in exact integer ms (Spark's
    // nano div 1e6 == Duck's micro div 1e3, the source grain is micro)
    "q_twap" ->
      """WITH ev AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, ts, event_id,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events),
        |l AS (
        |  SELECT event_type, day, cents,
        |    (epoch_us(lead(ts, 1) OVER (PARTITION BY event_type, day
        |        ORDER BY ts, event_id)) - epoch_us(ts)) // 1000 AS dms
        |  FROM ev),
        |g AS (
        |  SELECT event_type, day, count(*) AS n_events,
        |    CAST(sum(cents * dms) AS BIGINT) AS num,
        |    CAST(sum(dms) AS BIGINT) AS den
        |  FROM l GROUP BY event_type, day)
        |SELECT event_type, day, n_events,
        |  CASE WHEN den > 0 THEN
        |    floor(((CAST(num AS DOUBLE) / CAST(den AS DOUBLE)) / 100.0)
        |      * 1e4 + 0.5) / 1e4 END AS twap
        |FROM g ORDER BY event_type, day""".stripMargin,
    // gaps-and-islands: day minus row_number anchors each run
    "q_streaks" ->
      """WITH days AS (
        |  SELECT DISTINCT user_id AS "user", CAST(ts AS DATE) AS day
        |  FROM events),
        |r AS (
        |  SELECT "user", day,
        |    day - CAST(row_number() OVER (PARTITION BY "user"
        |      ORDER BY day) AS INT) AS anchor
        |  FROM days),
        |i AS (
        |  SELECT "user", anchor, CAST(count(*) AS BIGINT) AS len
        |  FROM r GROUP BY "user", anchor),
        |g AS (
        |  SELECT "user", CAST(max(len) AS BIGINT) AS best_streak,
        |    CAST(sum(len) AS BIGINT) AS n_active_days
        |  FROM i GROUP BY "user")
        |SELECT "user", best_streak, n_active_days
        |FROM g ORDER BY best_streak DESC, "user" LIMIT 20""".stripMargin,
    // open/close via row_number on the same (epoch_ns, event_id) order
    // as Spark's min_by/max_by struct (ts is the epoch-nano long on
    // the Spark side — identical grain, tie handling cannot diverge)
    // HUGEINT row-total cast per invariant 1; p is the exact rational
    // n/tot in one double division on both sides
    "q_transition_matrix" ->
      """WITH pairs AS (
        |  SELECT lag(event_type, 1) OVER (PARTITION BY user_id
        |           ORDER BY epoch_ns(ts), event_id) AS prev,
        |    event_type AS next
        |  FROM events),
        |c AS (
        |  SELECT prev, next, count(*) AS n FROM pairs
        |  WHERE prev IS NOT NULL GROUP BY prev, next),
        |t AS (SELECT prev, CAST(sum(n) AS BIGINT) AS tot FROM c GROUP BY prev)
        |SELECT c.prev, c.next, c.n,
        |  floor((c.n / CAST(t.tot AS DOUBLE)) * 1e4 + 0.5) / 1e4 AS p
        |FROM c JOIN t ON c.prev = t.prev
        |ORDER BY c.prev, next""".stripMargin,
    "q_cohort_retention" ->
      """WITH f AS (
        |  SELECT user_id, min(CAST(ts AS DATE)) AS cohort
        |  FROM events GROUP BY user_id),
        |a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events)
        |SELECT f.cohort,
        |  CAST(date_diff('day', f.cohort, a.day) AS INT) AS day_offset,
        |  count(*) AS n_users
        |FROM a JOIN f ON a.user_id = f.user_id
        |GROUP BY f.cohort, day_offset
        |ORDER BY cohort, day_offset""".stripMargin,
    // the strictly-sequenced stage mins, chained exactly like the
    // Spark joins; ts compares as the raw epoch-nano long on the Spark
    // side and native timestamp here — same total order either way
    "q_funnel_sequence" ->
      """WITH s1 AS (
        |  SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'click' GROUP BY user_id),
        |s2 AS (
        |  SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'view' AND e.ts > s1.t1 GROUP BY e.user_id),
        |s3 AS (
        |  SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id),
        |n AS (
        |  SELECT 1 AS stage, 'click' AS name, (SELECT count(*) FROM s1) AS n
        |  UNION ALL
        |  SELECT 2, 'view_after_click', (SELECT count(*) FROM s2)
        |  UNION ALL
        |  SELECT 3, 'purchase_after_view', (SELECT count(*) FROM s3))
        |SELECT stage, name, n,
        |  floor((n * 1.0 / (SELECT count(*) FROM s1)) * 1e4 + 0.5) / 1e4 AS conv_from_entry
        |FROM n ORDER BY stage""".stripMargin,
    // same ranked-close idiom as q_ohlc_resample; the spine is
    // generate_series over the observed per-type hour range (identical
    // to Spark's integer-hour sequence by construction), and the
    // carry-forward is the q_ffill IGNORE NULLS window over spine rows
    "q_resample_ffill" ->
      s"""WITH ranked AS (
         |  SELECT event_type, date_trunc('hour', ts) AS b, value,
         |    row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
         |      ORDER BY epoch_ns(ts) DESC, event_id DESC) AS rn_d
         |  FROM events),
         |bu AS (
         |  SELECT event_type, b,
         |    max(CASE WHEN rn_d = 1 THEN value END) AS close,
         |    count(*) AS n_events
         |  FROM ranked GROUP BY event_type, b),
         |sp AS (
         |  SELECT event_type, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS b
         |  FROM (SELECT event_type, min(b) AS mn, max(b) AS mx FROM bu GROUP BY event_type)),
         |j AS (
         |  SELECT sp.event_type, sp.b, bu.n_events, bu.close
         |  FROM sp LEFT JOIN bu ON sp.event_type = bu.event_type AND sp.b = bu.b)
         |SELECT event_type,
         |  CAST(epoch_ns(b) AS BIGINT) // 3600000000000 AS bucket_hour,
         |  CAST(coalesce(n_events, 0) AS BIGINT) AS n_events,
         |  last_value(close IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY b
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS close_ffill
         |FROM j ORDER BY event_type, bucket_hour""".stripMargin,
    // the 3 power-iteration rounds are UNROLLED as chained CTEs with
    // the same fixed-order arithmetic per round; 0.15/5 forced through
    // DOUBLE division (DECIMAL/DECIMAL would yield a different double)
    "q_pagerank" -> {
      def round(prev: String, cur: String): String =
        s"""$cur AS (
           |  SELECT nodes.node,
           |    CAST(0.15 AS DOUBLE) / 5.0 + 0.85 * coalesce(m.mass, 0.0) AS score
           |  FROM nodes LEFT JOIN (
           |    SELECT e.next AS node, sum(e.pw * $prev.score) AS mass
           |    FROM e JOIN $prev ON e.prev = $prev.node GROUP BY e.next) m
           |  ON nodes.node = m.node)""".stripMargin
      s"""WITH pairs AS (
         |  SELECT lag(event_type, 1) OVER (PARTITION BY user_id
         |           ORDER BY epoch_ns(ts), event_id) AS prev,
         |    event_type AS next
         |  FROM events),
         |c AS (
         |  SELECT prev, next, count(*) AS n FROM pairs
         |  WHERE prev IS NOT NULL GROUP BY prev, next),
         |t AS (SELECT prev, CAST(sum(n) AS BIGINT) AS tot FROM c GROUP BY prev),
         |e AS (
         |  SELECT c.prev, c.next, CAST(c.n AS DOUBLE) / CAST(t.tot AS DOUBLE) AS pw
         |  FROM c JOIN t ON c.prev = t.prev),
         |nodes AS (
         |  SELECT DISTINCT prev AS node FROM e
         |  UNION SELECT DISTINCT next FROM e),
         |p0 AS (SELECT node, 1.0 / 5.0 AS score FROM nodes),
         |${round("p0", "p1")},
         |${round("p1", "p2")},
         |${round("p2", "p3")}
         |SELECT node AS event_type,
         |  floor(score * 1e6 + 0.5) / 1e6 AS pagerank
         |FROM p3 ORDER BY event_type""".stripMargin
    },
    // baskets/pairs/counts mirror the Spark shapes; every ratio is the
    // same fixed-order double expression over exact integer counts
    "q_lift_pairs" ->
      """WITH bask AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day, event_type
        |  FROM events),
        |nb AS (SELECT count(*) AS nb FROM (SELECT DISTINCT user_id, day FROM bask)),
        |item AS (SELECT event_type, count(*) AS cnt FROM bask GROUP BY event_type),
        |pairs AS (
        |  SELECT x.event_type AS type_a, y.event_type AS type_b,
        |    count(*) AS n_both
        |  FROM bask x JOIN bask y
        |    ON x.user_id = y.user_id AND x.day = y.day
        |    AND x.event_type < y.event_type
        |  GROUP BY type_a, type_b)
        |SELECT p.type_a, p.type_b, p.n_both,
        |  floor((CAST(p.n_both AS DOUBLE) / CAST(nb.nb AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS support,
        |  floor((CAST(p.n_both AS DOUBLE) / CAST(a.cnt AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS confidence,
        |  floor(((CAST(p.n_both AS DOUBLE) * CAST(nb.nb AS DOUBLE))
        |    / (CAST(a.cnt AS DOUBLE) * CAST(b.cnt AS DOUBLE))) * 1e6 + 0.5) / 1e6 AS lift
        |FROM pairs p
        |JOIN item a ON p.type_a = a.event_type
        |JOIN item b ON p.type_b = b.event_type
        |CROSS JOIN nb
        |ORDER BY type_a, type_b""".stripMargin,
    // the median is the same explicit sorted-list middle-element
    // arithmetic as the Spark side (list() as a frame aggregate +
    // list_sort), all-integer until the final /2.0 — no quantile_cont
    // interpolation shape to diverge on
    "q_rolling_median" ->
      s"""WITH c AS (
         |  SELECT event_id, user_id,
         |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents, ts
         |  FROM events),
         |f AS (
         |  SELECT event_id, user_id,
         |    list_sort(list(cents) FILTER (cents IS NOT NULL) OVER ($ORDER
         |      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)) AS cs,
         |    count(cents) OVER ($ORDER
         |      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS k
         |  FROM c)
         |SELECT event_id, user_id,
         |  CASE WHEN k > 0 THEN
         |    floor((((cs[CAST((k + 1) // 2 AS INT)] + cs[CAST((k // 2) + 1 AS INT)]) / 2.0)
         |      / 100.0) * 1e4 + 0.5) / 1e4 END AS med14
         |FROM f ORDER BY user_id, event_id""".stripMargin,
    // grouped exact percentiles vs quantile_cont — the q_profile recipe
    "q_latency_bands" ->
      s"""SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n,
         |  ${rndSql("quantile_cont(value, 0.5)", 4)} AS p50,
         |  ${rndSql("quantile_cont(value, 0.95)", 4)} AS p95,
         |  ${rndSql("quantile_cont(value, 0.99)", 4)} AS p99,
         |  max(value) AS max_value
         |FROM events GROUP BY event_type, day
         |ORDER BY event_type, day""".stripMargin,
    // same spine scaffold as q_resample_ffill, plus the backward-looking
    // window pair; the interpolation expression mirrors the Spark side
    // token-for-token (fixed IEEE order over identical inputs), and the
    // hour deltas are exact integers on both sides
    "q_interpolate" ->
      """WITH ranked AS (
        |  SELECT event_type, date_trunc('hour', ts) AS b, value,
        |    row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
        |      ORDER BY epoch_ns(ts) DESC, event_id DESC) AS rn_d
        |  FROM events),
        |bu AS (
        |  SELECT event_type, b,
        |    max(CASE WHEN rn_d = 1 THEN value END) AS close
        |  FROM ranked GROUP BY event_type, b),
        |sp AS (
        |  SELECT event_type, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS b
        |  FROM (SELECT event_type, min(b) AS mn, max(b) AS mx FROM bu GROUP BY event_type)),
        |j AS (
        |  SELECT sp.event_type, sp.b, bu.close
        |  FROM sp LEFT JOIN bu ON sp.event_type = bu.event_type AND sp.b = bu.b),
        |k AS (
        |  SELECT event_type, b, close,
        |    last_value(close IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY b
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        |    last_value(CASE WHEN close IS NOT NULL THEN b END IGNORE NULLS)
        |      OVER (PARTITION BY event_type ORDER BY b
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pb,
        |    first_value(close IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY b
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        |    first_value(CASE WHEN close IS NOT NULL THEN b END IGNORE NULLS)
        |      OVER (PARTITION BY event_type ORDER BY b
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nb
        |  FROM j)
        |SELECT event_type,
        |  CAST(epoch_ns(b) AS BIGINT) // 3600000000000 AS bucket_hour,
        |  (close IS NOT NULL) AS observed,
        |  floor((CASE WHEN close IS NOT NULL THEN close
        |    ELSE pv + (nv - pv) * (CAST(date_diff('hour', pb, b) AS DOUBLE)
        |        / CAST(date_diff('hour', pb, nb) AS DOUBLE)) END) * 1e4 + 0.5) / 1e4
        |    AS value_interp
        |FROM k ORDER BY event_type, bucket_hour""".stripMargin,
    // exact integer-cent moment sums (Σc fits DOUBLE exactly below 2^53;
    // Σc² computed and summed as BIGINT, cast once) derived in the same
    // fixed-order double expression as the Spark side; DuckDB dayofweek
    // is 0=Sunday, Spark's is 1=Sunday — the +1 aligns them
    "q_seasonal_baseline" ->
      s"""WITH ev AS (
        |  SELECT event_type, value,
        |    CAST(dayofweek(ts) AS INT) + 1 AS dow,
        |    CAST(EXTRACT(hour FROM ts) AS INT) AS hod,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events),
        |grid AS (
        |  SELECT event_type, dow, hod, count(*) AS n,
        |    CAST(sum(cents) AS BIGINT) AS sumc,
        |    CAST(sum(cents * cents) AS BIGINT) AS sumsq
        |  FROM ev GROUP BY event_type, dow, hod),
        |stats AS (
        |  SELECT event_type, dow, hod, n,
        |    ${meanFromCentsSql("n", "sumc")} AS mean_v,
        |    CASE WHEN n >= 2
        |      THEN sqrt(${varFromCentsSql("n", "sumc", "sumsq")}) END AS std_v
        |  FROM grid),
        |anom AS (
        |  SELECT ev.event_type, ev.dow, ev.hod, count(*) AS n_anom
        |  FROM ev JOIN stats ON ev.event_type = stats.event_type
        |    AND ev.dow = stats.dow AND ev.hod = stats.hod
        |  WHERE stats.n >= 2 AND stats.std_v > 0.0
        |    AND abs(ev.value - stats.mean_v) > 3.0 * stats.std_v
        |  GROUP BY ev.event_type, ev.dow, ev.hod)
        |SELECT s.event_type, s.dow, s.hod, s.n,
        |  floor(s.mean_v * 1e4 + 0.5) / 1e4 AS mean_value,
        |  floor(s.std_v * 1e4 + 0.5) / 1e4 AS std_value,
        |  CAST(coalesce(a.n_anom, 0) AS BIGINT) AS n_anomalies
        |FROM stats s LEFT JOIN anom a ON s.event_type = a.event_type
        |  AND s.dow = a.dow AND s.hod = a.hod
        |ORDER BY s.event_type, s.dow, s.hod""".stripMargin,
    "q_ohlc_resample" ->
      s"""WITH ranked AS (
         |  SELECT event_type, date_trunc('hour', ts) AS b, value,
         |    row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
         |      ORDER BY epoch_ns(ts), event_id) AS rn_a,
         |    row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
         |      ORDER BY epoch_ns(ts) DESC, event_id DESC) AS rn_d
         |  FROM events)
         |SELECT event_type,
         |  CAST(epoch_ns(b) AS BIGINT) // 3600000000000 AS bucket_hour,
         |  max(CASE WHEN rn_a = 1 THEN value END) AS open,
         |  max(value) AS high, min(value) AS low,
         |  max(CASE WHEN rn_d = 1 THEN value END) AS close,
         |  count(*) AS n_events,
         |  ${rndSql("sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) / 100.0", 2)} AS volume
         |FROM ranked GROUP BY event_type, b
         |ORDER BY event_type, bucket_hour""".stripMargin,
    "q_lag_lead" ->
      s"""SELECT event_id, user_id, value,
         |  lag(value, 1) OVER ($ORDER) AS lag1,
         |  lag(value, 3) OVER ($ORDER) AS lag3,
         |  lag(value, 5) OVER ($ORDER) AS lag5,
         |  lead(value, 1) OVER ($ORDER) AS next_value
         |FROM events ORDER BY user_id, event_id""".stripMargin,
    "q_rolling_mean" ->
      s"""SELECT event_id, user_id,
         |  floor((${centsAvgSql("value", "5 PRECEDING AND 1 PRECEDING")}) * 1e4 + 0.5) / 1e4 AS ma5,
         |  floor((${centsAvgSql("value", "20 PRECEDING AND 1 PRECEDING")}) * 1e4 + 0.5) / 1e4 AS ma20
         |FROM events ORDER BY user_id, event_id""".stripMargin,
    "q_rolling_std" ->
      s"""SELECT event_id, user_id,
         |  floor((stddev_samp(value) OVER ($ORDER ROWS BETWEEN 14 PRECEDING AND 1 PRECEDING)) * 1e4 + 0.5) / 1e4 AS volatility14
         |FROM events ORDER BY user_id, event_id""".stripMargin,
    "q_rsi" ->
      s"""WITH d AS (
         |  SELECT event_id, user_id, ts,
         |    CASE WHEN value - lag(value, 1) OVER ($ORDER) > 0
         |      THEN CAST(round((value - lag(value, 1) OVER ($ORDER)) * 100) AS BIGINT)
         |      ELSE 0 END AS gain_c,
         |    CASE WHEN value - lag(value, 1) OVER ($ORDER) < 0
         |      THEN CAST(round(-(value - lag(value, 1) OVER ($ORDER)) * 100) AS BIGINT)
         |      ELSE 0 END AS loss_c
         |  FROM events),
         |g AS (
         |  SELECT event_id, user_id,
         |    sum(gain_c) OVER ($ORDER ROWS BETWEEN 14 PRECEDING AND 1 PRECEDING)
         |      / (count(gain_c) OVER ($ORDER ROWS BETWEEN 14 PRECEDING AND 1 PRECEDING) * 100.0) AS avg_gain,
         |    sum(loss_c) OVER ($ORDER ROWS BETWEEN 14 PRECEDING AND 1 PRECEDING)
         |      / (count(loss_c) OVER ($ORDER ROWS BETWEEN 14 PRECEDING AND 1 PRECEDING) * 100.0) AS avg_loss
         |  FROM d)
         |SELECT event_id, user_id,
         |  floor((100.0 - 100.0 / (1.0 + avg_gain / (avg_loss + 1e-6))) * 1e4 + 0.5) / 1e4 AS rsi14
         |FROM g ORDER BY user_id, event_id""".stripMargin,
    "q_momentum" ->
      s"""SELECT event_id, user_id,
         |  floor((value - lag(value, 3) OVER ($ORDER)) * 1e2 + 0.5) / 1e2 AS mom3,
         |  floor((value / lag(value, 5) OVER ($ORDER) - 1) * 1e4 + 0.5) / 1e4 AS mom5_pct
         |FROM events ORDER BY user_id, event_id""".stripMargin,
    "q_spike" ->
      s"""SELECT event_id, user_id,
         |  CASE WHEN value > 1.5 * ${centsAvgSql("value", "5 PRECEDING AND 1 PRECEDING")}
         |  THEN 1 ELSE 0 END AS spike
         |FROM events ORDER BY user_id, event_id""".stripMargin,
    "q_macd" ->
      s"""SELECT event_id, user_id,
         |  floor((${centsAvgSql("value", "12 PRECEDING AND CURRENT ROW")}
         |      - ${centsAvgSql("value", "26 PRECEDING AND CURRENT ROW")}) * 1e4 + 0.5) / 1e4 AS macd
         |FROM events ORDER BY user_id, event_id""".stripMargin,
    "q_ffill" ->
      s"""SELECT event_id, user_id,
         |  last_value(CASE WHEN event_type = 'error' THEN NULL ELSE value END IGNORE NULLS)
         |    OVER ($ORDER ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
         |FROM events ORDER BY user_id, event_id""".stripMargin,
    "q_diff_global" -> DiffGlobalSql,
    // the chunked twin shares the oracle VERBATIM — cross-engine
    // equality against the total-order form is exactly the property
    // the chunk stitch must prove
    "q_diff_chunked" -> DiffGlobalSql,
    "q_crossover" ->
      s"""WITH s AS (
         |  SELECT event_id, user_id, ts,
         |    CASE WHEN ${centsAvgSql("value", "5 PRECEDING AND 1 PRECEDING")}
         |            > ${centsAvgSql("value", "20 PRECEDING AND 1 PRECEDING")}
         |    THEN 1 ELSE 0 END AS signal
         |  FROM events),
         |p AS (
         |  SELECT event_id, user_id, signal,
         |    lag(signal, 1) OVER ($ORDER) AS prev_signal
         |  FROM s)
         |SELECT event_id, user_id, signal FROM p
         |WHERE prev_signal IS NOT NULL AND signal != prev_signal
         |ORDER BY user_id, event_id""".stripMargin,
    "q_running_sum" ->
      s"""SELECT event_id, user_id,
         |  floor((sum(value) OVER ($ORDER ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) * 1e2 + 0.5) / 1e2 AS cum_value,
         |  row_number() OVER ($ORDER) AS rn
         |FROM events ORDER BY user_id, event_id""".stripMargin,
    "q_ranked" ->
      """SELECT event_id, user_id, value, rn, rk, drk FROM (
        |  SELECT event_id, user_id, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rn,
        |    rank() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rk,
        |    dense_rank() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS drk
        |  FROM events) WHERE rn <= 3 ORDER BY user_id, rn""".stripMargin,
    "q_zscore_anomaly" ->
      """SELECT event_id, value, floor((z) * 1e4 + 0.5) / 1e4 AS z FROM (
        |  SELECT event_id, value,
        |    (value - s.mu) / nullif(s.sigma, 0) AS z
        |  FROM events,
        |    (SELECT sum(CAST(round(value * 100) AS BIGINT)) / (count(value) * 100.0) AS mu,
        |            stddev_pop(value) AS sigma FROM events) s)
        |WHERE abs(z) > 3 ORDER BY event_id""".stripMargin,
    "q_anomaly_daily" ->
      """SELECT CAST(ts AS DATE) AS day, count(*) AS n_anomalies
        |FROM events,
        |  (SELECT sum(CAST(round(value * 100) AS BIGINT)) / (count(value) * 100.0) AS mu,
        |          stddev_pop(value) AS sigma FROM events) s
        |WHERE abs((value - s.mu) / nullif(s.sigma, 0)) > 3
        |GROUP BY 1 ORDER BY day""".stripMargin,
    "q_threshold_alert" ->
      s"""SELECT event_id, user_id, floor((pct) * 1e4 + 0.5) / 1e4 AS pct FROM (
         |  SELECT event_id, user_id,
         |    (value - lag(value, 1) OVER ($ORDER))
         |      / nullif(lag(value, 1) OVER ($ORDER), 0) * 100 AS pct
         |  FROM events) WHERE pct > 5 ORDER BY user_id, event_id""".stripMargin,
    "q_salted_rolling" ->
      """SELECT event_id, user_id,
        |  floor((sum(value) OVER (PARTITION BY user_id ORDER BY ts
        |    RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)) * 1e4 + 0.5) / 1e4
        |    AS rolling_sum
        |FROM events ORDER BY user_id, event_id""".stripMargin,
    "q_event_json" ->
      """WITH j AS (
        |  SELECT event_type,
        |    CASE WHEN json_valid(props)
        |      AND regexp_matches(coalesce(json_extract_string(props, '$.k'), ''), '^-?[0-9]+$') THEN
        |      TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) END AS k
        |  FROM events)
        |SELECT event_type,
        |  floor((sum(k) / (count(k) * 1.0)) * 1e4 + 0.5) / 1e4 AS avg_k,
        |  count(*) AS cnt
        |FROM j GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_ml_features" ->
      s"""WITH d AS (
         |  SELECT event_id, user_id, ts, value,
         |    CASE WHEN value - lag(value, 1) OVER ($ORDER) > 0
         |      THEN CAST(round((value - lag(value, 1) OVER ($ORDER)) * 100) AS BIGINT)
         |      ELSE 0 END AS gain_c,
         |    CASE WHEN value - lag(value, 1) OVER ($ORDER) < 0
         |      THEN CAST(round(-(value - lag(value, 1) OVER ($ORDER)) * 100) AS BIGINT)
         |      ELSE 0 END AS loss_c
         |  FROM events WHERE user_id < 20),
         |f AS (
         |  SELECT event_id, user_id, value,
         |    lag(value, 1) OVER ($ORDER) AS lag1,
         |    lag(value, 3) OVER ($ORDER) AS lag3,
         |    floor((${centsAvgSql("value", "5 PRECEDING AND 1 PRECEDING")}) * 1e4 + 0.5) / 1e4 AS ma5,
         |    floor((stddev_samp(value) OVER ($ORDER ROWS BETWEEN 14 PRECEDING AND 1 PRECEDING)) * 1e4 + 0.5) / 1e4 AS volatility14,
         |    floor((100.0 - 100.0 / (1.0 +
         |      (sum(gain_c) OVER ($ORDER ROWS BETWEEN 14 PRECEDING AND 1 PRECEDING)
         |        / (count(gain_c) OVER ($ORDER ROWS BETWEEN 14 PRECEDING AND 1 PRECEDING) * 100.0))
         |      / ((sum(loss_c) OVER ($ORDER ROWS BETWEEN 14 PRECEDING AND 1 PRECEDING)
         |        / (count(loss_c) OVER ($ORDER ROWS BETWEEN 14 PRECEDING AND 1 PRECEDING) * 100.0)) + 1e-6))) * 1e4 + 0.5) / 1e4 AS rsi14,
         |    floor((value - lag(value, 3) OVER ($ORDER)) * 1e2 + 0.5) / 1e2 AS mom3,
         |    floor((${centsAvgSql("value", "12 PRECEDING AND CURRENT ROW")}
         |        - ${centsAvgSql("value", "26 PRECEDING AND CURRENT ROW")}) * 1e4 + 0.5) / 1e4 AS macd,
         |    CASE WHEN value > 1.5 * ${centsAvgSql("value", "5 PRECEDING AND 1 PRECEDING")}
         |    THEN 1 ELSE 0 END AS spike,
         |    lead(value, 1) OVER ($ORDER) AS next_value
         |  FROM d)
         |SELECT * FROM f ORDER BY user_id, event_id""".stripMargin,
  )
}
