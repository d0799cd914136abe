package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.Ingest
import graft.streaming.Ingest.{Event, PctAlert}

/** Streaming semantics (SURVEY §2.9 / §5.7): MemoryStream-driven day
  * dedup under out-of-order batches, threshold alerts, and the stateful
  * per-user percent-change alert. */
/** Raw ingest row for the quarantine-sink specs: Option fields so a
  * MemoryStream can carry NULLs (Event's non-nullable longs can't);
  * top-level because Spark can't derive encoders for method-local
  * case classes. */
case class RawEvent(event_id: Option[Long], ts: Option[Long],
                    user_id: Option[Long], event_type: String, value: Option[Double])

class StreamingSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._
  implicit private val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val DayNs = 86400L * 1000000000L

  private def ev(id: Long, day: Long, user: Long, v: Double, offNs: Long = 0L) =
    Event(id, day * DayNs + offNs, user, "view", v)

  /** transformWithState requires the RocksDB state store provider (read
    * at query start); save/set/restore around `f`. */
  private def withRocksDBProvider(f: => Unit): Unit = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try f finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None => spark.conf.unset(key)
    }
  }

  test("Scd2Stream maintains a versioned history table across micro-batches") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    val tmp = java.nio.file.Files.createTempDirectory("graft-scd2-stream")
    val tablePath = s"$tmp/dim"
    val initial = Seq((1L, "a")).toDF("k", "attr")
      .select($"k", $"attr",
        to_date(lit("2024-01-01")).as("valid_from"),
        expr("CAST(NULL AS DATE)").as("valid_to"),
        lit(true).as("is_current"))
    val dates = Map(0L -> "2024-06-01", 1L -> "2024-07-01")
    val src = MemoryStream[(Long, String, Long)] // (k, attr, seq)
    val q = graft.streaming.Scd2Stream.startMerge(
      src.toDF().toDF("k", "attr", "seq"), tablePath, Seq("k"), "seq",
      initial, checkpoint = s"$tmp/ckpt",
      trigger = Trigger.ProcessingTime(0L),
      batchDateOf = id => to_date(lit(dates(id))))
    try {
      // batch 0: key 1 changes twice in one batch (seq 2 wins) — one
      // close + one reopen, not two
      src.addData((1L, "b0", 1L), (1L, "b", 2L))
      q.processAllAvailable()
      val v0 = graft.streaming.Scd2Stream.latestSnapshot(spark, tablePath).get
      assert(v0.count() == 2)
      assert(v0.filter($"is_current" && $"attr" === "b").count() == 1)
      // batch 1: key 1 changes again + brand-new key 9
      src.addData((1L, "c", 3L), (9L, "x", 4L))
      q.processAllAvailable()
      val v1 = graft.streaming.Scd2Stream.latestSnapshot(spark, tablePath).get
      val hist = v1.select($"k", $"attr", $"valid_to".cast("string"), $"is_current")
        .as[(Long, String, String, Boolean)].collect().toSet
      assert(hist == Set(
        (1L, "a", "2024-06-01", false),
        (1L, "b", "2024-07-01", false),
        (1L, "c", null, true),
        (9L, "x", null, true)))
    } finally {
      q.stop()
      graft.IoUtil.deleteRecursively(tmp)
    }
  }

  test("dedupDaily keeps one event per user per day across batches") {
    val src = MemoryStream[Event]
    val q = Ingest.dedupDaily(src.toDF(), watermark = "10 days")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append).start()
    try {
      src.addData(ev(1, 1, 7, 10.0), ev(2, 1, 7, 11.0, 3600L * 1000000000L)) // same user+day
      q.processAllAvailable()
      src.addData(ev(3, 1, 7, 12.0, 7200L * 1000000000L)) // dup in later batch
      src.addData(ev(4, 2, 7, 13.0), ev(5, 1, 8, 14.0))   // new day, new user
      q.processAllAvailable()
      val got = spark.table("dedup_out").select("event_id").as[Long].collect().toSet
      assert(got.contains(1L) && got.contains(4L) && got.contains(5L))
      assert(!got.contains(2L) && !got.contains(3L), s"duplicates leaked: $got")
    } finally q.stop()
  }

  test("threshold alerts fire only above the threshold") {
    val src = MemoryStream[Event]
    val q = Ingest.thresholdAlerts(src.toDF(), threshold = 100.0)
      .writeStream.format("memory").queryName("alert_out")
      .outputMode(OutputMode.Append).start()
    try {
      src.addData(ev(1, 1, 1, 50.0), ev(2, 1, 2, 150.0), ev(3, 1, 3, 100.0))
      q.processAllAvailable()
      val got = spark.table("alert_out").select("event_id").as[Long].collect().toSet
      assert(got == Set(2L))
    } finally q.stop()
  }

  test("stateful pct-change alert tracks per-user state across batches") {
    val src = MemoryStream[Event]
    val q = Ingest.statefulPctAlerts(src.toDS(), pctThreshold = 5.0)
      .writeStream.format("memory").queryName("pct_out")
      .outputMode(OutputMode.Append).start()
    try {
      src.addData(ev(1, 1, 1, 100.0), ev(2, 1, 1, 104.0, 1000L)) // +4% no alert
      q.processAllAvailable()
      src.addData(ev(3, 1, 1, 120.0, 2000L)) // +15.4% vs state 104 → alert
      src.addData(ev(4, 1, 2, 100.0))        // first event, no alert
      q.processAllAvailable()
      val got = spark.table("pct_out").as[PctAlert].collect()
      assert(got.map(_.event_id).toSet == Set(3L))
      assert(math.abs(got.head.pct - (120.0 - 104.0) / 104.0 * 100.0) < 1e-9)
    } finally q.stop()
  }

  test("typedEvents quarantines NULL-field rows; NULL event_type survives (hostile r18)") {
    // the Event encoding declares non-nullable longs/double — without
    // the boundary filter, .as[Event] over a NULL value throws
    // mid-batch and a streaming query restart-loops on the poisoned
    // batch. NULL event_type is a nullable String and must pass.
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(1L, 1000L, 7L, "view", 10.0),
        org.apache.spark.sql.Row(2L, 2000L, 7L, null, 11.0),
        org.apache.spark.sql.Row(3L, 3000L, 7L, "click", null),
        org.apache.spark.sql.Row(null, 4000L, 7L, "click", 12.0))),
      org.apache.spark.sql.types.StructType.fromDDL(
        "event_id LONG, ts LONG, user_id LONG, event_type STRING, value DOUBLE"))
    val got = Ingest.typedEvents(df).collect().sortBy(_.event_id)
    assert(got.map(_.event_id).toSeq == Seq(1L, 2L),
      s"NULL-measure/key rows must be quarantined, got ${got.toSeq}")
    assert(got(1).event_type == null, "NULL event_type must survive the boundary")
  }

  test("quarantinedEvents is the exact complement of typedEvents, with per-field reasons") {
    // the two sides derive from ONE contract predicate — every input
    // row must land on exactly one side, and the reason column must
    // name each missing field (multi-NULL rows carry a joined list)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(1L, 1000L, 7L, "view", 10.0),
        org.apache.spark.sql.Row(2L, 2000L, 7L, null, 11.0),
        org.apache.spark.sql.Row(3L, null, 7L, "click", null),
        org.apache.spark.sql.Row(null, 4000L, 7L, "click", 12.0),
        org.apache.spark.sql.Row(5L, 5000L, null, "tap", 13.0))),
      org.apache.spark.sql.types.StructType.fromDDL(
        "event_id LONG, ts LONG, user_id LONG, event_type STRING, value DOUBLE"))
    val typed = Ingest.typedEvents(df).collect().map(_.event_id).toSet
    val quarantined = Ingest.quarantinedEvents(df).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[String]("reason"))).toSet
    assert(typed == Set(1L, 2L), s"typed side wrong: $typed")
    assert(quarantined == Set(
      ("click", "null_ts,null_value"),
      ("click", "null_event_id"),
      ("tap", "null_user_id")), s"quarantine side wrong: $quarantined")
    assert(typed.size + quarantined.size == 5,
      "typed + quarantined must partition the input")
  }

  test("startQuarantineSink dead-letters poison across a kill-and-resume, no loss, no dupes") {
    // RawEvent (top-level): Option fields so the MemoryStream can carry
    // NULLs; toDF restores the raw ingest shape
    val src = MemoryStream[RawEvent]
    val tmp = java.nio.file.Files.createTempDirectory("graft-quarantine")
    val qPath = s"$tmp/deadletter"
    try {
      def start() = Ingest.startQuarantineSink(src.toDF(), qPath,
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L),
        checkpoint = s"$tmp/ckpt")
      val q1 = start()
      try {
        src.addData(
          RawEvent(Some(1L), Some(1000L), Some(7L), "view", Some(10.0)),
          RawEvent(Some(2L), None, Some(7L), "view", Some(11.0)))
        q1.processAllAvailable()
      } finally q1.stop()
      val q2 = start()
      try {
        src.addData(RawEvent(None, Some(3000L), Some(8L), "click", Some(12.0)))
        q2.processAllAvailable()
      } finally q2.stop()
      val got = spark.read.parquet(qPath)
        .select("event_id", "ts", "reason", "batch_id").collect()
        .map(r => (Option(r.get(0)), Option(r.get(1)), r.getAs[String]("reason")))
        .toSet
      // exactly the two poison rows — the good row never dead-letters,
      // the pre-kill reject survives the restart, the post-restart
      // reject lands once (checkpoint recovery, not a rebuild)
      assert(got == Set(
        (Some(2L), None, "null_ts"),
        (None, Some(3000L), "null_event_id")), s"dead-letter table wrong: $got")
    } finally IoUtil.deleteRecursively(tmp)
  }

  test("stateful pct alerts are deterministic under duplicate timestamps (hostile r18)") {
    // same (user, ts) for three events: the processor's batch order is
    // (ts, event_id) — the alert set must be a pure function of the
    // data, not of arrival interleaving
    val src = MemoryStream[Event]
    val q = Ingest.statefulPctAlerts(src.toDS(), pctThreshold = 5.0)
      .writeStream.format("memory").queryName("pct_dup_out")
      .outputMode(OutputMode.Append).start()
    try {
      // all at the identical timestamp, added in SHUFFLED order: sorted
      // by event_id the values run 100 -> 104 (+4%, no) -> 120 (+15%,
      // alert) -> 90 (-25%, no: only positive spikes alert)
      src.addData(ev(3, 1, 1, 120.0), ev(1, 1, 1, 100.0),
        ev(4, 1, 1, 90.0), ev(2, 1, 1, 104.0))
      q.processAllAvailable()
      val got = spark.table("pct_dup_out").as[PctAlert].collect()
      assert(got.map(_.event_id).toSet == Set(3L),
        s"duplicate-ts batch must alert exactly once (event 3), got ${got.toSeq}")
      assert(math.abs(got.head.pct - (120.0 - 104.0) / 104.0 * 100.0) < 1e-9)
    } finally q.stop()
  }

  test("stateful pct-change state evicts idle keys after the event-time TTL") {
    val src = MemoryStream[Event]
    val q = Ingest.statefulPctAlerts(src.toDS(), pctThreshold = 5.0,
      idleTimeout = java.time.Duration.ofDays(2), watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("pct_ttl_out")
      .outputMode(OutputMode.Append).start()
    try {
      src.addData(ev(1, 1, 1, 100.0)) // user1 baseline; TTL deadline ≈ day 3
      q.processAllAvailable()
      src.addData(ev(2, 1, 2, 1.0, 1000L)) // watermark ~day1: user1 still live
      q.processAllAvailable()
      src.addData(ev(3, 1, 1, 120.0, 2000L)) // +20% vs live baseline → alert
      q.processAllAvailable()
      src.addData(ev(4, 6, 2, 1.0)) // day6 advances watermark past the deadline
      q.processAllAvailable()
      src.addData(ev(5, 6, 2, 1.0, 1000L)) // next batch fires user1's timeout
      q.processAllAvailable()
      // user1 returns with +317%: state was evicted, fresh baseline, NO alert
      src.addData(ev(6, 6, 1, 500.0, 2000L))
      q.processAllAvailable()
      val got = spark.table("pct_ttl_out").as[PctAlert].collect()
      assert(got.map(_.event_id).toSet == Set(3L), s"eviction broken: ${got.toSeq}")
      // and the rebuilt baseline is live again: +100% → alert
      src.addData(ev(7, 6, 1, 1000.0, 3000L))
      q.processAllAvailable()
      val after = spark.table("pct_ttl_out").as[PctAlert].collect()
      assert(after.map(_.event_id).toSet == Set(3L, 7L), s"live key broken: ${after.toSeq}")
    } finally q.stop()
  }

  test("windowed counts aggregate per 5-min window and drop late events") {
    val src = MemoryStream[Event]
    val q = Ingest.windowedCounts(src.toDF(), windowLen = "5 minutes", watermark = "10 minutes")
      .writeStream.format("memory").queryName("win_out")
      .outputMode(OutputMode.Append).start()
    try {
      val MinNs = 60L * 1000000000L
      src.addData(ev(1, 1, 1, 10.0, 0), ev(2, 1, 2, 20.0, 2 * MinNs),
        ev(3, 1, 3, 30.0, 6 * MinNs))
      q.processAllAvailable()
      // advance the watermark far past the first windows to close them
      src.addData(ev(4, 1, 4, 40.0, 60 * MinNs))
      q.processAllAvailable()
      src.addData(ev(5, 1, 5, 50.0, 1 * MinNs)) // late beyond watermark → dropped
      q.processAllAvailable()
      src.addData(ev(6, 1, 6, 60.0, 120 * MinNs))
      q.processAllAvailable()
      val rows = spark.table("win_out")
        .select("n", "sum_value").as[(Long, Double)].collect().toSet
      assert(rows.contains((2L, 30.0)), s"first window wrong: $rows") // events 1+2
      assert(rows.contains((1L, 30.0)), s"second window wrong: $rows") // event 3
      assert(!rows.contains((3L, 80.0)), "late event was not dropped")
    } finally q.stop()
  }

  test("stream-stream interval join attributes purchases to in-horizon clicks only") {
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val q = Ingest.conversionJoin(clicks.toDF(), purchases.toDF(),
        delay = "10 minutes", horizon = "15 minutes")
      .writeStream.format("memory").queryName("conv_out")
      .outputMode(OutputMode.Append).start()
    try {
      val MinNs = 60L * 1000000000L
      clicks.addData(
        Event(1, 1 * DayNs, 1, "click", 0.0),
        Event(2, 1 * DayNs, 3, "click", 0.0))
      purchases.addData(
        Event(10, 1 * DayNs + 5 * MinNs, 1, "purchase", 99.0), // in horizon
        Event(11, 1 * DayNs + 20 * MinNs, 1, "purchase", 7.0), // past horizon
        Event(12, 1 * DayNs + 5 * MinNs, 2, "purchase", 5.0))  // no click
      q.processAllAvailable()
      val rows = spark.table("conv_out")
        .select("user_id", "click_id", "purchase_id", "purchase_value")
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(rows == Set((1L, 1L, 10L, 99.0)),
        s"only the in-horizon same-user purchase may match: $rows")
    } finally q.stop()
  }

  test("stream-stream left-outer join emits unconverted clicks only after the watermark proves them") {
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val q = Ingest.conversionJoin(clicks.toDF(), purchases.toDF(),
        delay = "10 minutes", horizon = "15 minutes", joinType = "left_outer")
      .writeStream.format("memory").queryName("conv_outer_out")
      .outputMode(OutputMode.Append).start()
    try {
      val MinNs = 60L * 1000000000L
      clicks.addData(
        Event(1, 1 * DayNs, 1, "click", 0.0),
        Event(2, 1 * DayNs, 2, "click", 0.0)) // never converts
      purchases.addData(Event(10, 1 * DayNs + 5 * MinNs, 1, "purchase", 99.0))
      q.processAllAvailable()
      val before = spark.table("conv_outer_out")
        .filter($"user_id" === 2L).count()
      assert(before == 0L,
        "the unconverted click must NOT be emitted while a match is still possible")
      // advance BOTH watermarks (global watermark = min across sources)
      // far past click_time + horizon + delay
      clicks.addData(Event(3, 1 * DayNs + 120 * MinNs, 9, "click", 0.0))
      purchases.addData(Event(13, 1 * DayNs + 120 * MinNs, 9, "purchase", 1.0))
      q.processAllAvailable()
      q.processAllAvailable()
      val rows = spark.table("conv_outer_out")
        .select("user_id", "click_id", "purchase_id")
        .as[(Long, Long, Option[Long])].collect().toSet
      assert(rows.contains((1L, 1L, Some(10L))), s"converted click missing: $rows")
      assert(rows.contains((2L, 2L, None)),
        s"watermark-proven unconverted click must surface with NULL purchase: $rows")
    } finally q.stop()
  }

  test("session windows split on the gap and finalize on watermark passage") {
    val src = MemoryStream[Event]
    val MinNs = 60L * 1000000000L
    val q = Ingest.sessionCounts(src.toDF(), gap = "30 minutes", watermark = "10 minutes")
      .writeStream.format("memory").queryName("sess_out")
      .outputMode(OutputMode.Append).start()
    try {
      // user 1: two events 10 min apart (one session), then one 2 h
      // later (a second session); user 3: two events EXACTLY the gap
      // apart — measured: they MERGE, matching the batch Sessionize
      // operator's strict > gap split (doc'd in sessionCounts)
      src.addData(ev(1, 1, 1, 1.0), ev(2, 1, 1, 2.0, 10 * MinNs),
        ev(3, 1, 1, 4.0, 120 * MinNs),
        ev(6, 1, 3, 32.0), ev(7, 1, 3, 64.0, 30 * MinNs))
      q.processAllAvailable()
      // advance the watermark far past both session ends to emit them
      src.addData(ev(4, 1, 2, 8.0, 600 * MinNs))
      q.processAllAvailable()
      src.addData(ev(5, 1, 2, 16.0, 601 * MinNs))
      q.processAllAvailable()
      val got = spark.table("sess_out")
        .select("user_id", "n", "sum_value").as[(Long, Long, Double)].collect().toSet
      assert(got.contains((1L, 2L, 3.0)), s"first session wrong: $got")  // events 1+2
      assert(got.contains((1L, 1L, 4.0)), s"second session wrong: $got") // event 3
      assert(!got.exists { case (u, n, _) => u == 1L && n == 3 },
        "gap did not split the sessions")
      // exactly-gap boundary: one merged session, same as the batch
      // operator's strict > gap split
      assert(got.contains((3L, 2L, 96.0)), s"boundary semantics changed: $got")
    } finally q.stop()
  }

  test("initial-state handoff: batch-bootstrapped counts continue in the stream") {
    withRocksDBProvider {
      val src = MemoryStream[Event]
      // historical counts the stream takes over from: user 1 at 10, user 3 at 7
      val initial = Seq((1L, 10L), (3L, 7L)).toDF("user_id", "n")
      val q = Ingest.runningCountsTws(src.toDS(), initial)
        .writeStream.format("memory").queryName("boot_out")
        .outputMode(OutputMode.Append).start()
      try {
        src.addData(ev(1, 1, 1, 1.0), ev(2, 1, 1, 2.0, 1000L), ev(3, 1, 2, 1.0))
        q.processAllAvailable()
        src.addData(ev(4, 1, 1, 3.0, 2000L))
        q.processAllAvailable()
        val got = spark.table("boot_out")
          .select("user_id", "event_id", "n_total")
          .as[(Long, Long, Long)].collect().toSet
        // user 1 continues from 10; user 2 had no bootstrap row (starts
        // at 0); user 3's seeded state emits nothing without stream input
        assert(got == Set((1L, 1L, 11L), (1L, 2L, 12L), (1L, 4L, 13L), (2L, 3L, 1L)),
          s"got $got")
      } finally q.stop()
    }
  }

  test("initial-state handoff survives restart: checkpoint recovery does not re-seed") {
    withRocksDBProvider {
      val src = MemoryStream[Event]
      val initial = Seq((1L, 10L)).toDF("user_id", "n")
      val ckpt = java.nio.file.Files.createTempDirectory("graft-boot-ckpt").toString
      // memory sink cannot recover from a checkpoint — collect through
      // foreachBatch (runs on the driver), which can
      val results = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
      def start() = Ingest.runningCountsTws(src.toDS(), initial)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[Ingest.CountUpdate], _: Long) =>
          batch.collect().foreach(c => results.add((c.event_id, c.n_total)))
        }
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append).start()
      val q1 = start()
      try {
        src.addData(ev(1, 1, 1, 1.0))
        q1.processAllAvailable()
      } finally q1.stop()
      // restart from the checkpoint: the seed must NOT be applied again
      // (re-seeding would reset the count to 10 and emit 11 twice);
      // the recovered state continues at 11
      val q2 = start()
      try {
        src.addData(ev(2, 1, 1, 2.0, 1000L))
        q2.processAllAvailable()
        val got = results.toArray(Array.empty[(Long, Long)]).toSet
        assert(got.contains((1L, 11L)), s"pre-restart emission missing: $got")
        assert(got.contains((2L, 12L)), s"restart did not continue from state: $got")
        assert(!got.contains((2L, 11L)), s"initial state was re-applied: $got")
      } finally q2.stop()
    }
  }

  /** Kill-and-resume harness (VERDICT r15 ask #6): run `mk` over a
    * MemoryStream with a file checkpoint, feed `batch1`, STOP the query
    * (the kill), start a FRESH query from the same checkpoint, feed
    * `batch2`, and return everything either run emitted (collected via
    * foreachBatch — the memory sink cannot recover from a checkpoint).
    * Callers assert an output only possible if the first run's state was
    * RECOVERED, never rebuilt from empty. Assertions are written
    * replay-tolerant (foreachBatch is at-least-once across a restart:
    * the final pre-kill batch may legally reprocess), so they check for
    * the state-proving row's existence, not exact emission counts. */
  private def killAndResume[T](batch1: Seq[Event], batch2: Seq[Event])(
      mk: org.apache.spark.sql.Dataset[Event] => org.apache.spark.sql.Dataset[T]): Seq[T] = {
    val src = MemoryStream[Event]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-restart-ckpt")
    try {
      val results = new java.util.concurrent.ConcurrentLinkedQueue[T]()
      def start() = mk(src.toDS()).writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[T], _: Long) =>
          b.collect().foreach(results.add)
        }
        .option("checkpointLocation", ckpt.toString)
        .outputMode(OutputMode.Append).start()
      val q1 = start()
      try { src.addData(batch1: _*); q1.processAllAvailable() } finally q1.stop()
      val q2 = start()
      try { src.addData(batch2: _*); q2.processAllAvailable() } finally q2.stop()
      import scala.jdk.CollectionConverters._
      results.asScala.toList
    } finally IoUtil.deleteRecursively(ckpt)
  }

  test("statefulPctAlerts resumes from checkpoint: the baseline value survives the kill") {
    val got = killAndResume(
      Seq(ev(1, 1, 1, 100.0)),
      Seq(ev(2, 1, 1, 110.0, 1000L)))(Ingest.statefulPctAlerts(_))
    // +10% vs prev 100.0 can only alert if the pre-kill last-value state
    // was recovered; a rebuilt-from-empty run has no baseline and stays
    // silent forever
    assert(got.exists(a => a.event_id == 2L && a.prev_value == 100.0 && a.pct == 10.0),
      s"recovered-state alert missing: $got")
  }

  test("streamingZscoreAnomalies resumes from checkpoint: Welford moments survive the kill") {
    val base = (0 until 6).map(i =>
      ev(i + 1, 1, 1, if (i % 2 == 0) 0.0 else 10.0, i * 1000L))
    val got = killAndResume(base, Seq(ev(7, 1, 1, 100.0, 7000L)))(
      Ingest.streamingZscoreAnomalies(_, threshold = 3.0, minN = 5))
    // mean 5, stddevPop 5 over the six pre-kill values → z = 19 on the
    // post-restart outlier; a rebuilt run has n = 0 < minN and never alerts
    assert(got.exists(a => a.event_id == 7L && math.abs(a.z - 19.0) < 1e-9),
      s"recovered-moments anomaly missing: $got")
  }

  test("psiStream resumes from checkpoint: the frozen reference histogram survives the kill") {
    // psiStream keys on event_type — the shared "view" from ev() is the
    // single monitored key
    val ref = Seq(ev(1, 1, 1, 1.0, 0L), ev(2, 1, 1, 1.0, 1000L),
      ev(3, 1, 1, 9.0, 2000L), ev(4, 1, 1, 9.0, 3000L))
    val got = killAndResume(ref, Seq(ev(5, 1, 1, 1.0, 4000L), ev(6, 1, 1, 9.0, 5000L)))(
      Ingest.psiStream(_, lo = 0.0, hi = 10.0, bins = 2, refSize = 4, blockSize = 2))
    // any report with n_ref = 4 proves the pre-kill reference was
    // recovered; a rebuilt run routes the post-restart values into a NEW
    // reference (refN 0 → 2 < refSize) and reports nothing — and no
    // legal emission can carry n_ref < refSize
    assert(got.exists(_.n_ref == 4L), s"recovered-reference report missing: $got")
    assert(got.forall(_.n_ref == 4L), s"report with a rebuilt reference: $got")
  }

  test("cusumStream resumes from checkpoint: accumulated S+ survives the kill") {
    val got = killAndResume(
      Seq(ev(1, 1, 1, 6.0)),
      Seq(ev(2, 1, 1, 6.0, 1000L)))(
      Ingest.cusumStream(_, baselineMean = 0.0, h = 10.0))
    // s = 12 = 6 (pre-kill) + 6 (post-restart) requires the recovered
    // accumulator; a rebuilt run reaches only 6 < h and never alerts
    assert(got.exists(a => a.s == 12.0 && a.direction == "up"),
      s"recovered-accumulator alert missing: $got")
  }

  test("dedupDaily resumes from checkpoint: the seen-(user, day) state survives the kill") {
    // DataFrame is Dataset[Row] — the generic harness fits as-is
    val rows = killAndResume(
      Seq(ev(1, 1, 1, 1.0)),
      // event 2 duplicates (user 1, day 1) across the kill; event 3 is
      // a fresh user and must pass
      Seq(ev(2, 1, 1, 2.0, 1000L), ev(3, 1, 2, 3.0, 2000L)))(
      e => Ingest.dedupDaily(e.toDF(), watermark = "10 days"))
    val got = rows.map(_.getAs[Long]("event_id")).toSet
    assert(got.contains(1L) && got.contains(3L), s"legitimate rows missing: $got")
    assert(!got.contains(2L),
      s"duplicate passed after restart — dedup state was rebuilt, not recovered: $got")
  }

  test("timer-driven inactivity alerts fire on watermark passage, not input") {
    withRocksDBProvider {
      val src = MemoryStream[Event]
      val HourNs = 3600L * 1000000000L
      val HourMs = 3600L * 1000L
      val q = Ingest.inactivityAlertsTws(src.toDS(),
        gap = java.time.Duration.ofHours(6), watermarkDelay = "0 seconds")
        .writeStream.format("memory").queryName("inact_out")
        .outputMode(OutputMode.Append).start()
      try {
        // user 1 active at hour 0 and 1; user 2 keeps the stream alive
        // with gaps under the 6h threshold (0h → 5h → 8h)
        src.addData(ev(1, 1, 1, 1.0), ev(2, 1, 1, 2.0, 1 * HourNs), ev(3, 1, 2, 1.0))
        q.processAllAvailable()
        src.addData(ev(4, 1, 2, 1.0, 5 * HourNs))
        q.processAllAvailable()
        // this event advances the watermark past user 1's hour-7 deadline
        src.addData(ev(5, 1, 2, 1.0, 8 * HourNs))
        q.processAllAvailable()
        src.addData(ev(7, 1, 2, 1.0, 8 * HourNs + 1000L)) // batch that fires the timer
        q.processAllAvailable()
        val got = spark.table("inact_out").as[Ingest.InactivityAlert].collect()
        assert(got.map(_.user_id).toSet == Set(1L), s"got ${got.toSeq}")
        // last seen = day 1 + hour 1, in ms (ev() adds day * DayNs);
        // silent_ms on the timer path is the (deterministic) threshold,
        // not the watermark position at firing time
        assert(got.head.last_seen_ms == 25L * HourMs, s"got ${got.head}")
        assert(got.head.silent_ms == 6L * HourMs, s"got ${got.head}")
        // user 2 stayed active (timer re-armed every batch): no alert; and
        // user 1's state was cleared — a return builds a fresh baseline
        // whose new deadline has not passed, still no second alert
        src.addData(ev(6, 1, 1, 3.0, 9 * HourNs))
        q.processAllAvailable()
        val after = spark.table("inact_out").as[Ingest.InactivityAlert].collect()
        assert(after.length == 1, s"unexpected extra alerts: ${after.toSeq}")
      } finally q.stop()
    }
  }

  test("inactivity gap closed inside one batch still alerts (replay/backfill shape)") {
    withRocksDBProvider {
      val src = MemoryStream[Event]
      val HourNs = 3600L * 1000000000L
      val HourMs = 3600L * 1000L
      val q = Ingest.inactivityAlertsTws(src.toDS(),
        gap = java.time.Duration.ofHours(6), watermarkDelay = "0 seconds")
        .writeStream.format("memory").queryName("inact_closed_out")
        .outputMode(OutputMode.Append).start()
      try {
        // the hour-0 event and the hour-10 return land in ONE batch — a
        // compressed replay where no timer ever got the chance to fire;
        // the observed 10h gap must still produce exactly one alert
        src.addData(ev(1, 1, 1, 1.0), ev(2, 1, 1, 2.0, 10 * HourNs))
        q.processAllAvailable()
        val got = spark.table("inact_closed_out").as[Ingest.InactivityAlert].collect()
        assert(got.map(_.user_id).toSet == Set(1L), s"got ${got.toSeq}")
        assert(got.head.last_seen_ms == 24L * HourMs, s"got ${got.head}")
        assert(got.head.silent_ms == 10L * HourMs, s"got ${got.head}") // observed gap
      } finally q.stop()
    }
  }

  test("streaming CUSUM: accrues across batches, alerts at the crossing event, resets after alarm") {
    val src = MemoryStream[Event]
    // baseline mean 10, threshold 5: three 12s accrue S+ = 2,4,6 -> the
    // THIRD event crosses; after the reset two 13s accrue 3,6 -> event 6
    val q = Ingest.cusumStream(src.toDS(), baselineMean = 10.0, h = 5.0)
      .writeStream.format("memory").queryName("cusum_out")
      .outputMode(OutputMode.Append).start()
    try {
      src.addData(ev(1, 1, 1, 12.0, 1000L), ev(2, 1, 1, 12.0, 2000L))
      q.processAllAvailable()
      src.addData(ev(3, 1, 1, 12.0, 3000L), ev(4, 1, 1, 10.0, 4000L))
      q.processAllAvailable()
      src.addData(ev(5, 1, 1, 13.0, 5000L), ev(6, 1, 1, 13.0, 6000L))
      q.processAllAvailable()
      val got = spark.table("cusum_out").as[Ingest.CusumAlert].collect()
        .sortBy(_.event_id)
      assert(got.map(_.event_id).toSeq == Seq(3L, 6L), s"got ${got.toSeq}")
      assert(got(0).s == 6.0 && got(0).direction == "up")
      assert(got(1).s == 6.0 && got(1).direction == "up")
      // downward shift fires the other arm
      src.addData(ev(7, 1, 1, 4.0, 7000L), ev(8, 1, 1, 10.0, 8000L))
      q.processAllAvailable()
      val dn = spark.table("cusum_out").as[Ingest.CusumAlert].collect()
        .filter(_.direction == "down")
      assert(dn.map(_.event_id).toSeq == Seq(7L) && dn.head.s == 6.0)
    } finally q.stop()
  }

  test("psiStream: identical block reports 0, shifted block trips the drift flag") {
    val src = MemoryStream[Event]
    val q = Ingest.psiStream(src.toDS(), lo = 0.0, hi = 10.0, bins = 10,
      refSize = 10, blockSize = 10, threshold = 0.25)
      .writeStream.format("memory").queryName("psi_out")
      .outputMode(OutputMode.Append).start()
    try {
      // reference: one value per bin (uniform), frozen after 10 values
      src.addData((1 to 10).map(i => ev(i, 1, 1, i - 0.5, i * 1000L)): _*)
      q.processAllAvailable()
      // block 1: the SAME distribution -> smoothing cancels, psi = 0
      src.addData((11 to 20).map(i => ev(i, 1, 1, (i - 10) - 0.5, i * 1000L)): _*)
      q.processAllAvailable()
      // block 2: everything piles into the top bin -> drift
      src.addData((21 to 30).map(i => ev(i, 1, 1, 9.5, i * 1000L)): _*)
      q.processAllAvailable()
      val got = spark.table("psi_out").as[Ingest.DriftReport].collect()
        .sortBy(_.block_end_id)
      assert(got.map(_.block_end_id).toSeq == Seq(20L, 30L), s"got ${got.toSeq}")
      assert(got(0).psi == 0.0 && !got(0).drifted)
      assert(got(1).psi > 0.25 && got(1).drifted)
      assert(got.forall(r => r.n_ref == 10L && r.n_cur == 10L))
      assert(got.forall(_.n_nonfinite == 0L))
      // block 3: two NaN + one +Inf interleave with a clean identical
      // block — they must NOT bin (psi stays 0, n_cur stays 10) and
      // must surface on the counter instead (advice r13: NaN floors
      // to bin 0 through a naive clamp and reads as low-value drift)
      src.addData(ev(31, 1, 1, Double.NaN, 31000L),
        ev(32, 1, 1, Double.PositiveInfinity, 32000L),
        ev(33, 1, 1, Double.NaN, 33000L))
      src.addData((34 to 43).map(i => ev(i, 1, 1, (i - 34) + 0.5, i * 1000L)): _*)
      q.processAllAvailable()
      val got2 = spark.table("psi_out").as[Ingest.DriftReport].collect()
        .sortBy(_.block_end_id)
      assert(got2.map(_.block_end_id).toSeq == Seq(20L, 30L, 43L),
        s"got ${got2.toSeq}")
      assert(got2(2).psi == 0.0 && !got2(2).drifted)
      assert(got2(2).n_cur == 10L && got2(2).n_nonfinite == 3L)
    } finally q.stop()
  }

  test("incremental z-score: state accrues across batches, outlier flagged") {
    val src = MemoryStream[Event]
    val q = Ingest.streamingZscoreAnomalies(src.toDS(), threshold = 3.0, minN = 10)
      .writeStream.format("memory").queryName("z_out")
      .outputMode(OutputMode.Append).start()
    try {
      // 12 calm events (values 10 ± 1) over two batches build the state
      src.addData((1 to 6).map(i => ev(i, 1, 1, 10.0 + (i % 3) - 1, i * 1000L)): _*)
      q.processAllAvailable()
      src.addData((7 to 12).map(i => ev(i, 1, 1, 10.0 + (i % 3) - 1, i * 1000L)): _*)
      q.processAllAvailable()
      // an extreme value arrives: z >> 3 against the accrued moments
      src.addData(ev(13, 1, 1, 1000.0, 13000L), ev(14, 1, 1, 10.0, 14000L))
      q.processAllAvailable()
      val got = spark.table("z_out").as[Ingest.ZAnomaly].collect()
      assert(got.map(_.event_id).toSet == Set(13L), s"got $got")
      assert(got.head.z > 3.0)
    } finally q.stop()
  }

  test("batch replay through startIngest writes landing + alert tables and pushes live") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-ingest").toString
    val src = MemoryStream[Event]
    // data BEFORE start: AvailableNow snapshots available offsets at
    // query start, so post-start addData can be (racily) invisible —
    // the zero-batch run then terminates clean with nothing written
    src.addData(ev(1, 1, 1, 500.0), ev(2, 1, 2, 10.0), ev(3, 2, 1, 20.0))
    val q = Ingest.startIngest(src.toDF(), s"$tmp/landing", s"$tmp/alerts",
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      checkpoint = s"$tmp/ckpt",
      push = Some(new Ingest.LiveDirPush(s"$tmp/live")))
    try {
      q.awaitTermination(60000)
      val landing = spark.read.parquet(s"$tmp/landing")
      assert(landing.count() == 3)
      assert(landing.columns.contains("day"))
      val alerts = spark.read.parquet(s"$tmp/alerts")
      assert(alerts.select("event_id").as[Long].collect().toSet == Set(1L))
      // S6: the live dir holds the batch as newline-JSON — every record,
      // batch id in the name, no partial/temp files left behind
      val liveFiles = new java.io.File(s"$tmp/live").listFiles().toSeq
      assert(liveFiles.nonEmpty, "no live push emission")
      assert(liveFiles.forall(_.getName.matches("batch_\\d+_part_\\d+\\.jsonl")),
        s"unexpected live files: ${liveFiles.map(_.getName)}")
      val lines = liveFiles.flatMap(f =>
        scala.io.Source.fromFile(f).getLines().toSeq)
      assert(lines.length == 3, s"expected 3 pushed records, got ${lines.length}")
      val pushedIds = spark.read.json(spark.createDataset(lines))
        .select("event_id").as[Long].collect().toSet
      assert(pushedIds == Set(1L, 2L, 3L), s"pushed ids $pushedIds")
    } finally q.stop()
  }

  test("startIngest with a quarantinePath routes poison to the dead-letter, clean rows land") {
    // the full ST4 dual sink + the r19 quarantine: landing/alert/push
    // carry ONLY contract-clean rows, the dead-letter carries exactly
    // the poison with reasons — nothing silently dropped, nothing
    // double-counted
    val tmp = java.nio.file.Files.createTempDirectory("graft-ingest-q").toString
    val src = MemoryStream[RawEvent]
    // data BEFORE start: AvailableNow snapshots available offsets at
    // query start, so post-start addData can be (racily) invisible —
    // the zero-batch run then terminates clean with nothing written
    src.addData(
      RawEvent(Some(1L), Some(DayNs), Some(1L), "view", Some(500.0)),
      RawEvent(Some(2L), Some(2 * DayNs), Some(2L), "view", Some(10.0)),
      RawEvent(Some(3L), Some(3 * DayNs), Some(3L), "view", None),
      // NULL-keyed poison (advice r19): before the pre-dedup split,
      // a NULL ts row was dropped by the watermark path and NULL
      // user_id rows were collapsed by the dedup's NULL-safe key
      // equality — neither reached the dead-letter NOR the landing
      RawEvent(Some(4L), None, Some(4L), "view", Some(20.0)),
      RawEvent(Some(5L), Some(4 * DayNs), None, "view", Some(30.0)),
      RawEvent(Some(6L), Some(4 * DayNs + 1000L), None, "view", Some(31.0)),
      // in-batch duplicate of (user 2, day 2): dedup still applies to
      // the clean side of the split
      RawEvent(Some(7L), Some(2 * DayNs + 1000L), Some(2L), "view", Some(11.0)))
    val q = Ingest.startIngest(src.toDF(), s"$tmp/landing", s"$tmp/alerts",
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      checkpoint = s"$tmp/ckpt",
      quarantinePath = s"$tmp/deadletter")
    try {
      val finished = q.awaitTermination(60000)
      assert(q.exception.isEmpty, s"stream failed: ${q.exception}")
      assert(finished, "stream did not finish within 60s")
      val landing = spark.read.parquet(s"$tmp/landing")
      assert(landing.select("event_id").as[Long].collect().toSet == Set(1L, 2L),
        "landing must carry exactly the deduped contract-clean rows")
      val dead = spark.read.parquet(s"$tmp/deadletter")
      val deadRows = dead.select("event_id", "reason").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      // BOTH null_user_id rows quarantined individually — NULL keys
      // must not collapse in the dead-letter either
      assert(deadRows == Set((3L, "null_value"), (4L, "null_ts"),
        (5L, "null_user_id"), (6L, "null_user_id")),
        s"dead-letter wrong: $deadRows")
      val alerts = spark.read.parquet(s"$tmp/alerts")
      assert(alerts.select("event_id").as[Long].collect().toSet == Set(1L))
    } finally q.stop()
  }

  test("startIngest quarantine mode keeps CROSS-batch daily dedup on the clean side") {
    // the pre-dedup split self-unions a stateful (deduped) branch with
    // the stateless quarantine branch; this pins that the stateful
    // branch still carries dropDuplicatesWithinWatermark state ACROSS
    // micro-batches — a per-batch dedup would re-admit batch-2's copy
    val tmp = java.nio.file.Files.createTempDirectory("graft-ingest-xb").toString
    val src = MemoryStream[RawEvent]
    val q = Ingest.startIngest(src.toDF(), s"$tmp/landing", s"$tmp/alerts",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L),
      checkpoint = s"$tmp/ckpt",
      quarantinePath = s"$tmp/deadletter")
    try {
      src.addData(RawEvent(Some(1L), Some(DayNs), Some(1L), "view", Some(10.0)))
      q.processAllAvailable()
      src.addData(
        RawEvent(Some(2L), Some(DayNs + 1000L), Some(1L), "view", Some(20.0)),
        RawEvent(Some(3L), Some(DayNs), Some(2L), "view", Some(30.0)),
        RawEvent(Some(4L), None, Some(9L), "view", Some(40.0)))
      q.processAllAvailable()
      assert(q.exception.isEmpty, s"stream failed: ${q.exception}")
      val landing = spark.read.parquet(s"$tmp/landing")
      assert(landing.select("event_id").as[Long].collect().toSet == Set(1L, 3L),
        "batch-2 duplicate of (user 1, day 1) must be dropped by streaming state")
      val dead = spark.read.parquet(s"$tmp/deadletter")
      assert(dead.select("event_id").as[Long].collect().toSet == Set(4L))
    } finally q.stop()
  }

  test("startIngest forks no process for the files it lands") {
    // without libhadoop, Hadoop's local filesystem forks a chmod per
    // file, .crc sidecar and directory it creates: about 4 per landed file
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    import scala.jdk.CollectionConverters._
    val tmp = java.nio.file.Files.createTempDirectory("graft-ingest-forks")
    val sinks = Seq("landing", "alerts", "deadletter").map(t => s"$tmp/$t")
    val src = MemoryStream[RawEvent]
    // one AvailableNow batch over 10 days x 4 users: 40 landed partitions
    src.addData((for (d <- 1L to 10L; u <- 1L to 4L)
      yield RawEvent(Some(d * 10 + u), Some(d * DayNs), Some(u), "view", Some(150.0 * u))) :+
      RawEvent(Some(999L), None, Some(1L), "view", Some(1.0)): _*)
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try {
      val q = Ingest.startIngest(src.toDF(), sinks(0), sinks(1),
        trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow(),
        checkpoint = s"$tmp/ckpt", quarantinePath = sinks(2))
      try {
        assert(q.awaitTermination(60000), "stream did not finish within 60s")
        assert(q.exception.isEmpty, s"stream failed: ${q.exception}")
      } finally q.stop()
    } finally rec.stop()
    val dump = tmp.resolve("forks.jfr")
    rec.dump(dump)
    rec.close()
    val commands = RecordingFile.readAllEvents(dump).asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart").map(_.getString("command")).toSeq
    println(s"[forks] startIngest: ${commands.count(_.contains(s"$tmp/ckpt"))} forks under " +
      s"the checkpoint, ${commands.size} in the JVM while it ran")
    val intoSinks = commands.filter(c => sinks.exists(s => c.contains(s)))
    assert(intoSinks.isEmpty, s"${intoSinks.size} forks, e.g. ${intoSinks.take(3)}")
    assert(spark.read.parquet(sinks(0)).count() == 40)
    assert(spark.read.parquet(sinks(1)).count() == 20)
    assert(spark.read.parquet(sinks(2)).count() == 1)
  }

  test("streaming incremental dedup classifies against the bucketed index like the batch path") {
    import graft.operators.Dedup
    import graft.streaming.DedupStream
    val corpus = Tables.documents(spark, TestSpark.Sf).filter($"doc_id" < 60)
    val corpusRows = corpus.select("doc_id", "text").as[(Long, String)].collect()
    val tmp = java.nio.file.Files.createTempDirectory("graft-sdx-spec")
    try {
      Dedup.writeCorpusIndex(corpus, "sdx_stream", tmp.toString)
      // batch 1: an exact copy + a near-dup (one token changed) of
      // corpus docs; batch 2: a brand-new doc and a replay of the new
      // doc (classified "new" again — the documented rebuild-cadence
      // boundary)
      val exact = (1000L, corpusRows.head._2)
      val near = (1001L, corpusRows(1)._2.split(" ").zipWithIndex
        .map { case (w, i) => if (i == 0) "zqx" else w }.mkString(" "))
      val fresh = (1002L, "entirely unrelated content zebra quartz xylophone " * 5)
      val src = MemoryStream[(Long, String)]
      val q = DedupStream.startClassify(
        src.toDF().toDF("doc_id", "text"), "sdx_stream", s"$tmp/out",
        checkpoint = s"$tmp/ckpt",
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
      try {
        src.addData(exact, near)
        q.processAllAvailable()
        src.addData(fresh, (1003L, fresh._2))
        q.processAllAvailable()
        val out = spark.read.parquet(s"$tmp/out")
          .select($"doc_id", $"status", $"batch_id").as[(Long, String, Long)]
          .collect().sortBy(_._1).toSeq
        assert(out.map(_._1) == Seq(1000L, 1001L, 1002L, 1003L), s"rows: $out")
        assert(out(0)._2 == "exact_dup" && out(1)._2 == "near_dup", s"rows: $out")
        assert(out(2)._2 == "new" && out(3)._2 == "new", s"rows: $out")
        // batches landed in distinct batch_id partitions
        assert(out.map(_._3).distinct.size == 2, s"batch ids: ${out.map(_._3)}")
        // stream and batch classifiers agree row-for-row on the same docs
        val streamed = out.map(t => (t._1, t._2))
        val batchApi = Dedup.incrementalDedupIndexed(spark, "sdx_stream",
            Seq(exact, near, fresh, (1003L, fresh._2)).toDF("doc_id", "text"))
          .select($"doc_id", $"status").as[(Long, String)]
          .collect().sortBy(_._1).toSeq
        assert(streamed == batchApi, s"stream $streamed vs batch $batchApi")
      } finally q.stop()
    } finally {
      Seq("_fp", "_bands", "_docs", "_meta")
        .foreach(s => spark.sql(s"DROP TABLE IF EXISTS sdx_stream$s"))
      graft.IoUtil.deleteRecursively(tmp)
    }
  }

  test("streaming dedup with checkDisjoint=false reads a redelivered corpus id as its own dup") {
    import graft.operators.Dedup
    import graft.streaming.DedupStream
    val corpus = Tables.documents(spark, TestSpark.Sf).filter($"doc_id" < 60)
    val redelivered = corpus.select("doc_id", "text").as[(Long, String)].head()
    val tmp = java.nio.file.Files.createTempDirectory("graft-sdx-redeliver")
    try {
      Dedup.writeCorpusIndex(corpus, "sdx_redel", tmp.toString)
      val src = MemoryStream[(Long, String)]
      // post-rebuild redelivery shape: the batch id ALREADY sits in the
      // index; the guard would poison the stream, the opt-out classifies
      val q = DedupStream.startClassify(
        src.toDF().toDF("doc_id", "text"), "sdx_redel", s"$tmp/out",
        checkpoint = s"$tmp/ckpt",
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L),
        checkDisjoint = false)
      try {
        src.addData(redelivered)
        q.processAllAvailable()
        val out = spark.read.parquet(s"$tmp/out")
          .select($"doc_id", $"status").as[(Long, String)].collect().toSeq
        assert(out == Seq((redelivered._1, "exact_dup")), s"rows: $out")
      } finally q.stop()
    } finally {
      Seq("_fp", "_bands", "_docs", "_meta")
        .foreach(s => spark.sql(s"DROP TABLE IF EXISTS sdx_redel$s"))
      graft.IoUtil.deleteRecursively(tmp)
    }
  }

  test("heavyHittersStream: exact top-k per closed window below sketch capacity") {
    val src = MemoryStream[Event]
    val q = Ingest.heavyHittersStream(src.toDF(), itemCol = "user_id", k = 2,
        windowLen = "5 minutes", watermark = "10 minutes")
      .writeStream.format("memory").queryName("hh_out")
      .outputMode(OutputMode.Append).start()
    try {
      val MinNs = 60L * 1000000000L
      // window 1: user 7 × 5 events, user 3 × 3, user 1 × 1
      val w1 = (0 until 5).map(i => ev(i, 1, 7, 1.0, (i % 3) * MinNs)) ++
        (0 until 3).map(i => ev(10 + i, 1, 3, 1.0, (i % 3) * MinNs)) :+
        ev(20, 1, 1, 1.0, MinNs)
      src.addData(w1: _*)
      q.processAllAvailable()
      src.addData(ev(999, 1, 99, 1.0, 300 * MinNs)) // close window 1
      q.processAllAvailable()
      val rows = spark.table("hh_out")
        .select($"item", $"est_count").as[(Long, Long)].collect().toSet
      // capacity >> distinct items -> no eviction -> EXACT counts
      assert(rows == Set((7L, 5L), (3L, 3L)), s"got $rows")
    } finally q.stop()
  }

  test("driftMonitor: an on-baseline window scores near zero, a shifted window drifts") {
    val src = MemoryStream[Event]
    // uniform baseline over 5 bins on [0, 100); windows feed 50 events
    val base = Seq.fill(5)(0.2)
    val q = Ingest.driftMonitor(src.toDF(), base, lo = 0.0, hi = 100.0,
        windowLen = "5 minutes", watermark = "10 minutes", threshold = 0.25)
      .writeStream.format("memory").queryName("drift_out")
      .outputMode(OutputMode.Append).start()
    try {
      val MinNs = 60L * 1000000000L
      // window 1: perfectly uniform — 10 events per bin
      val uniform = (0 until 50).map(i =>
        ev(i, 1, i, (i % 5) * 20.0 + 10.0, (i % 3) * MinNs))
      // window 2 (minute 30+): everything in the top bin — max drift
      val shifted = (0 until 50).map(i =>
        ev(100 + i, 1, i, 95.0, 30 * MinNs + (i % 3) * MinNs))
      // window 3 (minute 60+): everything BELOW lo — must clamp into
      // bin 0 (not fall out of every bin) and drift just as hard
      val below = (0 until 50).map(i =>
        ev(200 + i, 1, i, -40.0, 60 * MinNs + (i % 3) * MinNs))
      src.addData(uniform ++ shifted ++ below: _*)
      q.processAllAvailable()
      src.addData(ev(999, 1, 999, 50.0, 300 * MinNs)) // close both windows
      q.processAllAvailable()
      val rows = spark.table("drift_out")
        .select($"n", $"psi", $"drifted").as[(Long, Double, Boolean)]
        .collect().toSeq.filter(_._1 == 50L).sortBy(_._2)
      assert(rows.size >= 3, s"expected all three 50-event windows closed: $rows")
      val calm = rows.head
      assert(calm._2 < 0.01 && !calm._3, s"uniform window must not drift: $calm")
      rows.tail.foreach { hot =>
        assert(hot._2 > 1.0 && hot._3,
          s"shifted/below-lo windows must drift hard: $hot")
      }
    } finally q.stop()
  }

  test("StreamScale.study runs Bench's four streaming_scale legs: resume conserves, TTL evicts") {
    import com.fasterxml.jackson.databind.ObjectMapper
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{max, row_number}
    import scala.jdk.CollectionConverters._
    // a child session: the legs set the state-store provider on theirs
    val out = StreamScale.study(spark.newSession(), TestSpark.Sf, targetKeys = 2000)
    val json = new ObjectMapper().readTree(out)
    assert(json.fieldNames().asScala.toSet == Set("keys", "rows", "files", "ev_per_key",
      "stage_sec", "eviction_proof", "eviction_peak", "eviction_final", "legs"), out)
    assert(json.get("legs").fieldNames().asScala.toSet ==
      Set("welford_rocks_cold", "dedup_daily_rocks", "pct_ttl2d_evict", "resume"), out)
    assert(json.get("legs").get("resume").get("output_match").asBoolean(), out)
    // Each user's keys carry its first four events. A key is evicted once
    // the final watermark (last event - 1 h) passes its last event + 2 days.
    // Here the staged events span three days, so only a few users go idle;
    // eviction_proof checks the final state against the live-key count.
    assert(json.get("eviction_proof").asBoolean(), out)
    val last = Tables.normalizeTs(Tables.events(spark, TestSpark.Sf))
      .withColumn("rn", row_number().over(Window.partitionBy("user_id").orderBy("ts", "event_id")))
      .filter($"rn" <= 4).groupBy("user_id").agg(max("ts").as("last"))
    val end = last.agg(max("last")).head().getLong(0)
    val idleUsers = last.filter($"last" + 2 * DayNs + DayNs / 24 < end).count()
    val keysPerUser = json.get("keys").asLong() / last.count()
    assert(idleUsers > 0)
    assert(json.get("eviction_peak").asLong() == json.get("keys").asLong(), out)
    assert(json.get("eviction_peak").asLong() - json.get("eviction_final").asLong() ==
      idleUsers * keysPerUser, out)
  }
}
