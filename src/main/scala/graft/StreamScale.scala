package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import graft.streaming.Ingest

/** Streaming state at production cardinality (VERDICT r19 ask #1): every
  * stateful cert runs at 1.5k-40k state keys, so the engine's
  * "watermark-bounded state" claim had no measured leg. [[study]]
  * drives up to millions of distinct keys through the production
  * stateful shapes — Welford z-score (flatMapGroupsWithState),
  * percent-change alerts (the reference's spark_stream.py:38-46
  * semantics), and within-watermark daily dedup — as real file-source
  * Structured Streaming queries, and records per-micro-batch
  * state_rows / state_bytes / throughput, an EVICTION proof (state
  * must shrink as the watermark passes idle keys' TTL), and a
  * kill-and-resume at full state (restart from checkpoint with
  * millions of state rows, output equivalence vs an uninterrupted
  * run). Bench records it as `streaming_scale`.
  *
  * Input derivation: the SF events table amplified by key-splitting —
  * each original user's first [[EvPerKey]] events are replicated across
  * `ampl` disjoint key ranges (user_id*ampl+r), preserving the real
  * table's event-time distribution (which drives the watermark and
  * therefore eviction) while scaling DISTINCT KEYS, the dimension
  * state size actually depends on. Files are range-partitioned by ts
  * so maxFilesPerTrigger=1 yields time-ordered micro-batches and the
  * watermark advances monotonically through the month, exactly like a
  * live feed.
  *
  * Also home of [[replay]], Bench's raw-SF replay (`streaming`) with
  * its determinism and quarantine certificates.
  */
object StreamScale {

  /** Events kept per original user, and staged files (one per micro-batch). */
  private val EvPerKey = 4
  private val NFiles = 6

  private val HdfsProvider =
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
  private val RocksProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Order-free content hash: per-row xxhash64 over every column
    * stringified, folded mod a prime (a raw xxhash64 sum overflows ANSI
    * long arithmetic) and summed, so replay order cannot change it;
    * 0 for an empty frame. */
  private def orderFreeHash(df: DataFrame): Long = {
    val h = df.select(pmod(xxhash64(df.columns.map(c => col(c).cast("string")): _*),
      lit(1000000007L)).as("h")).agg(sum(col("h"))).head()
    if (h.isNullAt(0)) 0L else h.getLong(0)
  }

  /** (state rows, state bytes) of one micro-batch, summed over the
    * query's stateful operators. Every query measured here has exactly
    * one, so the peak over batches also equals the max over (batch,
    * operator) pairs. */
  private def state(p: StreamingQueryProgress): (Long, Long) =
    (p.stateOperators.map(_.numRowsTotal).sum, p.stateOperators.map(_.memoryUsedBytes).sum)

  /** Peak (state rows, state bytes) over a query's micro-batches. */
  private def peakState(prog: Seq[StreamingQueryProgress]): (Long, Long) = {
    val s = prog.map(state)
    (s.map(_._1).maxOption.getOrElse(0L), s.map(_._2).maxOption.getOrElse(0L))
  }

  /** Stage the amplified event files; returns (nKeys, nRows, srcDir). */
  private def stage(spark: SparkSession, sfDir: String, targetKeys: Long,
                    tmp: java.nio.file.Path): (Long, Long, String) = {
    val ev = Tables.normalizeTs(Tables.events(spark, sfDir))
      .select("event_id", "ts", "user_id", "event_type", "value")
    val users = ev.select("user_id").distinct().count()
    val ampl = math.max(1L, (targetKeys + users - 1) / users)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    val base = ev.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= EvPerKey).drop("rn")
    // key-splitting join: the range side is tiny (ampl rows) and MUST
    // broadcast — a shuffled cross join here would dominate the study
    // with staging cost that a real feed never pays
    val amp = base.crossJoin(broadcast(spark.range(ampl).toDF("r")))
      .select(
        (col("event_id") * ampl + col("r")).as("event_id"),
        // nanosecond jitter keeps (ts, event_id) ordering unique per
        // key without moving any event across a watermark boundary
        (col("ts") + pmod(col("r"), lit(997L))).as("ts"),
        (col("user_id") * ampl + col("r")).as("user_id"),
        col("event_type"), col("value"))
    val srcDir = tmp.resolve("events_amp").toString
    amp.repartitionByRange(NFiles, col("ts"))
      .write.mode("overwrite").parquet(srcDir)
    // FileStreamSource orders by MODIFICATION TIME, and a parquet job's
    // part files get mtimes in task-completion order — arbitrary. The
    // first smoke run processed a late-range file first, so the
    // watermark jumped a fortnight ahead and silently late-dropped
    // whole earlier files (state stuck at 86% of keys, eviction flat).
    // Stamp strictly increasing mtimes in part-name order (the
    // repartitionByRange output order == time order) so micro-batches
    // replay the month chronologically, like a live feed.
    val parts = new java.io.File(srcDir).listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    val mt0 = parts.map(_.lastModified()).max
    parts.zipWithIndex.foreach { case (f, i) =>
      require(f.setLastModified(mt0 + (i + 1) * 2000L),
        s"stage: could not stamp mtime on ${f.getName}")
    }
    val staged = spark.read.parquet(srcDir)
    (users * ampl, staged.count(), srcDir)
  }

  /** Staged keys still live when a `ttl` idle timeout has run to the
    * final watermark (last event time − `delayMs`). A key expires once
    * the watermark passes its last event + `ttl`; times are compared in
    * ms, as the watermark and the timeout compare them. So the eviction
    * leg's final state must hold exactly this many rows. */
  private def liveKeys(spark: SparkSession, srcDir: String,
                       ttl: java.time.Duration, delayMs: Long): Long = {
    val last = spark.read.parquet(srcDir).groupBy("user_id")
      .agg(max(expr("ts div 1000000")).as("last_ms"))
    val finalWm = last.agg(max(col("last_ms"))).head().getLong(0) - delayMs
    last.filter(col("last_ms") + ttl.toMillis >= finalWm).count()
  }

  /** A leg's `name -> object` entry in the study's `legs`, plus the
    * state counts the eviction proof reads back. */
  private case class Leg(entry: (String, String), peakRows: Long, finalRows: Long)

  /** One streaming leg over the staged files: AvailableNow +
    * maxFilesPerTrigger=1 (time-ordered micro-batches), noop sink
    * (the resume leg uses the file sink separately — the memory sink
    * cannot recover from a checkpoint), per-batch state telemetry
    * from StreamingQueryProgress. */
  private def runLeg(spark: SparkSession, name: String, srcDir: String, ckpt: String)
                    (mk: Dataset[Ingest.Event] => Dataset[_]): Leg = {
    val schema = spark.read.parquet(srcDir).schema
    val src = Ingest.typedEvents(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir))
    val t0 = System.nanoTime()
    val q = mk(src).writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .format("noop").start()
    q.awaitTermination()
    val wall = (System.nanoTime() - t0) / 1e9
    val prog = q.recentProgress.toSeq
    val perBatch = prog.map { p =>
      val (sr, sb) = state(p)
      Json.obj(Seq("batch" -> p.batchId, "rows" -> p.numInputRows,
        "state_rows" -> sr, "state_bytes" -> sb, "batch_ms" -> p.batchDuration))
    }
    val inRows = prog.map(_.numInputRows).sum
    val (peakRows, peakBytes) = peakState(prog)
    val finalRows = prog.lastOption.map(state(_)._1).getOrElse(0L)
    System.err.println(f"[streamscale] $name%-22s ${wall}%.1f s, " +
      f"$inRows rows, peak state $peakRows rows / ${peakBytes / 1e6}%.0f MB")
    Leg(name -> Json.obj(Seq("wall_sec" -> Json.num(wall, 3), "rows" -> inRows,
      "rows_per_sec" -> (inRows / wall).round,
      "state_rows_peak" -> peakRows, "state_rows_final" -> finalRows,
      "state_bytes_peak" -> peakBytes, "provider" -> Json.str(RocksProvider.split('.').last),
      "batches" -> Json.arr(perBatch))), peakRows, finalRows)
  }

  /** The study: the three core legs once under RocksDB, then the
    * kill-and-resume. Returns one JSON object. */
  def study(spark: SparkSession, sfDir: String, targetKeys: Long): String = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", RocksProvider)
    val tmp = java.nio.file.Files.createTempDirectory("graft-streamscale")
    try {
      val t0 = System.nanoTime()
      val (nKeys, nRows, srcDir) = stage(spark, sfDir, targetKeys, tmp)
      val stageSec = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[streamscale] staged $nRows rows / $nKeys keys " +
        f"in ${stageSec}%.1f s ($NFiles files)")
      def ck(n: String) = s"$tmp/ckpt/$n"

      // 1. Welford z-score — the O(1)-per-key running-moments shape.
      val welford = runLeg(spark, "welford_rocks_cold", srcDir, ck("wr1"))(
        ev => Ingest.streamingZscoreAnomalies(ev))

      // 2. Daily dedup — state keyed (user, day) WITHIN the watermark:
      // the leg proves the within-watermark variant evicts closed days
      // as the watermark advances (peak state ≪ total distinct pairs).
      val dedup = runLeg(spark, "dedup_daily_rocks", srcDir, ck("dd"))(
        ev => Ingest.dedupDaily(ev.toDF()))

      // 3. Eviction proof — pct alerts with a 2-DAY idle TTL over a
      // month of event time: keys idle ≥2 days behind the watermark
      // MUST be evicted and the others kept, so the final state holds
      // exactly the live keys. A flat curve here would falsify the
      // bounded-state claim.
      val ttl = java.time.Duration.ofDays(2)
      val evict = runLeg(spark, "pct_ttl2d_evict", srcDir, ck("ev"))(
        ev => Ingest.statefulPctAlerts(ev, idleTimeout = ttl, watermarkDelay = "1 hour"))
      val live = liveKeys(spark, srcDir, ttl, delayMs = 3600L * 1000)

      // 4. Kill-and-resume at FULL state: phase 1 streams the first
      // half of the files into pct-alert state, the query stops, a new
      // query on the SAME checkpoint restores millions of state rows
      // (RocksDB reload priced in phase-2 wall) and finishes the feed.
      // pct alerts, not welford, because the alert stream is DENSE
      // (every >5% move emits) — a near-empty output would make the
      // conservation check vacuous, as welford's minN=20 does at 4
      // events/key. Output conservation: phase1+phase2 rows/hash ==
      // an uninterrupted run over the same files.
      val resume = {
        val label = "resume"
        val files = new java.io.File(srcDir).listFiles()
          .filter(f => f.getName.startsWith("part-")).sortBy(_.getName)
        val half = math.max(1, files.length / 2)
        val linkDir = tmp.resolve(s"${label}_src")
        java.nio.file.Files.createDirectory(linkDir)
        def link(fs: Seq[java.io.File]): Unit = fs.foreach { f =>
          java.nio.file.Files.createSymbolicLink(
            linkDir.resolve(f.getName), f.toPath)
        }
        val schema = spark.read.parquet(srcDir).schema
        // the memory sink cannot recover from a checkpoint; the FILE
        // sink is the production restart path anyway — its
        // _spark_metadata commit log makes the restarted query resume
        // exactly-once into the same output directory
        val splitOut = s"$tmp/${label}_out_split"
        def phase(out: String, ckName: String): (Double, Long, Long) = {
          val src = Ingest.typedEvents(
            spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(linkDir.toString))
          val t = System.nanoTime()
          val q = Ingest.statefulPctAlerts(src).writeStream
            .format("parquet").option("path", out)
            .option("checkpointLocation", ck(ckName))
            .trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
          val wall = (System.nanoTime() - t) / 1e9
          val prog = q.recentProgress.toSeq
          (wall, peakState(prog)._1, prog.map(_.numInputRows).sum)
        }
        def dirHash(out: String): (Long, Long) = {
          val df = spark.read.parquet(out)
          (df.count(), orderFreeHash(df))
        }
        link(files.take(half).toSeq)
        val (w1, state1, rows1) = phase(splitOut, label)
        link(files.drop(half).toSeq)
        val (w2, state2, rows2) = phase(splitOut, label)
        val (nSplit, hSplit) = dirHash(splitOut)
        // uninterrupted control over the same via-symlink source dir
        val ctlOut = s"$tmp/${label}_out_ctl"
        val (_, _, _) = phase(ctlOut, s"${label}_ctl")
        val (nc, hc) = dirHash(ctlOut)
        label -> Json.obj(Seq("phase1_sec" -> Json.num(w1, 3), "phase1_rows" -> rows1,
          "state_at_kill" -> state1, "phase2_sec" -> Json.num(w2, 3),
          "phase2_rows" -> rows2, "state_after_resume" -> state2,
          "out_rows_split" -> nSplit, "out_rows_uninterrupted" -> nc,
          "output_match" -> (nSplit == nc && hSplit == hc)))
      }

      Json.obj(Seq("keys" -> nKeys, "rows" -> nRows, "files" -> NFiles,
        "ev_per_key" -> EvPerKey, "stage_sec" -> Json.num(stageSec, 3),
        "eviction_proof" -> (evict.finalRows == live),
        "eviction_peak" -> evict.peakRows, "eviction_final" -> evict.finalRows,
        "legs" -> Json.obj(Seq(welford.entry, dedup.entry, evict.entry, resume))))
    } finally {
      try IoUtil.deleteRecursively(tmp) catch { case _: Throwable => () }
    }
  }

  /** Streaming state at bench scale (VERDICT r4 item 6): replays the SF
    * events table through the two stateful shapes — flatMapGroupsWithState
    * percent-change alerts and the transformWithState batch→stream count
    * handoff — as real Structured Streaming queries (file source,
    * AvailableNow, RocksDB state store), recording throughput and state
    * size; then the six replay-determinism certificates and the
    * quarantine dead-letter certificate. Returns Bench's `streaming`
    * object. */
  def replay(spark: SparkSession, sfDir: String): String = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", RocksProvider)
    val tmp = java.nio.file.Files.createTempDirectory("graft-streambench")
    try {
      val batch = Tables.events(spark, sfDir)
      // the streaming source must be declared with the RAW on-disk schema
      // (ts may be timestamp-typed in newer fixture vintages); Tables
      // .normalizeTs then restores the engine's epoch-nano-long invariant
      // on the stream, exactly as the batch reader does
      val rawSchema = spark.read.parquet(s"$sfDir/events.parquet").schema
      // the SF tables are single parquet FILES and the streaming file
      // source only accepts directories — stage a zero-copy symlink dir
      val srcDir = tmp.resolve("events_src")
      java.nio.file.Files.createDirectory(srcDir)
      java.nio.file.Files.createSymbolicLink(
        srcDir.resolve("events.parquet"),
        java.nio.file.Paths.get(sfDir, "events.parquet"))
      def src = Ingest.typedEvents(
        Tables.normalizeTs(spark.readStream.schema(rawSchema)
          .parquet(srcDir.toString)))
      // each stateful shape replays TWICE against fresh checkpoints: the
      // first (cold) number is the end-to-end story (source listing,
      // RocksDB native init, JIT of the state-processor paths all priced
      // in — each exercised exactly once per bench JVM, which made the
      // r7-r9 rows/s swing 30-50% run to run); the second (warm) replay
      // re-lists and rebuilds state identically on a warmed JVM, so IT
      // is the round-over-round comparable. Both land in the artifact.
      def runStream(name: String)(mk: Dataset[Ingest.Event] => Dataset[_]): (String, String) = {
        def replayOnce(tag: String): (Long, Double, (Long, Long)) = {
          val t0 = System.nanoTime()
          val q = mk(src).writeStream.format("noop")
            .option("checkpointLocation", s"$tmp/$name/$tag/ckpt")
            .trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
          val sec = (System.nanoTime() - t0) / 1e9
          (q.recentProgress.map(_.numInputRows).sum, sec, peakState(q.recentProgress.toSeq))
        }
        val (inRows, sec, (stateRows, stateBytes)) = replayOnce("cold")
        val (_, warmSec, _) = replayOnce("warm")
        name -> Json.obj(Seq("rows" -> inRows, "sec" -> (sec * 1000).round / 1000.0,
          "rows_per_sec" -> (inRows / sec).round,
          "warm_sec" -> (warmSec * 1000).round / 1000.0,
          "warm_rows_per_sec" -> (inRows / warmSec).round,
          "state_rows" -> stateRows, "state_bytes" -> stateBytes))
      }
      val pct = runStream("pct_alerts")(ev => Ingest.statefulPctAlerts(ev))
      // handoff seed: per-user historical counts, as a cutover would have
      val initial = batch.groupBy("user_id").agg(count(lit(1)).as("n"))
      val tws = runStream("running_counts_tws")(ev => Ingest.runningCountsTws(ev, initial))

      // Replay-determinism certificates (VERDICT r13 ask #5): the batch
      // board is oracled; the streaming processors' equivalent gate is
      // "the same input replayed from a fresh checkpoint produces the
      // SAME output and the SAME state" — each processor runs TWICE
      // over the identical file source, and the cert row compares the
      // order-free output hash, the state row count, and the state bytes.
      // The default (HDFS-backed) state provider keeps state bytes a
      // deterministic in-memory measure; RocksDB's memoryUsedBytes
      // reflects SST layout and is restored after.
      def certRun(name: String, tag: String)(
          mk: Dataset[Ingest.Event] => Dataset[_]): (Long, Long, Long) = {
        val qn = s"cert_${name}_$tag"
        val q = mk(src).writeStream.format("memory").queryName(qn)
          .option("checkpointLocation", s"$tmp/certs/$name/$tag/ckpt")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        val (stateRows, stateBytes) = peakState(q.recentProgress.toSeq)
        val hash = orderFreeHash(spark.table(qn))
        spark.catalog.dropTempView(qn)
        (hash, stateRows, stateBytes)
      }
      def cert(name: String, rocks: Boolean = false)(
          mk: Dataset[Ingest.Event] => Dataset[_]): (String, String) = {
        // transformWithState needs RocksDB (multi-column-family state);
        // everything else certs under the HDFS-backed provider, whose
        // memoryUsedBytes is a deterministic in-memory measure.
        // RocksDB's memoryUsedBytes reflects memtable/SST layout whose
        // timing varies between otherwise-identical replays, so the
        // rocks-backed cert declares bytes incomparable instead of
        // risking a false red indistinguishable from real divergence
        // (review r14)
        spark.conf.set("spark.sql.streaming.stateStore.providerClass",
          if (rocks) RocksProvider else HdfsProvider)
        val (ha, ra, ba) = certRun(name, "a")(mk)
        val (hb, rb, bb) = certRun(name, "b")(mk)
        val bytes =
          if (rocks) Seq("state_bytes_comparable" -> false, "state_bytes" -> ba)
          else Seq("state_bytes_match" -> (ba == bb), "state_bytes" -> ba)
        name -> Json.obj(Seq("output_match" -> (ha == hb), "state_rows_match" -> (ra == rb)) ++
          bytes ++ Seq("state_rows" -> ra, "output_hash" -> ha))
      }
      // restore the session provider in a finally: a throwing certRun
      // would otherwise leave the HDFS-backed provider set for any
      // streaming work appended after this section (advice r14)
      val six =
        try Seq(
          cert("pct_alerts")(ev => Ingest.statefulPctAlerts(ev)),
          cert("running_counts_tws", rocks = true)(ev =>
            Ingest.runningCountsTws(ev, initial)),
          cert("dedup_daily")(ev => Ingest.dedupDaily(ev.toDF())),
          cert("welford_zscore")(ev => Ingest.streamingZscoreAnomalies(ev)),
          cert("psi_drift")(ev => Ingest.psiStream(ev, lo = 0.0, hi = 560.0)),
          cert("cusum")(ev => Ingest.cusumStream(ev, baselineMean = 49.87, h = 500.0)))
        finally spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", RocksProvider)
      // provenance pointer, not a measurement: kill-and-resume
      // (restart-from-checkpoint) coverage for all six stateful
      // processors lives in StreamingSpec (VERDICT r15 ask #6); the
      // certs above verify replay determinism only
      val certs = Json.obj(six :+ ("restart_specs" -> Json.str("StreamingSpec kill-and-resume x6: " +
        "pct_alerts, running_counts_tws, dedup_daily, welford_zscore, psi_drift, cusum")))

      // Quarantine dead-letter cert (VERDICT r18 ask #4): inject a known
      // poison census into a staged source — 64 contract-clean rows from
      // the SF events table + 7 rows each missing exactly one required
      // field — and run the REAL startQuarantineSink (parquet dead-letter,
      // batch_id partitions) plus the typed main path over it. The cert
      // is a row-conservation proof: quarantined == injected poison,
      // typed == injected good, and a second replay from a fresh
      // checkpoint writes the identical dead-letter set (order-free
      // reason+key hash).
      val quarantine = {
        val qsrc = tmp.resolve("quarantine_src")
        val good = batch
          .select("event_id", "ts", "user_id", "event_type", "value").limit(64)
        val poison = spark.range(7).selectExpr(
          "IF(id % 4 = 0, CAST(NULL AS LONG), 1000000 + id) AS event_id",
          "IF(id % 4 = 1, CAST(NULL AS LONG), 1700000000000000000 + id) AS ts",
          "IF(id % 4 = 2, CAST(NULL AS LONG), 9000 + id) AS user_id",
          "'poison' AS event_type",
          "IF(id % 4 = 3, CAST(NULL AS DOUBLE), 1.0) AS value")
        good.unionByName(poison).coalesce(1).write.parquet(qsrc.toString)
        val qschema = spark.read.parquet(qsrc.toString).schema
        def qstream = spark.readStream.schema(qschema).parquet(qsrc.toString)
        def deadLetterRun(tag: String): (Long, Long) = {
          val dlq = s"$tmp/quarantine_out/$tag"
          val q = Ingest.startQuarantineSink(qstream, dlq,
            trigger = Trigger.AvailableNow(), checkpoint = s"$dlq-ckpt")
          q.awaitTermination()
          val written = spark.read.parquet(dlq)
          (written.count(), orderFreeHash(written.drop("batch_id")))
        }
        val (nQuarA, hashA) = deadLetterRun("a")
        val (nQuarB, hashB) = deadLetterRun("b")
        val typedQ = Ingest.typedEvents(qstream).writeStream.format("memory")
          .queryName("cert_quarantine_typed")
          .option("checkpointLocation", s"$tmp/quarantine_out/typed-ckpt")
          .trigger(Trigger.AvailableNow()).start()
        typedQ.awaitTermination()
        val nTyped = spark.table("cert_quarantine_typed").count()
        spark.catalog.dropTempView("cert_quarantine_typed")
        Json.obj(Seq("poison_injected" -> 7, "good_injected" -> 64,
          "quarantined" -> nQuarA, "typed" -> nTyped,
          "poison_match" -> (nQuarA == 7L && nTyped == 64L),
          "replay_match" -> (nQuarA == nQuarB && hashA == hashB),
          "deadletter_hash" -> hashA))
      }
      Json.obj(Seq(pct, tws, "quarantine" -> quarantine, "certs" -> certs))
    } finally {
      // drop the symlink dir and checkpoint trees on success AND failure
      // (repeated reps=3 runs would otherwise accumulate /tmp state — and
      // a failed replay leaks the most, mid-build checkpoints)
      try IoUtil.deleteRecursively(tmp) catch { case _: Throwable => () }
    }
  }
}
