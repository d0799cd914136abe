package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.sources.Sources

/** Sink-layer queries: the compaction sink on the same oracle gate as
  * every operator (VERDICT r5 item 5 — `Sources.writeCompacted` was
  * spec-only; a sink whose output nobody re-reads is untested at the
  * contract level).
  *
  * q_compaction_roundtrip writes the events table through the
  * range-partitioned sorted-within-file compaction sink, reads the
  * files back, and returns the full content — the oracle is identity
  * over the source table, so the gate proves the sink loses, duplicates
  * and corrupts nothing (doubles/longs roundtrip parquet bit-exact).
  * The physical-layout properties (per-file sortedness, disjoint
  * ranges, maxRecordsPerFile rolling) stay asserted in SourcesSpec;
  * the file-count cap is additionally enforced here at construction.
  */
object SourceQueries {

  /** Compacted copy written once per (session, dir) — reps in the bench
    * then measure the read-back plan, not a repeated write; the write
    * cost itself is visible in the bench's cold/warmup accounting. */
  private val compacted = SessionMemo("SourceQueries.compacted") { (spark, dir: String) =>
    val tmp = graft.IoUtil.scratchDir("graft-compaction")
    val path = tmp.toString + "/events"
    Sources.writeCompacted(
      Tables.events(spark, dir).select("event_id", "ts", "user_id", "event_type", "value"),
      path, Seq("ts", "event_id"), nFiles = NFiles)
    val files = new java.io.File(path).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    require(files.length >= 1 && files.length <= NFiles,
      s"compaction wrote ${files.length} files, contract is 1..$NFiles")
    path
  }

  private val NFiles = 8

  /** Sink → source roundtrip over the compaction layout: write UP TO
    * [[NFiles]] range-partitioned files sorted by (ts, event_id) —
    * event_id is the high-cardinality tiebreak the writeCompacted
    * contract prescribes for exact file counts — read them back, emit
    * everything. Oracle = the source table verbatim. */
  def qCompactionRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = compacted(spark, dir)
    // ts compared at MICROsecond grain: DuckDB reads parquet
    // TIMESTAMP(NANOS) at its native micro precision, so raw nanos can
    // never hash-match — the roundtrip itself still moves full nanos
    // (the written/reread column is the untouched epoch-nano long)
    spark.read.parquet(out)
      .select(col("event_id"), expr("ts DIV 1000").as("ts_us"), col("user_id"),
        col("event_type"), col("value"))
      .orderBy("event_id")
  }

  /** Bucket count for [[qBucketedJoin]]'s tables. Fixture-scale; a real
    * deployment sizes buckets so each holds one task's worth of data. */
  private val NBuckets = 8
  private val bucketSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** The bucketed (orders, customer) catalog tables for
    * [[qBucketedJoin]], written once per (session, dir) — the
    * cachedCorpusIndex pattern verbatim: temp dirs swept at JVM exit,
    * and table names unique per JVM — the build runs once per (session,
    * dir) and numbers its tables from an AtomicInteger, so no two builds
    * write the same catalog name. Each table is repartitioned
    * onto its bucket column BEFORE the write — bucketBy hashing and
    * repartition() hashing are the same HashPartitioning, so every
    * writer task holds exactly one bucket's rows and the layout is one
    * file per bucket (many small files per bucket is the classic
    * bucketed-write mistake; it also voids the sortBy metadata). */
  private val cachedBucketedTables =
    SessionMemo("SourceQueries.bucketedTables") { (spark, dir: String) =>
      val tmp = graft.IoUtil.scratchDir("graft-bucketed")
      val n = bucketSeq.incrementAndGet()
      def writeBucketed(df: DataFrame, cols: Seq[String], key: String,
                        name: String, path: String): String = {
        df.select(cols.map(col): _*)
          .repartition(NBuckets, col(key))
          .write.format("parquet").bucketBy(NBuckets, key).sortBy(key)
          .option("path", path).saveAsTable(name)
        name
      }
      (writeBucketed(Tables.orders(spark, dir),
          Seq("o_orderkey", "o_custkey", "o_totalprice"), "o_custkey",
          s"graft_orders_bkt_$n", tmp.toString + "/orders"),
        writeBucketed(Tables.customer(spark, dir),
          Seq("c_custkey", "c_mktsegment"), "c_custkey",
          s"graft_customer_bkt_$n", tmp.toString + "/customer"))
    }

  /** Bucketed co-located fact×dim join on the oracle gate (the spec-only
    * BucketingSpec layout, promoted the way q_compaction_roundtrip
    * promoted the compaction sink): orders and customer are persisted
    * bucketed by custkey into the same [[NBuckets]] buckets, so the join
    * consumes both scans' bucket layout and plans ZERO shuffle exchanges
    * under the SortMergeJoin — at 100 TB this is THE fact-fact join
    * shape, paying the partitioning once at write time instead of per
    * query (the only exchange left is the 5-group rollup above the
    * join). The merge hint keeps AQE from electing a broadcast at
    * fixture scale, where the dim side is trivially small — broadcasting
    * would be correct but would stop exercising the layout this query
    * exists to certify; PlanSpec pins SMJ + shuffle-free join subtree.
    * Price totals sum in exact integer cents (the q1 idiom), so the
    * rollup is engine-deterministic. Oracle = the plain join + rollup on
    * the raw parquet: the gate proves the bucketed write/read/join loses
    * and duplicates nothing. */
  def qBucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    val (ot, ct) = cachedBucketedTables(spark, dir)
    val cents = floor(col("o_totalprice") * 100 + 0.5).cast("long")
    spark.table(ot)
      .join(spark.table(ct).hint("merge"),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        (sum(cents) / 100.0).as("sum_price"))
      .orderBy("c_mktsegment")
  }

  /** Shared format-roundtrip plumbing (review r13 leg 4: the ORC, CSV
    * and JSON paths had grown near-verbatim copies of the tempdir +
    * write + read-back + projection recipe — it lives once, like the
    * shared [[RoundtripOracleSql]]): each format's artifact writes the
    * event frame once per (session, dir) through [[writeEvents]], and
    * [[readBack]] emits the micro-grain comparison projection (DuckDB
    * reads parquet TIMESTAMP(NANOS) at micro precision, so raw nanos can
    * never hash-match; the written/reread column is the untouched
    * epoch-nano long). */
  private def writeEvents(spark: SparkSession, dir: String, prefix: String)(
      write: (DataFrame, String) => Unit): String = {
    val path = graft.IoUtil.scratchDir(s"graft-$prefix").toString + "/events"
    write(Tables.events(spark, dir)
      .select("event_id", "ts", "user_id", "event_type", "value"), path)
    path
  }

  private def readBack(df: DataFrame): DataFrame =
    df.select(col("event_id"), expr("ts DIV 1000").as("ts_us"),
        col("user_id"), col("event_type"), col("value"))
      .orderBy("event_id")

  /** The parity-by-identity oracle every format roundtrip compares
    * against — ONE copy for parquet/ORC/CSV. */
  private val RoundtripOracleSql: String =
    """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value
      |FROM events ORDER BY event_id""".stripMargin

  /** ORC copy written once per (session, dir) — the format-breadth twin
    * of [[qCompactionRoundtrip]] (S-family: a lakehouse ingests what it
    * is handed; ORC is the other columnar interchange format Spark
    * reads natively). */
  private val orc = SessionMemo("SourceQueries.orc") { (spark, dir: String) =>
    writeEvents(spark, dir, "orc")((df, path) => df.write.mode("overwrite").orc(path))
  }

  /** Sink → source roundtrip through ORC: the epoch-nano `ts` long
    * survives verbatim (a LONG column has identical semantics in both
    * formats, so the roundtrip proves value fidelity, not just schema
    * transport). ORC scans give Catalyst the same pushdown/pruning
    * surface as parquet (`PushedFilters` in .explain), so the engine's
    * scan layer is format-agnostic at any scale. */
  def qOrcRoundtrip(spark: SparkSession, dir: String): DataFrame =
    readBack(spark.read.orc(orc(spark, dir)))

  /** S1's oracle-gated form — events written as header CSV and read
    * back under an EXPLICIT schema (inferSchema's per-run re-parse is
    * the reference tax this engine exists to avoid), then compared
    * cell-exact against the parquet source. CSV is a TEXT format: the
    * long columns round-trip trivially and the double `value` survives
    * via Java's shortest-round-trip rendering parsed back to identical
    * bits — the parity-by-identity oracle is the proof. The write-side
    * whitespace trimming Spark defaults ON is disabled so string cells
    * survive verbatim (review r13 leg 4 — the fidelity claim must
    * hold for values the fixture doesn't happen to exercise).
    * Completes the format triangle beside q_compaction_roundtrip
    * (parquet) and q_orc_roundtrip (ORC). */
  private val csv = SessionMemo("SourceQueries.csv") { (spark, dir: String) =>
    writeEvents(spark, dir, "csv")((df, path) => df.write.mode("overwrite")
      .option("header", "true")
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      // a distinct NULL token: with the default nullValue="" the
      // READER maps BOTH an unquoted empty field and a quoted ""
      // back to NULL (univocity compares nullValue after unquoting),
      // silently merging empty-string and NULL cells — the r18
      // hostile twin's ''-typed event came back NULL. \N in, \N out
      // keeps the two distinguishable, CSV's only faithful encoding
      .option("nullValue", "\\N")
      .option("emptyValue", "\"\"")
      .csv(path))
  }

  private val json = SessionMemo("SourceQueries.json") { (spark, dir: String) =>
    writeEvents(spark, dir, "json")((df, path) => df.write.mode("overwrite").json(path))
  }

  /** S8's source-side twin — events written as JSON LINES and read back
    * under an EXPLICIT schema (schema inference re-parses the corpus
    * per run, the CSV rule): the double column proves Spark's
    * shortest-round-trip JSON rendering parses back to identical bits
    * and the epoch-nano long survives verbatim, completing the format
    * family (parquet/ORC/CSV/JSON) on the ONE shared
    * [[RoundtripOracleSql]] identity oracle. FAILFAST for the same
    * loud-failure contract as the CSV read. */
  def qJsonRoundtrip(spark: SparkSession, dir: String): DataFrame =
    readBack(spark.read
      .schema("event_id LONG, ts LONG, user_id LONG, event_type STRING, " +
        "value DOUBLE")
      .option("mode", "FAILFAST")
      .json(json(spark, dir)))

  def qCsvRoundtrip(spark: SparkSession, dir: String): DataFrame =
    readBack(spark.read
      .schema("event_id LONG, ts LONG, user_id LONG, event_type STRING, " +
        "value DOUBLE")
      .option("header", "true")
      .option("nullValue", "\\N")
      .option("emptyValue", "")
      // multiLine: a string cell containing a quoted line separator
      // must not split records (costs line-split read parallelism —
      // the correctness query pays it; a bulk ingest that bans
      // embedded newlines would not); FAILFAST: a mangled record
      // fails LOUDLY instead of PERMISSIVE's silent null padding
      .option("multiLine", "true")
      .option("mode", "FAILFAST")
      .csv(csv(spark, dir)))

  private val recon = SessionMemo("SourceQueries.recon") { (spark, dir: String) =>
    val path = graft.IoUtil.scratchDir("graft-recon").toString + "/events"
    val ev = Tables.events(spark, dir)
      .withColumn("value_micros", expr("CAST(round(value * 1000000) AS LONG)"))
    ev.filter(col("event_id") % 5 =!= 0)
      .select("event_id", "ts", "user_id", "event_type", "value_micros")
      .write.mode("overwrite").parquet(path)
    ev.filter(col("event_id") % 5 === 0)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        (col("value_micros") - 13L).as("value_micros_base"),
        lit(13L).as("value_micros_change"))
      .write.mode("append").parquet(path)
    path
  }

  /** Schema-drift reconstruction (SURVEY §1.3, wave 5 — the reference's
    * missing-price path, spark_stream.py:123-128): the staged source
    * holds TWO parquet vintages of the event feed in one directory —
    * vintage A carries `value_micros` directly; vintage B (every 5th
    * event) LACKS the column and instead carries the reference-shaped
    * companion pair (`value_micros_base` + `value_micros_change`, the
    * Previous_Close + Change analogue). The read merges the vintages
    * (mergeSchema) and [[Sources.reconstructColumn]] fills the drifted
    * rows from the companion sum — per-row work is one codegen'd
    * coalesce. Micros are exact LONGs end-to-end, so reconstruction is
    * bit-exact and the oracle re-derives the same integer from the
    * source table. The column-ABSENT branch (single-vintage read, no
    * merge) is spec-pinned in SourcesSpec.
    *
    * Contract: event_id is the events PK and non-NULL (the declared
    * fixture precondition — hostile_fixtures.py's contract list); a
    * NULL id would satisfy neither vintage filter (NULL % 5 is NULL
    * under both === and =!=) and vanish from the staged source, which
    * the identity oracle would immediately flag as a row-count
    * mismatch — a loud failure, not a silent wrong answer. */
  def qValueRecon(spark: SparkSession, dir: String): DataFrame = {
    val merged = spark.read.option("mergeSchema", "true").parquet(recon(spark, dir))
    Sources.reconstructColumn(merged, "value_micros",
        col("value_micros_base") + col("value_micros_change"))
      .select("event_id", "value_micros")
      .orderBy("event_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_value_recon" -> qValueRecon _,
    "q_compaction_roundtrip" -> qCompactionRoundtrip _,
    "q_orc_roundtrip" -> qOrcRoundtrip _,
    "q_json_roundtrip" -> qJsonRoundtrip _,
    "q_csv_roundtrip" -> qCsvRoundtrip _,
    "q_bucketed_join" -> qBucketedJoin _)

  val oracles: Map[String, String] = Map(
    // parity-by-identity: the SAME oracle through each format's
    // write/read path (the CSV leg additionally proves the double
    // column's shortest-round-trip text rendering)
    "q_value_recon" ->
      """SELECT event_id, CAST(round(value * 1000000) AS BIGINT) AS value_micros
        |FROM events ORDER BY event_id""".stripMargin,
    "q_compaction_roundtrip" -> RoundtripOracleSql,
    "q_orc_roundtrip" -> RoundtripOracleSql,
    "q_json_roundtrip" -> RoundtripOracleSql,
    "q_csv_roundtrip" -> RoundtripOracleSql,
    // the UNbucketed twin: plain parquet join + rollup (HUGEINT cents
    // sum cast to BIGINT before the /100.0 per invariant 1)
    "q_bucketed_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0 AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
}
