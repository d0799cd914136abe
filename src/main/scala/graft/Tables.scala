package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Readers for the driver-generated star schema (TESTDATA.md / FIXTURES.md §B).
  *
  * Explicit-by-name parquet scans: Catalyst prunes columns and pushes
  * predicates into these scans automatically, so every query built on top
  * starts from a columnar, statistics-aware source — the scan layer the
  * reference lacks (its CSV loads with inferSchema are re-parsed per run,
  * see reference `ml-algorithms/regression.py:48-53`).
  */
object Tables {
  /** Resolved-relation memo, keyed by (session, dir, table). Resolving a
    * parquet relation costs ~90 ms of driver time (directory listing +
    * footer/schema read + DataSource resolution — measured r15, ~10× the
    * cost of analyzing and planning a whole query on the already-resolved
    * relation), and the fixture tables are static for a session's
    * lifetime, so re-resolving per query execution is pure waste — this
    * is exactly the resolve-once behavior `spark.table()` gets from a
    * catalog, expressed for path-addressed tables. The memoized
    * DataFrame is an immutable logical plan (thread-safe, reusable across
    * any number of queries); the deliberate consequence is that files
    * REPLACED under a memoized path are not re-listed within a session —
    * catalog semantics, fine for the static star schema and wrong for
    * nothing in this repo (every call site reads driver-generated
    * fixtures, audited r15). */
  private val relation = graft.queries.SessionMemo("Tables.relation") {
    (spark, key: (String, String)) =>
      val (dir, name) = key
      // Older fixture vintages write events.ts as TIMESTAMP(NANOS), which
      // Spark's vectorized reader rejects; the legacy flag reads those nanos
      // as epoch-nano longs. Newer vintages write timestamp[us]
      // (isAdjustedToUTC=false → TIMESTAMP_NTZ). Set here (not in the
      // session builder) so driver-created sessions that call queries
      // directly also get it, then normalize so BOTH vintages surface the
      // same canonical type (see normalizeTs).
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      normalizeTs(spark.read.parquet(s"$dir/$name.parquet"))
  }

  def read(spark: SparkSession, dir: String, name: String): DataFrame =
    relation(spark, (dir, name))

  /** Engine invariant: a column named `ts` is an epoch-NANOSECOND long.
    * Ordering, lag/window and interval arithmetic over the long are
    * identical to the timestamp; eventTs/eventDay (TimeSeriesQueries)
    * convert where wall-clock values are needed. Fixture vintages differ
    * (TIMESTAMP(NANOS)-as-long vs timestamp[us]-as-NTZ), so convert any
    * timestamp-typed `ts` here — one reader-side projection instead of a
    * type fork in every downstream operator. The NTZ case subtracts the
    * epoch via timestampdiff, which involves no session timezone (the
    * generator writes UTC instants as naive wall clocks). Works on batch
    * and streaming frames alike. */
  def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.expr
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(TimestampNTZType) =>
        df.withColumn("ts",
          expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts) * 1000L"))
      case Some(TimestampType) =>
        df.withColumn("ts", expr("unix_micros(ts) * 1000L"))
      case _ => df
    }
  }

  /** Wall-clock calendar day of the epoch-nano `ts` invariant — THE
    * shared nanos→day conversion (review r10: three hand-rolled copies
    * had grown across queries and specs; the truncation rule must live
    * once). `div` keeps the arithmetic integral — a double division
    * would lose precision above 2^53. */
  def eventDay: org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{expr, timestamp_micros, to_date}
    to_date(timestamp_micros(expr("ts div 1000")))
  }

  def region(spark: SparkSession, dir: String): DataFrame    = read(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = read(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = read(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = read(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = read(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = read(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = read(spark, dir, "lineitem")
  def events(spark: SparkSession, dir: String): DataFrame    = read(spark, dir, "events")
  def documents(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "embeddings")

  /** Scale-adaptive pre-shuffle parallelism guard for HEAVY map
    * pipelines (r20 optimization). The fixture tables are single-file,
    * SINGLE-ROW-GROUP parquet (verified with pyarrow at sf0.1), so a
    * scan yields exactly ONE task no matter what
    * `spark.sql.files.maxPartitionBytes` / `minPartitionNum` say — a
    * parquet split can't cut a row group. Every expensive map stage
    * glued below a query's first exchange (md5 fan-outs, tokenize +
    * shingle explodes, sketch-buffer partial aggregates) therefore ran
    * on one core of the 32 (StageProf: q_bootstrap_ci's grid stage =
    * 853 ms wall, 826 ms cpu, tasks=1 — the whole query's compute).
    * This helper inserts ONE deterministic hash repartition on `key`
    * iff the frame's planned parallelism is below the session default;
    * on a production table with >= cores splits it adds NOTHING (the
    * branch reads partition metadata, no job), so the plan adapts to
    * the input instead of being tuned for either environment — the
    * guide's "unsplittable input: repartition immediately after the
    * read" remedy, made conditional. Hash (not round-robin)
    * partitioning: deterministic under task retry, no
    * sortBeforeRepartition cost.
    *
    * Intended for SCAN-LEVEL frames only (advice r20): the guard reads
    * `df.rdd.getNumPartitions`, which instantiates the frame's non-AQE
    * physical RDD lineage — metadata-cheap for a raw scan or a cached
    * frame (every current caller), but it would plan the whole subtree
    * for a complex frame, and the pre-AQE partition count it reads can
    * differ from what AQE would execute. Pass the table as read, not a
    * derived pipeline. */
  def distributed(df: DataFrame, key: String, parts: Int = 0): DataFrame = {
    import org.apache.spark.sql.functions.col
    val cores = df.sparkSession.sparkContext.defaultParallelism
    // repartition WITH an explicit partition count: a bare
    // repartition(col) is an AQE-coalescible shuffle, and at fixture
    // byte sizes AQE folds it straight back to one partition (measured:
    // the q_bootstrap_ci grid stage stayed tasks=1 behind a keyed
    // repartition — 1.5 MB < the advisory size). The explicit count is
    // config-derived (the session's core budget), optionally capped by
    // the caller's row-derived `parts` (wave-3 measurement: a 32-way
    // layout on the 5k-row document corpus cost more per-task overhead
    // across the text family's ~30 light consumers than it bought the
    // heavy ones — partition count must track the data grain, not just
    // the core count).
    val target = if (parts > 0) math.max(1, math.min(parts, cores)) else cores
    if (df.rdd.getNumPartitions < target) df.repartition(target, col(key))
    else df
  }
}
