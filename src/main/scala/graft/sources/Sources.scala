package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Source/sink layer (SURVEY.md §2.1): schema-explicit CSV/JSON readers
  * with the reference's column-name sanitization, the day-partitioned
  * landing-table sink, and the NaN-scrubbed JSON export.
  *
  * Schema policy (SURVEY §1.3): explicit StructType by default — schema
  * inference re-scans the input (the reference pays that on every run,
  * regression.py:48) and is only offered as an opt-in for exploration.
  */
object Sources {

  /** F2: the scraper's column sanitization — `[$#\[\]/. ]` → `_`
    * (reference scraper/main.py:57, producing names like
    * `**Last_Trade_(Rs_)` that every consumer must reproduce). */
  def sanitizeName(name: String): String = name.replaceAll("[\\$#\\[\\]/\\.\\s]", "_")

  def sanitizeColumns(df: DataFrame): DataFrame =
    df.columns.foldLeft(df)((d, c) => d.withColumnRenamed(c, sanitizeName(c)))

  /** S1: CSV scan — explicit schema (prod) or opt-in inference. With
    * neither, columns read as strings (Spark's schema-on-read default):
    * the zero-config call must NOT silently pay the inference double
    * scan the file-level policy above warns against — inference is the
    * `infer = true` opt-in only. */
  def readCsv(spark: SparkSession, path: String, schema: Option[StructType] = None,
              header: Boolean = true, infer: Boolean = false): DataFrame = {
    val r = spark.read.option("header", header.toString)
    val configured = schema match {
      case Some(s) => r.schema(s)
      case None if infer => r.option("inferSchema", "true")
      case None =>
        // pre-r6 this call inferred by default; callers migrating across
        // that change get string-typed numerics with no other signal, so
        // flag the transition once per JVM (ADVICE r6)
        if (allStringWarned.compareAndSet(false, true))
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"readCsv($path): no schema and infer=false — all columns read as strings; " +
              "pass schema=Some(...) or infer=true for typed columns")
        r
    }
    sanitizeColumns(configured.csv(path))
  }
  private val allStringWarned = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** S4/S7: JSON snapshot scan (schema-on-read with explicit option). */
  def readJson(spark: SparkSession, path: String, schema: Option[StructType] = None): DataFrame = {
    val r = spark.read
    sanitizeColumns(schema.fold(r)(r.schema).json(path))
  }

  /** S3/ST2: idempotent day-partitioned landing write — re-running a day
    * replaces it instead of duplicating (the reference's check-then-write
    * dedup race, scraper/main.py:69-77, made safe). */
  def writeLanding(df: DataFrame, path: String, dayCol: String = "day"): Unit =
    overwritePartitions(df, path, dayCol)

  /** The landing and ingest sinks' one write: parquet partitioned by
    * `partitionCols` under dynamic partition overwrite, so a rerun
    * replaces exactly the partitions its rows name and leaves the
    * others. Local paths go through [[NioLocalFileSystem]]: the same
    * files and permissions, without a forked `chmod` per file. */
  def overwritePartitions(df: DataFrame, path: String, partitionCols: String*): Unit =
    df.write
      .mode("overwrite")
      .partitionBy(partitionCols: _*)
      .option("partitionOverwriteMode", "dynamic")
      .options(NioLocalFileSystem.writeOptions(df.sparkSession))
      .parquet(path)

  /** Compaction / write-shaping sink: lay the frame out as UP TO
    * `nFiles` RANGE-partitioned files sorted within each file by
    * `sortCols` — the "small-files problem" fix every long-running
    * ingest needs, and the layout that makes downstream range predicates
    * on the sort key prune at the parquet row-group level (min/max
    * stats are tight when files are sorted and ranges are disjoint).
    *
    * "Up to": range partitioning cannot split duplicate keys, so a
    * low-cardinality sort key collapses to at most |distinct keys|
    * non-empty files regardless of nFiles. Callers targeting an exact
    * file count append a high-cardinality tiebreak to `sortCols`
    * (e.g. `Seq("day", "event_id")`) — range pruning on the leading
    * column is unaffected.
    *
    * 100 TB shape: repartitionByRange samples the sort key to build
    * balanced range bounds (one pass + one shuffle), each task writes
    * exactly one sorted file, and `maxRecordsPerFile` caps pathological
    * range skew by rolling oversized tasks into multiple files. Callers
    * size nFiles = ceil(bytes / targetFileBytes) from table stats; this
    * is the compaction pass, so the extra stats pass is already paid. */
  def writeCompacted(df: DataFrame, path: String, sortCols: Seq[String],
                     nFiles: Int, maxRecordsPerFile: Long = 0L): Unit = {
    require(nFiles > 0, s"nFiles must be positive, got $nFiles")
    require(sortCols.nonEmpty, "writeCompacted needs at least one sort column")
    writeRangeSorted(df, sortCols, path, nFiles, maxRecordsPerFile, dropCols = Nil)
  }

  /** Shared sink tail of [[writeCompacted]] and [[writeZOrdered]]:
    * range-partition on the key columns, sort within partitions, drop
    * any synthetic key columns AFTER the sort (a projection preserves
    * the order), write with the optional per-file record cap. */
  private def writeRangeSorted(df: DataFrame, keyCols: Seq[String], path: String,
                               nFiles: Int, maxRecordsPerFile: Long,
                               dropCols: Seq[String]): Unit = {
    val cols = keyCols.map(col)
    val w = df.repartitionByRange(nFiles, cols: _*)
      .sortWithinPartitions(cols: _*)
      .drop(dropCols: _*)
      .write.mode("overwrite")
    (if (maxRecordsPerFile > 0) w.option("maxRecordsPerFile", maxRecordsPerFile) else w)
      .parquet(path)
  }

  /** Z-ordered compaction: lay the table out along the Morton
    * (bit-interleaved) curve of TWO columns so parquet row-group and
    * file min/max statistics prune on EITHER dimension —
    * [[writeCompacted]]'s range layout skips only on its leading sort
    * key, while a (user, time) z-layout serves both "one user's
    * history" and "everyone in this window" scans from the same files
    * (the lakehouse OPTIMIZE ZORDER layout, as a plain write shape).
    *
    * Each column is scaled linearly onto `bits` bits between its
    * min/max (ONE bounded aggregate — two scalars per column of driver
    * metadata), then the bits interleave into a single long and the
    * write range-partitions + sorts on that key. Linear scaling keeps
    * the key map-side and deterministic; a heavily skewed column would
    * want quantile scaling (the sampled-bounds trade
    * repartitionByRange already makes internally) — documented, not
    * implemented, until a consumer needs it. Constant columns scale to
    * 0 (no contribution, no division by zero). */
  def writeZOrdered(df: DataFrame, path: String, colA: String, colB: String,
                    nFiles: Int, bits: Int = 16,
                    maxRecordsPerFile: Long = 0L): Unit = {
    require(nFiles > 0, s"nFiles must be positive, got $nFiles")
    require(bits >= 1 && bits <= 31, s"bits must be in [1, 31], got $bits")
    require(!df.columns.contains("__z"),
      "writeZOrdered: the input already has a __z column (the synthetic key name)")
    // bounds + per-row validity in ONE pass: cast BEFORE aggregating so
    // a string column can't sneak lexicographic bounds past the guard,
    // and count nulls so a null-keyed row fails loudly instead of
    // piling into the first range partition
    val mm = df.agg(
      min(col(colA).cast("double")), max(col(colA).cast("double")),
      min(col(colB).cast("double")), max(col(colB).cast("double")),
      count(when(col(colA).cast("double").isNull || col(colB).cast("double").isNull,
        lit(1)))).head()
    require(mm.getLong(4) == 0,
      s"writeZOrdered: ${mm.getLong(4)} rows have null/non-numeric $colA or $colB — " +
        "every row needs both key values")
    val bounds = Seq(mm.getDouble(0), mm.getDouble(1), mm.getDouble(2), mm.getDouble(3))
    require(bounds.forall(v => !v.isNaN && !v.isInfinite),
      s"writeZOrdered: $colA/$colB bounds are not finite ($bounds) — a NaN/Infinity " +
        "value would silently zero that dimension's contribution to the key")
    val top = (1L << bits) - 1
    def scaled(c: String, lo: Double, hi: Double): Column =
      if (hi == lo) lit(0L)
      else ((col(c).cast("double") - lit(lo)) * lit(top) / lit(hi - lo)).cast("long")
    val za = scaled(colA, bounds(0), bounds(1))
    val zb = scaled(colB, bounds(2), bounds(3))
    val z = (0 until bits).map { i =>
      (shiftleft(shiftright(za, i).bitwiseAND(lit(1L)), 2 * i))
        .bitwiseOR(shiftleft(shiftright(zb, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)
    writeRangeSorted(df.withColumn("__z", z), Seq("__z"), path, nFiles,
      maxRecordsPerFile, dropCols = Seq("__z"))
  }

  /** Columnar ORC twin of the parquet landing layout — same predicate
    * pushdown / column pruning machinery (asserted in SourcesSpec), for
    * estates standardized on ORC. */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** S8: JSON export with the NaN→0 scrub (spark_stream.py:149-156).
    * NaN ONLY — a genuine null double (missing measurement) stays null
    * so consumers can tell "missing" from "zero"; na.fill would
    * flatten both to 0.0. */
  def exportJson(df: DataFrame, path: String): Unit = {
    val doubles = df.schema.fields.collect {
      case f if f.dataType == org.apache.spark.sql.types.DoubleType => f.name
    }
    doubles.foldLeft(df)((d, n) =>
        d.withColumn(n, when(isnan(col(n)), lit(0.0)).otherwise(col(n))))
      .write.mode("overwrite").json(path)
  }

  /** Missing-column reconstruction (SURVEY §1.3, spark_stream.py:123-128:
    * the reference derives `price` from `Previous_Close_(Rs_)` +
    * `Change(Rs)` when the record lacks the price field). Generalized
    * schema-drift tolerance: if `target` is ABSENT from the read schema
    * entirely (a drifted source vintage), the fallback expression IS the
    * column; if present, per-row NULLs (mixed vintages merged under
    * mergeSchema) fall back via coalesce. The decision is made ONCE at
    * plan time from the schema — the per-row path is a plain codegen'd
    * coalesce, no reflection in the hot loop. */
  def reconstructColumn(df: DataFrame, target: String, fallback: Column): DataFrame =
    if (df.columns.contains(target))
      df.withColumn(target, coalesce(col(target), fallback))
    else df.withColumn(target, fallback)

  /** F4: multi-format date parse — try yyyy-MM-dd, then yyyyMMdd, then
    * the reference's dd/MMM/yyyy issueDate form (ml_impl.py:22-30). */
  def parseDateMulti(c: Column): Column =
    coalesce(
      try_to_date(c, "yyyy-MM-dd"),   // ANSI-mode to_date throws on
      try_to_date(c, "yyyyMMdd"),     // mismatch; try_ returns null
      try_to_date(c, "dd/MMM/yyyy"))  // so coalesce can fall through

  /** F1+F3: the reference's Date column carries a ".csv" suffix
    * (regression.py:55). */
  def parseDateFromCsvName(c: Column): Column =
    to_date(regexp_replace(c, "\\.csv$", ""), "yyyyMMdd")

  /** F8: UTC → exchange-local wall clock (scraper/main.py:33-34). */
  def toExchangeTime(c: Column, tz: String = "Asia/Colombo"): Column =
    from_utc_timestamp(c, tz)

  /** §1.2/§7.4: unit-suffixed magnitude parse — "41.77B" → 4.177e10,
    * supporting K/M/B/T (either case), signed values, bare numbers pass
    * through. ONE anchored full-string regex: a partial-prefix match
    * would silently parse "1,234.5M" as 1e6 (three orders of magnitude
    * wrong with no null signal) — unparseable input must yield null,
    * not a plausible-looking number. */
  def parseMagnitude(c: Column): Column = {
    val pat = "(?i)^(-?[0-9]*\\.?[0-9]+)([KMBT])?$"
    val t = trim(c)
    // nullif before the cast: regexp_extract yields "" on no match and
    // ANSI-mode cast(''→double) throws; null propagates instead
    val num = nullif(regexp_extract(t, pat, 1), lit("")).cast("double")
    val suffix = upper(regexp_extract(t, pat, 2))
    num * when(suffix === "K", lit(1e3))
      .when(suffix === "M", lit(1e6))
      .when(suffix === "B", lit(1e9))
      .when(suffix === "T", lit(1e12))
      .otherwise(lit(1.0))
  }
}
