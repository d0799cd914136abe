package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.sources.Sources

/** Scalar-function coverage queries (SURVEY.md §2.8): date component
  * extraction/arithmetic (F5-F7) and the unit-suffixed magnitude parse
  * (§1.2/§7.4 — "41.77B" → 4.177e10). Suffixed strings are synthesized
  * from integer columns so both engines render identical text. */
object ScalarQueries {

  /** Single-key equi-join that KEEPS NULL-keyed groups (hostile sweep
    * r18): the Seq-form join uses null-rejecting `=`, so when both
    * sides aggregate the same frame and the group key holds NULLs, the
    * NULL group survives both aggregations and then silently vanishes
    * at the join — the sketch-vs-exact A/B queries lost their NULL
    * stratum this way. `<=>` matches the oracles' plain GROUP BY
    * semantics. Broadcast hints on `right` survive the rename. */
  private def joinKeyNullSafe(left: DataFrame, right: DataFrame,
                              key: String): DataFrame =
    left.join(right.withColumnRenamed(key, "__nsk"),
      col(key) <=> col("__nsk")).drop("__nsk")

  def qDateParts(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .filter(col("o_orderkey") < 100)
      .select(col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("d"),
        date_add(to_date(col("o_orderdate")), 1).as("next_day"),
        date_sub(to_date(col("o_orderdate")), 7).as("week_before"))
      .orderBy("o_orderkey")

  def qUnitSuffix(spark: SparkSession, dir: String): DataFrame = {
    val suffix = element_at(
      array(lit("K"), lit("M"), lit("B"), lit("T")),
      (pmod(col("p_partkey"), lit(4)) + 1).cast("int"))
    Tables.part(spark, dir)
      .filter(col("p_partkey") < 100)
      .withColumn("raw", concat(col("p_size").cast("string"), suffix))
      .select(col("p_partkey"), col("raw"),
        Sources.parseMagnitude(col("raw")).as("value"))
      .orderBy("p_partkey")
  }

  /** CUBE grouping sets (beyond-reference, free from Catalyst). The
    * 'ALL' margin label comes from grouping(), NOT coalesce (review
    * r16): a NULL-keyed DATA group must stay NULL in the output — the
    * coalesce form collided it with the rollup margin, two
    * indistinguishable 'ALL' rows with different sums, and the
    * mirrored oracle was structurally blind to it. */
  /** DECLARED ENGINE DIVERGENCE (degenerate sweep r19), shared by every
    * grouping-set form here (cube/rollup/groupingSets): over an EMPTY
    * relation Spark's Expand→HashAggregate emits ZERO rows, while the
    * SQL standard (and DuckDB/PostgreSQL) treats the `()` grouping set
    * as a global aggregate and emits one grand-total row (count 0).
    * Restoring the standard row in Spark would take a second scan +
    * union + dedup — the wrong 100 TB plan for a 0-row edge — so the
    * divergence is declared and pinned (ScalarSpec) instead: a consumer
    * gating on the grand-total row must guard the empty-input case. */
  private[graft] def cubeSummary(li: DataFrame): DataFrame =
    li.cube("l_returnflag", "l_linestatus")
      // grouping() is only legal inside the aggregate's expression
      // list (Catalyst UNSUPPORTED_GROUPING_EXPRESSION in a post-agg
      // Project), so the labels are agg outputs
      .agg(
        when(grouping(col("l_returnflag")) === 1, lit("ALL"))
          .otherwise(col("l_returnflag")).as("flag"),
        when(grouping(col("l_linestatus")) === 1, lit("ALL"))
          .otherwise(col("l_linestatus")).as("status"),
        rnd(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("cnt"))
      .select(col("flag"), col("status"), col("sum_qty"), col("cnt"))
      // NULLS LAST pinned on BOTH engines (ADVICE r17): Spark sorts
      // NULLS FIRST by default, DuckDB NULLS LAST — and the r16
      // grouping() fix is exactly what lets NULL data keys reach this
      // orderBy. Latent on the null-free fixture; explicit so any
      // null-keyed input orders identically.
      .orderBy(asc_nulls_last("flag"), asc_nulls_last("status"))

  def qCube(spark: SparkSession, dir: String): DataFrame =
    cubeSummary(Tables.lineitem(spark, dir))

  /** Mixed GROUPING SETS — the grain combination neither rollup nor
    * cube expresses: the full (flag, status) cross, the status-only
    * margin, and the grand total, but NOT the flag-only margin (a
    * report that never reads it shouldn't pay its aggregation). One
    * Expand + one hash aggregate in the plan — same shuffle cost as a
    * plain groupBy times the number of sets, all partials map-side
    * combinable (Spark 4 Dataset.groupingSets). */
  def qGroupingSets(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_linestatus")), Seq.empty),
        col("l_returnflag"), col("l_linestatus"))
      .agg( // grouping()-based margin labels — the cubeSummary rule
        when(grouping(col("l_returnflag")) === 1, lit("ALL"))
          .otherwise(col("l_returnflag")).as("flag"),
        when(grouping(col("l_linestatus")) === 1, lit("ALL"))
          .otherwise(col("l_linestatus")).as("status"),
        rnd(sum(col("l_quantity")), 2).as("sum_qty"),
        count(lit(1)).as("cnt"))
      .select(col("flag"), col("status"), col("sum_qty"), col("cnt"))
      // NULLS LAST on both engines — the cubeSummary rule
      .orderBy(asc_nulls_last("flag"), asc_nulls_last("status"))
  }

  /** Known event types — THE pivot column list shared by [[qPivot]] and
    * [[qUnpivot]] (an explicit list keeps the pivot single-pass;
    * discovery would add a distinct scan; one copy so the two reshapes
    * cannot drift — review-pass finding). The fixture contract is
    * PINNED by a ScalarSpec test (ADVICE r12): the oracles aggregate
    * every event_type present, so a new fixture type would silently
    * drop rows on the Spark side only — the spec makes it fail loudly
    * instead. */
  private[graft] val EventTypes =
    Seq("click", "error", "purchase", "signup", "view")

  /** Wide↔long reshaping round trip: per-day counts pivoted to one
    * column per event type, then MELTED back with Dataset.unpivot — the
    * inverse operator q_pivot lacked. The unpivot is a zero-shuffle
    * Expand over the wide frame (each wide row emits |types| long
    * rows); absent (day, type) cells surface as NULL and are filtered,
    * so the round trip lands exactly on the groupBy the oracle states.
    * At scale the wide frame is the bounded (days × types) grid — the
    * reshape never touches the fact grain a second time. */
  def qUnpivot(spark: SparkSession, dir: String): DataFrame = {
    val wide = Tables.events(spark, dir)
      .select(col("event_type"), graft.Tables.eventDay.as("day"))
      .groupBy("day").pivot("event_type", EventTypes).count()
    wide
      .unpivot(Array(col("day")), EventTypes.map(col).toArray,
        "event_type", "n")
      .filter(col("n").isNotNull)
      .orderBy("day", "event_type")
  }

  /** Semi-structured property extraction + profile (F-family: JSON
    * path access, the flat-scalar complement of q_event_json's nested
    * flatten): `props.k` pulled with get_json_object (codegen'd path
    * evaluation — no schema inference pass, no UDF), banded by integer
    * division and rolled to a (type × band) histogram with exact
    * per-band integer stats. Missing/corrupt JSON yields a NULL k that
    * lands in band NULL — kept, so parse failures are VISIBLE in the
    * profile rather than silently dropped. Scale: per-row path
    * extraction is scan-parallel; the rollup is histogram-shaped. */
  def jsonProfile(df: DataFrame, typeCol: String,
                  propsCol: String): DataFrame = {
    // try_cast through DOUBLE then floor: malformed JSON and
    // non-numeric k land in the NULL band on BOTH engines (an ANSI
    // string->int cast would throw here, and DuckDB's plain CAST
    // rounds "3.7" where Spark truncates — review r12 pass 3).
    // NaN/±Inf and beyond-INT-range doubles are ALSO NULL-banded
    // explicitly (review r12 pass 4): DuckDB TRY_CAST parses 'inf'
    // where Spark yields NULL, Spark's non-ANSI long→int cast wraps
    // where DuckDB's CAST throws — the range guard is the one
    // expression both engines evaluate identically
    val d = expr(s"try_cast(get_json_object(`$propsCol`, '$$.k') AS DOUBLE)")
    val k = when(!isnan(d) && d >= -2147483648.0 && d < 2147483648.0,
      floor(d).cast("int"))
    df.select(col(typeCol).as("event_type"), k.as("k"))
      .groupBy(col("event_type"),
        // floor, not a bare cast: DuckDB's double→int cast ROUNDS
        // where Spark truncates (the F-family parity rule)
        floor(col("k") / lit(10.0)).cast("int").as("k_band"))
      .agg(count(lit(1)).as("n"), min(col("k")).as("k_min"),
        max(col("k")).as("k_max"))
  }

  def qJsonProfile(spark: SparkSession, dir: String): DataFrame =
    jsonProfile(Tables.events(spark, dir), "event_type", "props")
      .orderBy("event_type", "k_band")

  /** Exact distinct counts per group (the approx HLL twin is spec-tested
    * against these in ScalarSpec — approx values can't hash-match). */
  def qCountDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_partkey")).as("nd_parts"),
        countDistinct(col("l_suppkey")).as("nd_supps"),
        count(lit(1)).as("cnt"))
      .orderBy("l_returnflag")

  /** Exact percentiles with linear interpolation. Quantity is integral so
    * interpolated values are exact quarters — tie-free across engines. */
  def qPercentile(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        expr("percentile(l_quantity, 0.25)").as("p25"),
        expr("percentile(l_quantity, 0.5)").as("median"),
        expr("percentile(l_quantity, 0.75)").as("p75"))
      .orderBy("l_returnflag")

  /** Explode/flatten (§2.7's flatten-union pattern): classic wordcount
    * over the document corpus — split → explode → grouped count. */
  def qWordcount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(graft.functions.TextFunctions.tokens(col("text")))
        .as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy("token")

  /** Pivot: per-user event-type counts as columns (fixed value list keeps
    * the schema deterministic; oracle via portable CASE sums). */
  def qPivot(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("user_id")
      .pivot("event_type", EventTypes)
      .agg(count(lit(1)))
      .na.fill(0)
      .orderBy("user_id")

  /** Histogram binning: 50-unit value buckets with counts + bucket sums. */
  def qHistogram(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("bucket", floor(col("value") / 50).cast("long"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("cnt"), rnd(sum(col("value")), 2).as("sum_value"))
      .orderBy("bucket")

  /** Correlation / covariance statistics per group (irrational outputs —
    * engine noise is far below the rounding scale).
    *
    * Guarded forms, not the corr()/covar_samp() built-ins: on a
    * single-row or zero-variance group the built-ins' evaluate
    * expressions divide by zero — ANSI Spark THROWS where DuckDB
    * yields NULL (hostile sweep r18: the empty-string-flag group has
    * one row). covar_pop/(stddev_pop*stddev_pop) and
    * covar_pop*n/(n-1) are the same estimators with the degenerate
    * case nullif'd to the oracle's NULL; float noise vs the built-ins
    * is ulp-scale, far below the 1e-4 rounding. */
  def qStatsCorr(spark: SparkSession, dir: String): DataFrame = {
    // Pairwise-complete moments (ADVICE r18): DuckDB's corr()/
    // covar_samp() built-ins draw every moment — counts AND marginal
    // stddevs — from rows where BOTH columns are non-null. Spark's
    // covar_pop already skips half-null pairs, but stddev_pop(x) and
    // count(x) see every non-null x; a NULL landing in exactly one of
    // the pair's columns would diverge. Masking each input through the
    // pair's joint non-null predicate makes every estimator read the
    // same pairwise-complete subset as the oracle's built-ins.
    def pairwise(x: String, other: String): Column =
      when(col(x).isNotNull && col(other).isNotNull, col(x))
    val qP = pairwise("l_quantity", "l_extendedprice")
    val pP = pairwise("l_extendedprice", "l_quantity")
    val qD = pairwise("l_quantity", "l_discount")
    val dQ = pairwise("l_discount", "l_quantity")
    val n = count(qD).cast("double")
    val corrSafe = covar_pop(qP, pP) /
      nullif(stddev_pop(qP) * stddev_pop(pP), lit(0.0))
    val covSamp = covar_pop(qD, dQ) * n /
      nullif(n - 1.0, lit(0.0))
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        rnd(corrSafe, 4).as("corr_qty_price"),
        rnd(covSamp, 4).as("cov_qty_disc"))
      .orderBy("l_returnflag")
  }

  /** Row cap for the sketch-family diagnostic inputs, interpolated
    * into BOTH engines. For [[qApproxSketch]]'s events input (10k rows
    * at sf0.01) the cap keeps everything, so small-SF values equal the
    * uncapped form; for [[qProfile]]'s lineitem input it ALREADY binds
    * at sf0.01 (60k rows → ~19.6k kept), so q_profile's sf0.01 gate
    * values are subsample statistics by design, not full-scan values
    * (review r16 corrected a comment claiming the cap binds only at
    * sf0.1+ — true for events, not lineitem). */
  val SketchDiagCap = 20000L

  /** Sketch family: HyperLogLog++ distinct counts and GK-summary
    * approximate percentiles, HARD-gated (VERDICT r8 ask #3): the output
    * carries the exact twins plus within-bound BOOLEANS, and the DuckDB
    * oracle emits the same exact values with literal TRUE — the raw
    * sketch estimates can't cross the hash gate (DuckDB's sketch
    * algorithms differ), but a sketch drifting past ±5% of exact flips a
    * boolean and fails the row, so accuracy is on the driver's
    * cell-exact compare instead of a self-filter. Sketch parameters are
    * sized so the gate is deterministic-in-practice: HLL++ at rsd 0.01
    * puts the 5% bound 5σ out; percentile accuracy 10000 bounds rank
    * error at n/10000.
    *
    * BOUNDED diagnostic input (VERDICT r9 ask #5 — at sf0.1 the exact
    * comparators made this the board's most expensive query, 6.75 s, and
    * the bench was pricing a shape no production caller runs): both the
    * sketches and their exact twins now run over a deterministic
    * cross-engine hash subsample capped at ≈[[SketchDiagCap]] rows — the
    * shared md5 draw idiom, with the keep test in exact INTEGER
    * arithmetic (hash·total < cap·2³²; no float boundary row can differ
    * between engines; overflows only past ~2·10⁹ rows, where a capped
    * diagnostic would sample by fraction literal instead). Under the cap
    * the filter keeps everything, so small-SF values are identical to the
    * uncapped form. Sketch-vs-exact on the SAME capped input is still the
    * accuracy A/B (HLL++ relative error is size-independent; the GK rank
    * bound only tightens at 20k rows), and every column stays oracled.
    * At 100 TB the sketches are the point: mergeable partial state, one
    * pass, no giant distinct shuffle — the exact comparators exist solely
    * to measure the bound (the production plan is [[qSketchLean]]). */
  /** Memoized diagnostic subsample for [[qApproxSketch]] (verdict r17
    * ask #2b): the bounded md5 draw is DIAGNOSTIC input — the A/B's
    * value is the sketch-vs-exact booleans, not the draw's scan cost —
    * so it rides a localCheckpoint'd per-(session, dir) frame like the
    * span-dedup rowhash twin: the two aggregate consumers (and bench
    * reps) read ~20k materialized rows instead of re-running the full
    * fact scan + hash filter each. localCheckpoint, not cache(): no
    * CacheManager registration, so no other query's identical subplan
    * gets silently subsumed (the q_span_dedup lesson). The production
    * twin q_sketch_lean still prices the real one-pass plan fresh. */
  private val sketchDiag = SessionMemo("ScalarQueries.sketchDiag") { (spark, dir: String) =>
    val ev = Tables.events(spark, dir)
    val total = ev.agg(count(lit(1)).as("total"))
    val h = graft.functions.TextFunctions.hash32(
      concat(col("event_id").cast("string"), lit("|sketchdiag")))
    ev.crossJoin(broadcast(total))
      .filter(h * col("total") < lit(SketchDiagCap) * lit(4294967296L))
      .select("event_type", "user_id", "value")
      .localCheckpoint(true)
  }

  def qApproxSketch(spark: SparkSession, dir: String): DataFrame = {
    val diag = sketchDiag(spark, dir)
    // exact-distinct in its OWN aggregation, broadcast-joined back: mixing
    // countDistinct with the other aggregates triggers Spark's two-phase
    // distinct rewrite, whose partial aggregate keys on (event_type,
    // user_id) and materializes the rsd-0.01 HLL buffer (~1.6k longs) AND
    // the percentile value buffer PER PAIR — measured 89.6 MiB of partial
    // state shuffled at sf0.1 and ~5 s of the old 6.75 s. Split, the
    // sketch aggregate stays keyed by event_type (5 groups) and the
    // distinct state exists only where it is actually needed.
    val exactUsers = diag.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("users_exact"))
    diag.groupBy("event_type")
      .agg(
        approx_count_distinct(col("user_id"), 0.01).as("users_approx"),
        percentile_approx(col("value"), lit(0.5), lit(10000)).as("p50_approx"),
        expr("percentile(value, 0.5)").as("p50_raw"))
      .transform(joinKeyNullSafe(_, broadcast(exactUsers), "event_type"))
      // abs() on the denominator: a signed divisor would auto-pass every
      // negative-median stratum; the <= form keeps exact-zero medians
      // passing when the sketch agrees exactly
      .select(
        col("event_type"),
        col("users_exact"),
        rnd(col("p50_raw"), 4).as("p50_exact"),
        (abs(col("users_approx") - col("users_exact")) <=
          lit(0.05) * col("users_exact")).as("users_within"),
        (abs(col("p50_approx") - col("p50_raw")) <=
          lit(0.05) * abs(col("p50_raw"))).as("p50_within"))
      .orderBy("event_type")
  }

  /** PRODUCTION twin of [[qApproxSketch]] (VERDICT r4 item 5): no exact
    * `count(distinct)` / `percentile` comparators, so the plan is the
    * one-pass mergeable-partial-state aggregation a 100 TB caller
    * actually runs — the only exact aggregates here (count/min/max) are
    * constant-size map-side partials, nothing that re-introduces the
    * per-key distinct state or full-value sort the sketches exist to
    * avoid. Hard-gated (VERDICT r8 ask #3) on theorems rather than
    * tolerance: percentile_approx returns an actual element of the data,
    * so p50 ∈ [min, max] is exact; distinct ≤ row count is exact.
    * The `users_approx ≤ 1.2·cnt` cap is a GROSS-sanity bound only
    * (ADVICE r9): cnt counts ROWS, so whenever users repeat the cap is
    * arbitrarily loose — it catches a catastrophically broken sketch
    * (NaN, negative, order-of-magnitude blowup), not ±5% drift. A
    * tighter cap would need per-key distinct state, precisely what this
    * plan exists to avoid; the real ±5% accuracy evidence lives in
    * [[qApproxSketch]]'s oracled A/B booleans. */
  def qSketchLean(spark: SparkSession, dir: String): DataFrame =
    // NOT Tables.distributed (r20, measured): the single-split scan
    // does serialize the HLL++/GK buffer updates on one task (StageProf
    // 342 ms), but distributing them was WORSE (0.71 -> 1.19 s A/B) —
    // 32 partial buffer sets per group shuffle ~KB..MB of sketch state
    // and the GK merge cost exceeds the update work it parallelizes at
    // this group count. At real split counts the partials distribute
    // anyway; forcing it here pays merge for no win.
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("cnt"),
        min(col("value")).as("vmin_raw"),
        max(col("value")).as("vmax_raw"),
        approx_count_distinct(col("user_id"), 0.01).as("users_approx"),
        percentile_approx(col("value"), lit(0.5), lit(10000)).as("p50_approx"))
      .select(
        col("event_type"), col("cnt"),
        rnd(col("vmin_raw"), 4).as("vmin"),
        rnd(col("vmax_raw"), 4).as("vmax"),
        (col("users_approx") >= lit(1L) &&
          col("users_approx") <= col("cnt").cast("double") * lit(1.2) &&
          col("p50_approx").between(col("vmin_raw"), col("vmax_raw"))).as("sketch_sane"))
      .orderBy("event_type")

  /** Heavy hitters with a count-min sketch beside the exact answer —
    * the third member of the sketch family (HLL++ distincts, GK
    * percentiles, now CMS frequencies; the approximate form of the A3
    * group-count / wordcount top-N surface). Per event_type: the exact
    * top-3 users by frequency (rank-limited window — Spark plans the
    * rn<=3 filter as a WindowGroupLimit cut, no full sort) joined to
    * that type's `count_min_sketch` aggregate (constant-size map-side
    * partials, tree-merged — the 100 TB path where per-key exact counts
    * are the thing being avoided; the exact side here is the
    * diagnostic, as in q_approx_sketch). Each candidate probes its
    * group's sketch through [[graft.functions.SketchFunctions
    * .cmsEstimate]] and the output carries the CMS theorems as
    * oracle-pinned booleans: estimate ≥ exact (a CMS cell only ever
    * adds — deterministic), and estimate ≤ exact + ⌈ε·N⌉ (holds with
    * probability ≥ confidence per probe; at fixture scale the distinct
    * user count per type is far under the sketch width ⌈2/ε⌉ = 4000 at
    * ε = 0.0005 (spark-sketch CountMinSketchImpl: width = ceil(2/eps),
    * depth = ceil(−ln(1−conf)/ln 2) = 7 — review r16 corrected an
    * earlier 2·⌈e/ε⌉ ≈ 10874 claim that overstated collision headroom
    * 2.7×), so the realized error is 0 and the fixed seed makes the
    * gate stable). */
  def qHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, dir)
    val sketches = ev.groupBy("event_type").agg(
      expr("count_min_sketch(user_id, cast(0.0005 as double), cast(0.99 as double), 42)").as("cms"),
      count(lit(1)).as("n_type"))
    val w = Window.partitionBy("event_type").orderBy(desc("cnt"), col("user_id"))
    val est = graft.functions.SketchFunctions.cmsEstimate(col("cms"), col("user_id"))
    ev.groupBy("event_type", "user_id").agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .transform(joinKeyNullSafe(_, broadcast(sketches), "event_type"))
      .select(col("event_type"), col("rn"), col("user_id"), col("cnt"),
        (est >= col("cnt")).as("cms_no_undercount"),
        (est <= col("cnt") + ceil(lit(0.0005) * col("n_type")).cast("long"))
          .as("cms_within_eps"))
      .orderBy("event_type", "rn")
  }

  /** pandas-describe parity over the lineitem measures
    * ([[graft.operators.Profile.describeNumeric]] — the reference's EDA
    * entry point as one aggregation pass): per column n / nulls / mean /
    * sample std / min / max / exact quartiles, unpivoted to a row per
    * column. mean/std/quartiles rounded at 1e-4 (the engine-deterministic
    * floor form, q1's precedent); min/max are raw data values, exact in
    * both engines.
    *
    * BOUNDED diagnostic input (the [[SketchDiagCap]] idiom, verbatim):
    * the exact-percentile buffers over the near-unique l_extendedprice
    * made this the board's most expensive query at sf0.1 (3.2 s,
    * GC-gaining reps); the profile now runs over a deterministic
    * cross-engine md5 draw of ≈20k rows — integer keep test on the
    * unique (l_orderkey, l_linenumber) key, no-op below the cap — which
    * is also what describe() MEANS at 100 TB: a bounded, reproducible
    * sample profile (the full-scan exact forms of count/mean/extremes
    * live in q1/q_sketch_lean; this query's value is the quartile
    * shape). Both engines profile the identical row set, so every cell
    * stays hash-oracled. */
  /** Memoized lineitem diag draw for [[qProfile]] — the [[sketchDiag]]
    * recipe on the other fact table (narrowed to the three profiled
    * measures BEFORE the checkpoint, so the materialized block carries
    * no dead columns). */
  private val profDiag = SessionMemo("ScalarQueries.profDiag") { (spark, dir: String) =>
    val li = Tables.lineitem(spark, dir)
    val total = li.agg(count(lit(1)).as("total"))
    val h = graft.functions.TextFunctions.hash32(
      concat(col("l_orderkey").cast("string"), lit("_"),
        col("l_linenumber").cast("string"), lit("|profdiag")))
    li.crossJoin(broadcast(total))
      .filter(h * col("total") < lit(SketchDiagCap) * lit(4294967296L))
      .select("l_quantity", "l_extendedprice", "l_discount")
      .localCheckpoint(true)
  }

  def qProfile(spark: SparkSession, dir: String): DataFrame = {
    val diag = profDiag(spark, dir)
    graft.operators.Profile.describeNumeric(diag,
        Seq("l_quantity", "l_extendedprice", "l_discount"))
      .select(col("col_name"), col("n"), col("n_null"),
        rnd(col("mean"), 4).as("mean"), rnd(col("std"), 4).as("std"),
        col("min_v"), col("max_v"),
        rnd(col("p25"), 4).as("p25"), rnd(col("p50"), 4).as("p50"),
        rnd(col("p75"), 4).as("p75"))
      .orderBy("col_name")
  }

  /** Incremental-rollup maintenance on the oracle gate
    * ([[graft.operators.PartialAgg]]): quantity moments reduced ONCE to
    * (returnflag, ship-month) partials — one scan, shuffle sized by the
    * ~250-cell fine grain — then MERGED to per-flag totals without
    * re-touching the facts, with mean/std derived from the exact
    * integer moment sums. The oracle computes the same statistics
    * DIRECTLY from lineitem, so the hash gate proves the partial→merge
    * algebra loses nothing (the 100 TB claim: yesterday's partials are
    * immutable state; only the new day rescans facts, and any coarser
    * rollup is served from metadata-scale partials). Associativity and
    * random-split invariance are spec-pinned in ScalarSpec. */
  def qPartialMerge(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.PartialAgg
    val p = PartialAgg.partials(
      Tables.lineitem(spark, dir), Seq("l_returnflag"),
      Seq(date_trunc("month", col("l_shipdate")).as("mon")),
      col("l_quantity"))
    PartialAgg.derive(PartialAgg.merge(p, Seq("l_returnflag")))
      .select(col("l_returnflag"), col("n_partials"), col("n"),
        col("s").as("sum_qty"), col("mn"), col("mx"),
        rnd(col("mean"), 4).as("mean"), rnd(col("std"), 4).as("std"))
      .orderBy("l_returnflag")
  }

  /** Mergeable DISTINCT-COUNT partials — the [[qPartialMerge]] story
    * for the one aggregate moments can't carry: per-(flag, ship-month)
    * DataSketches HLL sketches (`hll_sketch_agg`, constant-size
    * map-side partials) merged to per-flag estimates via
    * `hll_union_agg` WITHOUT re-touching the facts. At 100 TB this is
    * how "distinct users last quarter" is served from immutable daily
    * state: sketch once per day, union any date range on demand — an
    * exact countDistinct would rescan the quarter and shuffle per-key
    * state every query. Completes the partial-aggregate triad: moments
    * ([[graft.operators.PartialAgg]]), frequencies (CMS heavy
    * hitters), distincts (this). Gate style is q_approx_sketch's: the
    * exact twin rides beside the estimate and the oracle pins the
    * ±5% boolean TRUE (lgK=12 ⇒ rsd ≈ 1.6%, so 5% is ≈3σ; the fixed
    * sketch seed makes the realized estimate deterministic). */
  def qHllPartials(spark: SparkSession, dir: String): DataFrame = {
    // not Tables.distributed: the qSketchLean A/B showed sketch-buffer
    // merge cost dominating the distributed update win at this scale
    val li = Tables.lineitem(spark, dir)
    val partials = li
      .groupBy(col("l_returnflag"), date_trunc("month", col("l_shipdate")).as("mon"))
      .agg(expr("hll_sketch_agg(l_partkey, 12)").as("hll"),
        count(lit(1)).as("n"))
    val merged = partials.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_partials"), sum(col("n")).as("n"),
        expr("hll_sketch_estimate(hll_union_agg(hll, false))").as("nd_est"))
    val exact = li.groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("nd_parts"))
    joinKeyNullSafe(merged, broadcast(exact), "l_returnflag")
      .select(col("l_returnflag"), col("n_partials"), col("n"), col("nd_parts"),
        (abs(col("nd_est") - col("nd_parts")) <=
          lit(0.05) * col("nd_parts")).as("hll_within"))
      .orderBy("l_returnflag")
  }

  /** Mergeable TOP-K partials — the fourth member of the partial-state
    * family (moments / distincts / frequencies / now ranked frequent
    * items): per-day `approx_top_k_accumulate` sketches of user
    * activity, `approx_top_k_combine`d to the global state without
    * re-touching facts, probed by `approx_top_k_estimate`. The gate
    * rides an exactness theorem: a frequent-items sketch whose map
    * capacity exceeds the distinct-item count never evicts, so its
    * counts are EXACT and the estimate equals the true count for every
    * item — maxItemsTracked=10k ≫ the fixture's ~1.5k users, and the
    * oracle pins est==exact TRUE on the exact top-10. At true scale
    * the same plan runs in eviction mode with the sketch's ε·n
    * overcount bound — the capacity is the accuracy dial, the plan
    * shape (constant-size mergeable partials) never changes. */
  def qTopkPartials(spark: SparkSession, dir: String): DataFrame = {
    val maxItems = 10000
    val ev = Tables.events(spark, dir)
    val partials = ev
      .groupBy(graft.Tables.eventDay.as("day"))
      .agg(expr(s"approx_top_k_accumulate(user_id, $maxItems)").as("st"))
    val combined = partials
      .agg(expr(s"approx_top_k_combine(st, $maxItems)").as("st"))
    val est = combined
      .select(explode(expr(s"approx_top_k_estimate(st, $maxItems)")).as("e"))
      .select(col("e.item").as("user_id"), col("e.count").as("est_count"))
    val exact = ev.groupBy("user_id").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), col("user_id")).limit(10)
    // LEFT join (review r10): in eviction mode a true top-10 item can
    // be absent from the estimate — that must surface as a FALSE row,
    // not silently shrink the output to 9 rows
    exact.join(est, Seq("user_id"), "left")
      .select(col("user_id"), col("cnt"),
        coalesce(col("est_count") === col("cnt"), lit(false)).as("topk_exact"))
      .orderBy(desc("cnt"), col("user_id"))
  }

  /** Deequ-style data-quality constraint audit over the orders/lineitem
    * pair ([[graft.operators.Constraints]]): completeness, value-range
    * and set-membership fractions, key uniqueness, row count, and
    * lineitem→orders referential integrity, reported as one bounded
    * frame of (target, check, column, metric, threshold, passed). Two
    * checks (the tight o_totalprice cap and the l_discount 95% band)
    * are calibrated to FAIL on this corpus — the report's value is
    * showing red rows, not a wall of green.
    *
    * Scale shape: one aggregate pass per table for every scalar check
    * (adding checks adds agg columns, not scans), a key-grain hash agg
    * for uniqueness, and one LEFT ANTI equi-join for the FK check; the
    * report itself is metadata-scale. */
  def qConstraintAudit(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Constraints._
    val orders = Tables.orders(spark, dir)
    val li = Tables.lineitem(spark, dir)
    val report =
      scalarAudit(orders, "orders", Seq(
        completeness("o_orderdate", 1.0),
        fractionInSet("o_orderstatus", Seq("O", "F", "P"), 1.0),
        fractionInRange("o_totalprice", 0.0, 1000000.0, 1.0, "o_totalprice<=1e6"),
        fractionInRange("o_totalprice", 0.0, 100000.0, 1.0, "o_totalprice<=1e5"),
        minRowCount(1000.0)))
      .unionByName(uniqueness(orders, "orders", Seq("o_orderkey")))
      .unionByName(scalarAudit(li, "lineitem", Seq(
        fractionInRange("l_discount", 0.0, 0.08, 0.95),
        fractionInRange("l_quantity", 1.0, 50.0, 1.0))))
      .unionByName(refIntegrity(li, "l_orderkey", "lineitem",
        orders, "o_orderkey"))
    report.select(col("target"), col("check"), col("column"),
        rnd(col("metric"), 6).as("metric"), col("threshold"), col("passed"))
      .orderBy("target", "check", "column")
  }

  /** Bootstrap replica count for [[qBootstrapCi]] — a multiple of
    * [[BootBlock]]; interpolated into BOTH engines. */
  val BootReps = 48

  /** Replica draws per md5: one 128-bit digest yields twelve 10-bit
    * uniforms (six per decoded 60-bit half), so an event computes
    * BootReps/BootBlock = 4 hashes instead of 48 (the first cut of
    * this operator hashed once per (event, replica) and md5 dominated
    * its 8 s bench cost; the r13 cut drew 8×15 bits per digest and
    * paid 6 hashes — the 10-bit repack shaved the md5/conv/explode
    * volume another third for a draw-granularity cost the bootstrap
    * cannot feel, see [[PoisThresholds]]). */
  val BootBlock = 12

  /** Cumulative Poisson(1) CDF as LONG thresholds on the 10-bit draw
    * range: weight k is assigned when draw < floor(P(X<=k)·2^10) first
    * holds — integer comparisons, so replica weights are
    * engine-identical with no floating-point boundary. At 10-bit
    * granularity the thresholds for k = 5, 6, 7 all collapse to 1023
    * (P(X<=5) ≈ 0.99941 already floors to 1023/1024), so the REALIZED
    * ladder is 0..5 then a weight-8 fallback absorbing the full top
    * slice draw = 1023 (1/1024 ≈ 1e-3 vs the true P(X>5) ≈ 5.9e-4):
    * weights 6 and 7 are unreachable. This is part of the DEFINED
    * draw, identical on both engines, and far inside the bootstrap's
    * own Monte-Carlo noise at B = 48 (advice r14 docstring fix). 10 bits
    * because draws are sliced arithmetically out of two 60-bit longs
    * per digest (6 draws each): hex-decoding one long per digest half
    * and shifting is ~8× cheaper than a conv() per draw, which
    * dominated this operator's first cut. */
  val PoisThresholds: Seq[Long] =
    (0 to 7).map { k =>
      val cum = (0 to k).map { j =>
        var f = 1.0
        (1 to j).foreach(f *= _)
        math.exp(-1.0) / f
      }.sum
      math.floor(cum * 1024.0).toLong
    }

  /** Deterministic Poisson bootstrap CI — the DISTRIBUTED bootstrap
    * (Chamandy et al. / Kleiner's poor-man's variant): instead of
    * materializing B resamples, every row draws a Poisson(1)
    * multiplicity per replica from a salted hash (reproducible across
    * engines, runs and retries — rand() is none of those), and each
    * replica's weighted mean is one grouped aggregate. The 95% CI is
    * the [2.5%, 97.5%] order statistics of the B replica means —
    * selected by exact rank from the sorted bounded list, never an
    * interpolated quantile.
    *
    * Scale shape: one bounded explode (×B) over the scan, one
    * (type, replica) aggregate on exact integer-cent sums, then a
    * metadata-scale (type × B) rollup. At 100 TB, B stays fixed and
    * everything is map-side until the bounded aggregate. */
  def qBootstrapCi(spark: SparkSession, dir: String): DataFrame = {
    val nBlocks = BootReps / BootBlock
    // one row per (event, digest block) — BootBlock× fewer intermediate
    // rows than a per-replica explode; each block row feeds its
    // BootBlock (12) replicas as 12 conditional-sum pairs inside ONE
    // aggregate (the replica sums decompose per block, and exact
    // integer sums make the regrouping value-invariant, so the
    // oracle's flat per-replica form states identical numbers)
    val digests = array((0 until nBlocks).map(i =>
      md5(concat(col("event_id").cast("string"), lit(s"|boot$i")))): _*)
    // Tables.distributed: the nBlocks-md5 fan-out + posexplode + 26-sum
    // partial aggregate all sit below this query's first exchange, and
    // the single-row-group events scan runs that whole pipeline in ONE
    // task (StageProf: 853 ms wall / 826 ms cpu / tasks=1). One cheap
    // hash repartition of the 3-column pre-explode rows distributes the
    // 21x fan-out work across the core budget; no-op at real split
    // counts.
    val ev = Tables.distributed(Tables.events(spark, dir), "event_id")
      // NULL-type groups dropped EXPLICITLY (r21, the halfMoments guard
      // class): the declared oracle joins its replica and full-table
      // CTEs ON s.event_type = f.event_type, which drops a NULL-typed
      // group; the r20 join-deletion rewrite kept it, and only the
      // fixtures' lack of a NULL-typed group with surviving replicas
      // hid the extra row (found by the r21 hostile NULL-twin sweep:
      // spark 11 rows vs oracle 10).
      .filter(col("event_type").isNotNull)
      .select(col("event_type"),
        centsOf("value").as("cents"),
        posexplode(digests).as(Seq("blk", "dg")))
      // hex-decode each digest half ONCE; the 12 slot draws below (six
      // 10-bit draws per 60-bit half) are pure shift/mask long
      // arithmetic inside codegen
      .withColumn("h1", expr("CAST(conv(substr(dg, 1, 15), 16, 10) AS BIGINT)"))
      .withColumn("h2", expr("CAST(conv(substr(dg, 16, 15), 16, 10) AS BIGINT)"))
    // weight = inverse Poisson(1) CDF at slot s's 10-bit draw
    def w(s: Int): org.apache.spark.sql.Column = {
      val src = if (s < 6) "h1" else "h2"
      val h = expr(s"shiftright($src, ${10 * (s % 6)}) & 1023")
      PoisThresholds.zipWithIndex.reverse
        .foldLeft(lit(PoisThresholds.size.toLong): org.apache.spark.sql.Column) {
          case (acc, (t, k)) => when(h < t, k.toLong).otherwise(acc)
        }
    }
    val aggs = (0 until BootBlock).flatMap(s =>
      Seq(sum(w(s) * col("cents")).as(s"swc$s"), sum(w(s)).as(s"sw$s"))) ++
      // the full-table stats ride the SAME scan: every (type, blk)
      // group holds each of the type's events exactly once (the
      // posexplode is a constant fan-out), so per-group count and
      // cent-sum ARE the type totals — max() collapses the identical
      // copies and the second fact scan q_bootstrap_ci used to pay
      // for n/mean_value is gone (r14 tail shave)
      Seq(count(lit(1)).as("cnt"), sum(col("cents")).as("sumc"))
    val grid = ev.groupBy("event_type", "blk").agg(aggs.head, aggs.tail: _*)
    val slots = (0 until BootBlock).map(s =>
      struct(col(s"swc$s").as("swc"), col(s"sw$s").as("sw")))
    // cnt/sumc ride THROUGH the slot explode (r20 optimization): the
    // old separate `full` aggregate put a second consumer on `grid`,
    // and its pruned subtree canonicalized differently — ReuseExchange
    // never fired and the whole md5-digest pipeline (the query's real
    // compute) ran TWICE per execution (two Scan parquet + two
    // Generate+HashAggregate chains in `git show
    // f9c6fb8:plans/r20/q_bootstrap_ci_before.txt`). Every (type, blk)
    // grid row carries the identical type totals (the posexplode is a
    // constant fan-out),
    // so any surviving slot row's cnt/sumc IS the type total and
    // max() over them reads the same value the old full-branch max
    // did; a type appears in the old inner join iff it has >= 1
    // surviving replica — exactly this groupBy's row condition.
    val reps = grid
      .select(col("event_type"), col("cnt"), col("sumc"),
        explode(array(slots: _*)).as("r"))
      .filter(col("r.sw") > 0)
      .select(col("event_type"), col("cnt"), col("sumc"),
        ((col("r.swc").cast("double") / col("r.sw").cast("double")) / 100.0).as("m"))
    val loRank = math.max(1, math.ceil(0.025 * BootReps).toInt)
    val hiRank = math.ceil(0.975 * BootReps).toInt
    reps.groupBy("event_type")
      .agg(sort_array(collect_list(col("m"))).as("ms"),
        count(lit(1)).as("n_reps"),
        max(col("cnt")).as("n"), max(col("sumc")).as("sumc_t"))
      .select(col("event_type"), col("n"), col("n_reps"),
        rnd((col("sumc_t").cast("double") / col("n").cast("double")) / 100.0, 4)
          .as("mean_value"),
        // try_element_at: a tiny group can lose zero-weight replicas
        // (P(W=0) = 1/e per replica at n=1), leaving fewer than
        // BootReps entries — the fixed percentile rank then reads
        // out-of-bounds, which must be the oracle's NULL (DuckDB list
        // indexing past the end), not an ANSI throw (hostile r18)
        rnd(try_element_at(col("ms"), lit(loRank)), 4).as("ci_lo"),
        rnd(try_element_at(col("ms"), lit(hiRank)), 4).as("ci_hi"))
      .orderBy("event_type")
  }

  /** Audience-concentration report — the Herfindahl–Hirschman index of
    * per-user activity shares per event_type (Σ (nᵤ/N)², the
    * concentration measure behind "is this type driven by a few power
    * users"), with the effective audience count N²/Σnᵤ² (the inverse
    * index) — both exact integer-count rationals in one double division.
    *
    * Scale shape: one (type, user)-grain aggregate, then a bounded
    * per-type rollup over exact long sums — no distinct state, no
    * windows; the nᵤ² partial stays long-exact for any per-user count
    * under ~3·10⁹. */
  def qHhiConcentration(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.events(spark, dir)
      .groupBy("event_type", "user_id").agg(count(lit(1)).as("c"))
    per.groupBy("event_type")
      .agg(count(lit(1)).as("n_users"), sum(col("c")).as("n_events"),
        sum(col("c") * col("c")).as("sumsq"))
      .select(col("event_type"), col("n_events"), col("n_users"),
        rnd(col("sumsq").cast("double") /
          (col("n_events").cast("double") * col("n_events").cast("double")), 6)
          .as("hhi"),
        rnd((col("n_events").cast("double") * col("n_events").cast("double")) /
          col("sumsq").cast("double"), 2).as("effective_users"))
      .orderBy("event_type")
  }

  /** MinHash signature width for [[qMinhashPartials]] — interpolated
    * into BOTH engines. */
  val MhK = 16

  /** Mergeable MinHash set-similarity partials — the FIFTH partial-state
    * family member (moments / distincts / frequencies / ranked items /
    * now set resemblance): each day's active-user set reduces to a
    * [[MhK]]-component MinHash signature (component i = min over users
    * of hash(user|mh_i) — elementwise-min MERGEABLE, so any day range's
    * signature folds from daily partials without re-touching facts),
    * and day-over-day audience similarity is estimated as the fraction
    * of matching components, reported beside the exact Jaccard.
    *
    * Scale shape: signatures are one (day)-grouped aggregate with MhK
    * constant-size min partials; the estimate join is metadata-scale.
    * The exact comparator joins (day, user) sets pairwise — fine at
    * fixture scale, and at 100 TB it is exactly the cost the signature
    * exists to avoid (the diagnostic-twin pattern of q_approx_sketch:
    * production keeps the partials, the exact column is the evidence). */
  def qMinhashPartials(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.hash32
    import graft.operators.Dedup
    // ONE base hash per (day, user); the k components come from the
    // SHARED Dedup.minhashExpr parameter family (one definition per
    // engine — review r11: a private salted-hash copy here would be a
    // fourth place the scheme lives). The distinct frame feeds four
    // plan positions (estimate self-join ×2, exact-intersection
    // self-join ×2) — materialize it once, the PageRank lesson.
    val du = Tables.events(spark, dir)
      .select(Tables.eventDay.as("day"), col("user_id")).distinct()
      .withColumn("hv", hash32(col("user_id").cast("string")))
      .localCheckpoint(true)
    val sigs = du.groupBy("day")
      .agg(count(lit(1)).as("n_users"),
        (0 until MhK).map(i =>
          min(Dedup.minhashExpr(i, col("hv"))).as(s"h$i")): _*)
    val matches = (0 until MhK).map(i =>
      when(col(s"a.h$i") === col(s"b.h$i"), 1).otherwise(0))
      .reduce(_ + _)
    val est = sigs.as("a").join(sigs.as("b"),
        datediff(col("b.day"), col("a.day")) === 1)
      .select(col("a.day").as("day"), col("b.day").as("day_next"),
        col("a.n_users").as("n_a"), col("b.n_users").as("n_b"),
        (matches.cast("double") / lit(MhK.toDouble)).as("jaccard_est"))
    val inter = du.as("x").join(du.withColumnRenamed("day", "day2").as("y"),
        col("x.user_id") === col("y.user_id") &&
          datediff(col("day2"), col("day")) === 1)
      .groupBy(col("day"), col("day2").as("day_next"))
      .agg(count(lit(1)).as("n_inter"))
    est.join(inter, Seq("day", "day_next"), "left")
      .select(col("day"), col("day_next"), col("n_a"), col("n_b"),
        rnd(col("jaccard_est"), 4).as("jaccard_est"),
        rnd(coalesce(col("n_inter"), lit(0L)).cast("double") /
          (col("n_a") + col("n_b") - coalesce(col("n_inter"), lit(0L))).cast("double"),
          4).as("jaccard_exact"))
      .orderBy("day")
  }

  /** Bucket count for [[qQuantileBuckets]] — interpolated into BOTH
    * engines. */
  val QuantileK = 10

  /** Equi-depth quantile bucketing (feature discretization): every
    * event lands in one of [[QuantileK]] per-type buckets of near-equal
    * population — bucket = ⌊(rank−1)·k/n⌋+1 over the deterministic
    * (value, event_id) order — reported as per-bucket population and
    * value range. The rank formula is EXACT integer arithmetic, so
    * unlike interpolated-percentile edges there is no floating-point
    * boundary for a tie to land on: the bucket set is engine-identical
    * by construction, ties split by the id tiebreak exactly like NTILE.
    *
    * Scale shape: one per-type rank window (partition = event_type —
    * bounded by the type's own volume, the q_diff_global caveat does
    * not apply; for a single monster type, chunk-stitched ranking à la
    * q_pagination_chunked is the named swap), one broadcast count join,
    * then the bounded (type × bucket) rollup with exact integer-cent
    * mean. */
  def quantileBuckets(df: DataFrame, typeCol: String, valCol: String,
                      idCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"quantileBuckets: k must be >= 1 (got $k)")
    val w = Window.partitionBy("event_type").orderBy(col("cents"), col(idCol))
    // NULL group keys and NULL values excluded explicitly (the
    // rankFractions rule: NULL semantics are decided, never inherited —
    // a NULL cents would land rn=1 under Spark's NULLS-FIRST asc but
    // LAST under DuckDB's default, shifting every bucket boundary; and
    // the count join below is null-rejecting), mirrored in SQL
    val ev = df
      .filter(col(valCol).isNotNull && col(typeCol).isNotNull)
      .select(col(typeCol).as("event_type"), col(idCol), col(valCol).as("value"),
        centsOf(valCol).as("cents"))
    val counts = ev.groupBy("event_type").agg(count(lit(1)).as("n"))
    ev.withColumn("rn", row_number().over(w))
      .join(broadcast(counts), "event_type")
      // rank widened to BIGINT before the multiply: row_number is
      // 32-bit and (rn-1)·k overflows past ~2^31/k rows per type
      .withColumn("bucket",
        expr(s"CAST(((CAST(rn - 1 AS BIGINT) * $k) div n) + 1 AS INT)"))
      .groupBy("event_type", "bucket")
      .agg(count(lit(1)).as("n_rows"),
        min(col("value")).as("lo"), max(col("value")).as("hi"),
        rnd((sum(col("cents")).cast("double") / count(lit(1)).cast("double"))
          / 100.0, 4).as("mean_value"))
  }

  def qQuantileBuckets(spark: SparkSession, dir: String): DataFrame =
    quantileBuckets(Tables.events(spark, dir), "event_type", "value",
      "event_id", QuantileK)
      .orderBy("event_type", "bucket")

  /** percent_rank / cume_dist per row — the W-family's distribution-
    * position builtins ([[quantileBuckets]] bins; these place each ROW
    * on [0,1]): both are exact integer rationals of the deterministic
    * (cents, id) rank — the ORDER BY key is unique, so rank carries no
    * tie block and the builtins are engine-identical by definition
    * ((rank−1)/(n−1) and rank/n). Output is id-bounded for the oracle
    * diff; the windows run over the FULL per-type partition first, so
    * the fractions are positions in the whole distribution, not the
    * slice.
    *
    * Scale: one rank window per type partition (bounded by the type's
    * own volume — the quantileBuckets caveat and its chunk-stitched
    * swap apply to a single monster type). */
  def rankFractions(df: DataFrame, typeCol: String, valCol: String,
                    idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type").orderBy(col("cents"), col(idCol))
    // NULL group keys excluded explicitly (the frame-generic TVF rule:
    // NULL-key semantics are decided, never inherited from whatever
    // the engines' NULL grouping happens to agree on), mirrored in SQL
    df.filter(col(valCol).isNotNull && col(typeCol).isNotNull)
      .select(col(typeCol).as("event_type"), col(idCol),
        col(valCol).as("value"), centsOf(valCol).as("cents"))
      .withColumn("pct_rank", rnd(percent_rank().over(w), 6))
      .withColumn("cume_dist", rnd(cume_dist().over(w), 6))
      .drop("cents")
  }

  def qRankFractions(spark: SparkSession, dir: String): DataFrame =
    rankFractions(Tables.events(spark, dir), "event_type", "value",
      "event_id")
      .filter(col("event_id") < 300)
      .orderBy("event_type", "event_id")

  /** Trim fraction for [[trimmedMean]] — numerator of the integer
    * rank cut, interpolated into BOTH engines. */
  val TrimPct = 5

  /** Trimmed mean per group — the robust-location summary beside
    * q_winsorize (winsorizing CLAMPS the tails; trimming DROPS them):
    * the lowest and highest ⌊n·[[TrimPct]]/100⌋ rows by the
    * deterministic (cents, id) order leave, and the kept rows' mean is
    * one exact integer-cent rational. The cut count is pure integer
    * arithmetic ((n·pct) div 100 — no floating-point rank boundary),
    * so the kept multiset is engine-identical; reported beside the raw
    * mean so the tail influence IS the output.
    *
    * Scale: one rank window per type (the rankFractions shape) and a
    * bounded rollup. */
  def trimmedMean(df: DataFrame, typeCol: String, valCol: String,
                  idCol: String, pct: Int = TrimPct): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(pct >= 0 && pct < 50, s"trimmedMean: pct must be in [0, 50), got $pct")
    val w = Window.partitionBy("event_type").orderBy(col("cents"), col(idCol))
    val wAll = Window.partitionBy("event_type")
    // NULL group keys excluded explicitly (the rankFractions rule)
    val ranked = df.filter(col(valCol).isNotNull && col(typeCol).isNotNull)
      .select(col(typeCol).as("event_type"), col(idCol),
        centsOf(valCol).as("cents"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(wAll))
    val cut = expr(s"(n * $pct) div 100")
    ranked
      .groupBy("event_type")
      .agg(max(col("n")).as("n"),
        max(cut).as("n_cut_each"),
        sum(col("cents")).as("sall"),
        sum(when(col("rn") > cut && col("rn") <= col("n") - cut,
          col("cents"))).as("skept"),
        sum(when(col("rn") > cut && col("rn") <= col("n") - cut, 1L)
          .otherwise(0L)).as("nkept"))
      .select(col("event_type"), col("n"), col("n_cut_each"),
        rnd((col("sall").cast("double") / col("n").cast("double")) / 100.0, 4)
          .as("mean_raw"),
        rnd(when(col("nkept") > 0L,
          (col("skept").cast("double") / col("nkept").cast("double")) / 100.0),
          4).as("mean_trimmed"))
  }

  def qTrimmedMean(spark: SparkSession, dir: String): DataFrame =
    trimmedMean(Tables.events(spark, dir), "event_type", "value", "event_id")
      .orderBy("event_type")

  /** Modal value per group (count-desc, value-asc tiebreak) with its
    * share of the group — the A-family member the percentile/histogram
    * pair lacked (quantiles say where the mass SITS; the mode says
    * where it PILES). Values are exact integer cents so the mode is
    * tie-deterministic; the plan is the histogram shape (value-
    * resolution-bounded grid) plus one row_number cut and one window
    * total over the same bounded grid — the fact table is scanned
    * once. */
  def modeValue(df: DataFrame, typeCol: String, valCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grid = df.filter(col(valCol).isNotNull)
      .select(col(typeCol).as("event_type"), centsOf(valCol).as("cents"))
      .groupBy("event_type", "cents").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("event_type").orderBy(desc("n"), col("cents"))
    val wAll = Window.partitionBy("event_type")
    grid
      .withColumn("n_total", sum(col("n")).over(wAll))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("event_type"),
        (col("cents").cast("double") / 100.0).as("mode_value"),
        col("n").as("n_mode"), col("n_total"),
        rnd(col("n").cast("double") / col("n_total").cast("double"), 4)
          .as("share"))
  }

  def qMode(spark: SparkSession, dir: String): DataFrame =
    modeValue(Tables.events(spark, dir), "event_type", "value")
      .orderBy("event_type")

  /** Join-key skew audit — the PLANNING read behind every salted-join /
    * AQE-skew decision at scale (the operator that tells you whether
    * q_skew_join's salting is worth its shuffle on THIS key): key
    * cardinality, max-key share, the skew factor max/mean (a uniform
    * key reads 1; AQE's skewedPartitionFactor default flags 5×), and
    * the deterministic top-5 key mass. Every statistic is an exact
    * integer or one division of exact integers; the salt
    * recommendation compares the ROUNDED factor (the flag discipline).
    *
    * Scale: one hash aggregate at the key grain (map-side combinable),
    * then a constant-width stats rollup and a TakeOrderedAndProject
    * top-5 — the per-key aggregate has two consumers, so the plan
    * carries two fact scans (the mann_kendall scalar-join precedent;
    * at 100 TB you'd localCheckpoint a SAMPLED key frame instead). */
  def keySkew(df: DataFrame, keyCol: String): DataFrame = {
    // NULL keys are excluded: they never match a non-null-safe
    // equi-join anyway, and their top-5 tiebreak position differs
    // between engines (Spark sorts NULLs first ascending, DuckDB
    // last), so a NULL key tying at the cut would break oracle
    // parity (advice r13)
    val per = df.filter(col(keyCol).isNotNull)
      .groupBy(col(keyCol).as("k")).agg(count(lit(1)).as("c"))
    val stats = per.agg(count(lit(1)).as("n_keys"),
      sum(col("c")).as("n_rows"), max(col("c")).as("max_c"))
    val top5 = per.orderBy(desc("c"), asc("k")).limit(5)
      .agg(sum(col("c")).as("top5_c"))
    def d(s: String) = col(s).cast("double")
    val skew = rnd(d("max_c") * d("n_keys") / d("n_rows"), 4)
    stats.crossJoin(broadcast(top5))
      .select(col("n_keys"), col("n_rows"), col("max_c"),
        rnd(d("max_c") / d("n_rows"), 6).as("max_share"),
        skew.as("skew_factor"),
        rnd(d("top5_c") / d("n_rows"), 6).as("top5_share"),
        (skew > 5.0).as("salt_recommended"))
  }

  def qKeySkew(spark: SparkSession, dir: String): DataFrame =
    keySkew(Tables.events(spark, dir), "user_id")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_rank_fractions" -> qRankFractions _,
    "q_trimmed_mean" -> qTrimmedMean _,
    "q_key_skew" -> qKeySkew _,
    "q_mode" -> qMode _,
    "q_bootstrap_ci" -> qBootstrapCi _,
    "q_minhash_partials" -> qMinhashPartials _,
    "q_hhi_concentration" -> qHhiConcentration _,
    "q_quantile_buckets" -> qQuantileBuckets _,
    "q_constraint_audit" -> qConstraintAudit _,
    "q_topk_partials" -> qTopkPartials _,
    "q_hll_partials" -> qHllPartials _,
    "q_partial_merge" -> qPartialMerge _,
    "q_approx_sketch" -> qApproxSketch _,
    "q_sketch_lean" -> qSketchLean _,
    "q_heavy_hitters" -> qHeavyHitters _,
    "q_profile" -> qProfile _,
    "q_date_parts" -> qDateParts _,
    "q_unit_suffix" -> qUnitSuffix _,
    "q_cube" -> qCube _,
    "q_grouping_sets" -> qGroupingSets _,
    "q_unpivot" -> qUnpivot _,
    "q_json_profile" -> qJsonProfile _,
    "q_count_distinct" -> qCountDistinct _,
    "q_percentile" -> qPercentile _,
    "q_wordcount" -> qWordcount _,
    "q_pivot" -> qPivot _,
    "q_histogram" -> qHistogram _,
    "q_stats_corr" -> qStatsCorr _,
    "q_offset_limit" -> qOffsetLimit _,
    "q_string_funcs" -> qStringFuncs _,
  )

  /** OFFSET/LIMIT pagination (Spark 3.4+ df.offset — the server-side form
    * of the dashboard's slice(page*10, ...) paging). */
  def qOffsetLimit(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
      .offset(40).limit(10)

  /** String-function breadth (F-family): case, trim/pad, substring,
    * concat, replace, length — engine-identical per-row transforms. */
  def qStringFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .filter(col("c_custkey") < 50)
      .select(col("c_custkey"),
        upper(col("c_mktsegment")).as("seg_upper"),
        lower(col("c_name")).as("name_lower"),
        substring(col("c_name"), 1, 8).as("name_prefix"),
        concat_ws("|", col("c_mktsegment"), col("c_custkey").cast("string")).as("tagged"),
        regexp_replace(col("c_name"), "[aeiou]", "_").as("devoweled"),
        length(col("c_name")).as("name_len"),
        lpad(col("c_custkey").cast("string"), 8, "0").as("padded_id"))
      .orderBy("c_custkey")

  val oracles: Map[String, String] = Map(
    // both fractions are exact integer rationals of the unique
    // (cents, id) rank — the builtins are engine-identical with no
    // tie block; windows over the FULL partition, slice after
    "q_rank_fractions" ->
      """WITH ev AS (
        |  SELECT event_type, event_id, value,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |w AS (
        |  SELECT event_type, event_id, value,
        |    floor(percent_rank() OVER (PARTITION BY event_type
        |      ORDER BY cents, event_id) * 1e6 + 0.5) / 1e6 AS pct_rank,
        |    floor(cume_dist() OVER (PARTITION BY event_type
        |      ORDER BY cents, event_id) * 1e6 + 0.5) / 1e6 AS cume_dist
        |  FROM ev)
        |SELECT event_type, event_id, value, pct_rank, cume_dist
        |FROM w WHERE event_id < 300
        |ORDER BY event_type, event_id""".stripMargin,
    // integer rank cuts ((n*pct)//100 — no floating-point boundary);
    // kept-set mean is one exact integer-cent rational
    "q_trimmed_mean" ->
      s"""WITH ev AS (
         |  SELECT event_type, event_id,
         |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
         |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
         |r AS (
         |  SELECT event_type, cents,
         |    CAST(row_number() OVER (PARTITION BY event_type
         |      ORDER BY cents, event_id) AS BIGINT) AS rn,
         |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
         |  FROM ev),
         |g AS (
         |  SELECT event_type, CAST(max(n) AS BIGINT) AS n,
         |    CAST(max((n * $TrimPct) // 100) AS BIGINT) AS n_cut_each,
         |    CAST(sum(cents) AS BIGINT) AS sall,
         |    CAST(sum(CASE WHEN rn > (n * $TrimPct) // 100
         |      AND rn <= n - (n * $TrimPct) // 100 THEN cents END) AS BIGINT)
         |      AS skept,
         |    CAST(sum(CASE WHEN rn > (n * $TrimPct) // 100
         |      AND rn <= n - (n * $TrimPct) // 100 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS nkept
         |  FROM r GROUP BY event_type)
         |SELECT event_type, n, n_cut_each,
         |  floor(((CAST(sall AS DOUBLE) / CAST(n AS DOUBLE)) / 100.0)
         |    * 1e4 + 0.5) / 1e4 AS mean_raw,
         |  CASE WHEN nkept > 0 THEN
         |    floor(((CAST(skept AS DOUBLE) / CAST(nkept AS DOUBLE)) / 100.0)
         |      * 1e4 + 0.5) / 1e4 END AS mean_trimmed
         |FROM g ORDER BY event_type""".stripMargin,
    // exact integer key stats; the top-5 cut is (count desc, key)
    // deterministic on both engines — NULL keys excluded (they never
    // join, and the engines' NULL sort positions differ at the cut)
    "q_key_skew" ->
      """WITH per AS (
        |  SELECT user_id AS k, CAST(count(*) AS BIGINT) AS c
        |  FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
        |stats AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_keys,
        |    CAST(sum(c) AS BIGINT) AS n_rows,
        |    CAST(max(c) AS BIGINT) AS max_c
        |  FROM per),
        |top5 AS (
        |  SELECT CAST(sum(c) AS BIGINT) AS top5_c
        |  FROM (SELECT c FROM per ORDER BY c DESC, k LIMIT 5)),
        |f AS (
        |  SELECT n_keys, n_rows, max_c,
        |    floor((CAST(max_c AS DOUBLE) / CAST(n_rows AS DOUBLE))
        |      * 1e6 + 0.5) / 1e6 AS max_share,
        |    floor((CAST(max_c AS DOUBLE) * CAST(n_keys AS DOUBLE)
        |      / CAST(n_rows AS DOUBLE)) * 1e4 + 0.5) / 1e4 AS skew_factor,
        |    floor((CAST(top5_c AS DOUBLE) / CAST(n_rows AS DOUBLE))
        |      * 1e6 + 0.5) / 1e6 AS top5_share
        |  FROM stats, top5)
        |SELECT n_keys, n_rows, max_c, max_share, skew_factor, top5_share,
        |  skew_factor > 5.0 AS salt_recommended
        |FROM f""".stripMargin,
    // the histogram grid + a deterministic (count desc, cents) cut;
    // the group total is a window over the same bounded grid
    "q_mode" ->
      """WITH ev AS (
        |  SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events WHERE value IS NOT NULL),
        |g AS (
        |  SELECT event_type, cents, CAST(count(*) AS BIGINT) AS n
        |  FROM ev GROUP BY event_type, cents),
        |r AS (
        |  SELECT event_type, cents, n,
        |    CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS n_total,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY n DESC, cents) AS rk
        |  FROM g)
        |SELECT event_type, CAST(cents AS DOUBLE) / 100.0 AS mode_value,
        |  n AS n_mode, n_total,
        |  floor((CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE)) * 1e4 + 0.5)
        |    / 1e4 AS share
        |FROM r WHERE rk = 1 ORDER BY event_type""".stripMargin,
    // both the index and its inverse are exact integer-count rationals
    // in mirrored fixed-order double divisions
    "q_hhi_concentration" ->
      """WITH per AS (
        |  SELECT event_type, user_id, count(*) AS c
        |  FROM events GROUP BY event_type, user_id),
        |g AS (
        |  SELECT event_type, count(*) AS n_users,
        |    CAST(sum(c) AS BIGINT) AS n_events,
        |    CAST(sum(c * c) AS BIGINT) AS sumsq
        |  FROM per GROUP BY event_type)
        |SELECT event_type, n_events, n_users,
        |  floor((CAST(sumsq AS DOUBLE)
        |    / (CAST(n_events AS DOUBLE) * CAST(n_events AS DOUBLE))) * 1e6 + 0.5) / 1e6
        |    AS hhi,
        |  floor(((CAST(n_events AS DOUBLE) * CAST(n_events AS DOUBLE))
        |    / CAST(sumsq AS DOUBLE)) * 1e2 + 0.5) / 1e2 AS effective_users
        |FROM g ORDER BY event_type""".stripMargin,
    // daily signature mins and the match count are pure md5 integer
    // arithmetic; both jaccards are exact integer-count rationals
    "q_minhash_partials" -> {
      val mins = (0 until MhK).map(i =>
        s"min(${graft.operators.Dedup.minhashSqlExpr(i)}) AS h$i")
        .mkString(",\n    ")
      val eq = (0 until MhK).map(i =>
        s"CASE WHEN a.h$i = b.h$i THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH du AS (
         |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
         |duh AS (
         |  SELECT day, user_id,
         |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS hv
         |  FROM du),
         |sigs AS (
         |  SELECT day, count(*) AS n_users,
         |    $mins
         |  FROM duh GROUP BY day),
         |est AS (
         |  SELECT a.day AS day, b.day AS day_next,
         |    a.n_users AS n_a, b.n_users AS n_b,
         |    (CAST($eq AS DOUBLE) / ${MhK}.0) AS jaccard_est
         |  FROM sigs a JOIN sigs b ON date_diff('day', a.day, b.day) = 1),
         |inter AS (
         |  SELECT x.day AS day, y.day AS day_next, count(*) AS n_inter
         |  FROM du x JOIN du y ON x.user_id = y.user_id
         |    AND date_diff('day', x.day, y.day) = 1
         |  GROUP BY x.day, y.day)
         |SELECT e.day, e.day_next, e.n_a, e.n_b,
         |  floor(e.jaccard_est * 1e4 + 0.5) / 1e4 AS jaccard_est,
         |  floor((CAST(coalesce(i.n_inter, 0) AS DOUBLE)
         |    / CAST(e.n_a + e.n_b - coalesce(i.n_inter, 0) AS DOUBLE)) * 1e4 + 0.5) / 1e4
         |    AS jaccard_exact
         |FROM est e LEFT JOIN inter i
         |  ON e.day = i.day AND e.day_next = i.day_next
         |ORDER BY e.day""".stripMargin
    },
    // replica weights come from integer hash-threshold comparisons
    // (PoisThresholds interpolated as literals), replica means from
    // exact integer sums, and the CI bounds by exact rank from the
    // sorted replica list — no randomness, no quantile interpolation
    "q_bootstrap_ci" -> {
      // slot s draws bits 10·(s%6).. of digest half s/6 — identical
      // shift/mask arithmetic to the Spark side
      val dg = "md5(CAST(event_id AS VARCHAR) || '|boot' " +
        s"|| CAST((b - 1) // $BootBlock AS VARCHAR))"
      val h = s"((('0x' || substr($dg, 1 + 15 * (((b - 1) % $BootBlock) // 6), 15))::BIGINT" +
        s" >> (10 * ((b - 1) % 6))) & 1023)"
      val cases = PoisThresholds.zipWithIndex
        .map { case (t, k) => s"WHEN $h < $t THEN $k" }.mkString(" ")
      val loRank = math.max(1, math.ceil(0.025 * BootReps).toInt)
      val hiRank = math.ceil(0.975 * BootReps).toInt
      s"""WITH ev AS (
         |  SELECT event_type, event_id,
         |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
         |    unnest(generate_series(1, $BootReps)) AS b
         |  FROM events),
         |wt AS (
         |  SELECT event_type, b, cents,
         |    CASE $cases ELSE ${PoisThresholds.size} END AS w
         |  FROM ev),
         |reps AS (
         |  SELECT event_type, b, CAST(sum(w * cents) AS BIGINT) AS swc,
         |    CAST(sum(w) AS BIGINT) AS sw
         |  FROM wt GROUP BY event_type, b),
         |m AS (
         |  SELECT event_type, (CAST(swc AS DOUBLE) / CAST(sw AS DOUBLE)) / 100.0 AS m
         |  FROM reps WHERE sw > 0),
         |srt AS (
         |  SELECT event_type, list_sort(list(m)) AS ms, count(*) AS n_reps
         |  FROM m GROUP BY event_type),
         |fl AS (
         |  SELECT event_type, count(*) AS n,
         |    (CAST(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE)
         |      / CAST(count(*) AS DOUBLE)) / 100.0 AS mean_v
         |  FROM events GROUP BY event_type)
         |SELECT s.event_type, f.n, s.n_reps,
         |  floor(f.mean_v * 1e4 + 0.5) / 1e4 AS mean_value,
         |  floor(s.ms[$loRank] * 1e4 + 0.5) / 1e4 AS ci_lo,
         |  floor(s.ms[$hiRank] * 1e4 + 0.5) / 1e4 AS ci_hi
         |FROM srt s JOIN fl f ON s.event_type = f.event_type
         |ORDER BY s.event_type""".stripMargin
    },
    // the bucket id is pure integer arithmetic over the deterministic
    // (cents, event_id) rank — no interpolated edge to disagree on;
    // DuckDB // is floor division, matching Spark's div on non-negatives
    "q_quantile_buckets" ->
      // NULL type/value exclusion mirrors quantileBuckets (hostile r18)
      s"""WITH ev AS (
         |  SELECT event_type, event_id, value,
         |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
         |  FROM events
         |  WHERE value IS NOT NULL AND event_type IS NOT NULL),
         |r AS (
         |  SELECT event_type, value, cents,
         |    row_number() OVER (PARTITION BY event_type
         |      ORDER BY cents, event_id) AS rn,
         |    count(*) OVER (PARTITION BY event_type) AS n
         |  FROM ev)
         |SELECT event_type,
         |  CAST((((rn - 1) * $QuantileK) // n) + 1 AS INT) AS bucket,
         |  count(*) AS n_rows, min(value) AS lo, max(value) AS hi,
         |  ${rndSql("(CAST(sum(cents) AS DOUBLE) / CAST(count(*) AS DOUBLE)) / 100.0", 4)}
         |    AS mean_value
         |FROM r GROUP BY event_type, bucket
         |ORDER BY event_type, bucket""".stripMargin,
    // every metric is an exact integer-count rational in one double
    // division (mirrored order); passed compares the RAW metric inside
    // the CTE (DuckDB lateral alias binding would otherwise let the
    // rounded alias shadow it), the output metric is floor-rounded
    "q_constraint_audit" ->
      """WITH o AS (
        |  SELECT count(*) AS n, count(o_orderdate) AS n_date,
        |    sum(CASE WHEN o_orderstatus IN ('O','F','P') THEN 1 ELSE 0 END) AS n_set,
        |    sum(CASE WHEN o_totalprice >= 0.0 AND o_totalprice <= 1000000.0 THEN 1 ELSE 0 END) AS n_r1,
        |    sum(CASE WHEN o_totalprice >= 0.0 AND o_totalprice <= 100000.0 THEN 1 ELSE 0 END) AS n_r2
        |  FROM orders),
        |u AS (SELECT count(DISTINCT o_orderkey) AS ks, count(*) AS nr FROM orders),
        |l AS (
        |  SELECT count(*) AS n,
        |    sum(CASE WHEN l_discount >= 0.0 AND l_discount <= 0.08 THEN 1 ELSE 0 END) AS n_disc,
        |    sum(CASE WHEN l_quantity >= 1.0 AND l_quantity <= 50.0 THEN 1 ELSE 0 END) AS n_qty
        |  FROM lineitem),
        |ri AS (
        |  SELECT (SELECT count(*) FROM lineitem) AS n,
        |    (SELECT count(*) FROM lineitem li
        |      LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) ok
        |        ON li.l_orderkey = ok.o_orderkey
        |      WHERE ok.o_orderkey IS NULL) AS orph),
        |m AS (
        |  SELECT 'orders' AS target, 'completeness' AS chk, 'o_orderdate' AS cl,
        |    CAST(n_date AS DOUBLE) / CAST(n AS DOUBLE) AS metric, 1.0 AS threshold FROM o
        |  UNION ALL SELECT 'orders', 'in_set', 'o_orderstatus',
        |    CAST(n_set AS DOUBLE) / CAST(n AS DOUBLE), 1.0 FROM o
        |  UNION ALL SELECT 'orders', 'in_range', 'o_totalprice<=1e6',
        |    CAST(n_r1 AS DOUBLE) / CAST(n AS DOUBLE), 1.0 FROM o
        |  UNION ALL SELECT 'orders', 'in_range', 'o_totalprice<=1e5',
        |    CAST(n_r2 AS DOUBLE) / CAST(n AS DOUBLE), 1.0 FROM o
        |  UNION ALL SELECT 'orders', 'row_count', '*',
        |    CAST(n AS DOUBLE), 1000.0 FROM o
        |  UNION ALL SELECT 'orders', 'unique', 'o_orderkey',
        |    CAST(ks AS DOUBLE) / CAST(nr AS DOUBLE), 1.0 FROM u
        |  UNION ALL SELECT 'lineitem', 'in_range', 'l_discount',
        |    CAST(n_disc AS DOUBLE) / CAST(n AS DOUBLE), 0.95 FROM l
        |  UNION ALL SELECT 'lineitem', 'in_range', 'l_quantity',
        |    CAST(n_qty AS DOUBLE) / CAST(n AS DOUBLE), 1.0 FROM l
        |  UNION ALL SELECT 'lineitem', 'ref_integrity', 'l_orderkey',
        |    1.0 - CAST(orph AS DOUBLE) / CAST(n AS DOUBLE), 1.0 FROM ri),
        |mp AS (SELECT *, coalesce(metric >= threshold, FALSE) AS passed FROM m)
        |SELECT target, chk AS "check", cl AS "column",
        |  floor(metric * 1e6 + 0.5) / 1e6 AS metric,
        |  CAST(threshold AS DOUBLE) AS threshold, passed
        |FROM mp ORDER BY target, chk, cl""".stripMargin,
    // exact top-10 stated directly; the est==exact boolean is pinned
    // TRUE by the no-eviction theorem (see qTopkPartials)
    "q_topk_partials" ->
      """SELECT user_id, count(*) AS cnt, TRUE AS topk_exact
        |FROM events GROUP BY user_id
        |ORDER BY cnt DESC, user_id LIMIT 10""".stripMargin,
    // exact twins stated directly; the HLL accuracy boolean is pinned
    // TRUE (see qHllPartials — ±5% at lgK 12 is ≈3σ with a fixed seed)
    "q_hll_partials" ->
      """SELECT l_returnflag,
        |  count(DISTINCT date_trunc('month', l_shipdate)) AS n_partials,
        |  count(*) AS n,
        |  count(DISTINCT l_partkey) AS nd_parts,
        |  TRUE AS hll_within
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // computed DIRECTLY from the facts (no partial/merge staging) — the
    // gate is the proof that the Spark side's two-level algebra equals a
    // one-level aggregate. Same moment formula, same operation order, so
    // every double op is determined by the same exact integer sums
    // (HUGEINT sums cast to BIGINT per invariant 1; sqrt is IEEE-exact).
    "q_partial_merge" -> {
      val meanSql = rndSql("CAST(s AS DOUBLE) / CAST(n AS DOUBLE)", 4)
      // greatest(.., 0) mirrors PartialAgg.derive's cancellation clamp
      val stdSql = rndSql(
        "CASE WHEN n >= 2 THEN sqrt(greatest(" +
          "(CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))" +
          " / CAST(n - 1 AS DOUBLE), 0.0)) END", 4)
      """WITH s AS (
        |  SELECT l_returnflag,
        |    count(DISTINCT date_trunc('month', l_shipdate)) AS n_partials,
        |    count(l_quantity) AS n,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s,
        |    CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS BIGINT) AS s2,
        |    min(CAST(l_quantity AS BIGINT)) AS mn,
        |    max(CAST(l_quantity AS BIGINT)) AS mx
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n_partials, n, s AS sum_qty, mn, mx,
        |""".stripMargin +
        s"  $meanSql AS mean,\n  $stdSql AS std\n" +
        "FROM s ORDER BY l_returnflag"
    },
    "q_profile" -> {
      // the same capped deterministic draw as the Spark side (integer
      // keep test on the unique lineitem key — the q_approx_sketch idiom)
      val diag =
        s"""SELECT l.* FROM lineitem l, (SELECT count(*) AS total FROM lineitem) t
           |  WHERE ('0x' || substr(md5(CAST(l.l_orderkey AS VARCHAR) || '_' ||
           |           CAST(l.l_linenumber AS VARCHAR) || '|profdiag'), 1, 8))::BIGINT
           |        * t.total < $SketchDiagCap * 4294967296""".stripMargin
      def one(c: String) =
        s"""SELECT '$c' AS col_name, count($c) AS n,
           |  count(*) - count($c) AS n_null,
           |  ${rndSql(s"avg($c)", 4)} AS mean,
           |  ${rndSql(s"stddev_samp($c)", 4)} AS std,
           |  min($c) AS min_v, max($c) AS max_v,
           |  ${rndSql(s"quantile_cont($c, 0.25)", 4)} AS p25,
           |  ${rndSql(s"quantile_cont($c, 0.5)", 4)} AS p50,
           |  ${rndSql(s"quantile_cont($c, 0.75)", 4)} AS p75
           |FROM diag""".stripMargin
      s"WITH diag AS (\n$diag)\n" +
        Seq("l_quantity", "l_extendedprice", "l_discount").map(one)
          .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    },
    // CMS booleans are theorem-pinned TRUE (no-undercount is exact;
    // within-eps is the ε·N bound — see qHeavyHitters); the exact
    // ranks/counts are stated directly
    "q_heavy_hitters" ->
      """WITH counts AS (
        |  SELECT event_type, user_id, count(*) AS cnt
        |  FROM events GROUP BY event_type, user_id),
        |ranked AS (
        |  SELECT event_type, user_id, cnt,
        |    row_number() OVER (PARTITION BY event_type
        |                       ORDER BY cnt DESC, user_id) AS rn
        |  FROM counts)
        |SELECT event_type, rn, user_id, cnt,
        |  TRUE AS cms_no_undercount, TRUE AS cms_within_eps
        |FROM ranked WHERE rn <= 3
        |ORDER BY event_type, rn""".stripMargin,
    "q_approx_sketch" ->
      // the same capped deterministic draw as the Spark side: integer
      // keep test hash·total < cap·2^32, so no boundary row can differ
      s"""WITH t AS (SELECT count(*) AS total FROM events),
        |s AS (
        |  SELECT e.event_type, e.user_id, e.value FROM events e, t
        |  WHERE ('0x' || substr(md5(CAST(e.event_id AS VARCHAR) || '|sketchdiag'), 1, 8))::BIGINT
        |        * t.total < $SketchDiagCap * 4294967296)
        |SELECT event_type,
        |  count(DISTINCT user_id) AS users_exact,
        |  floor((quantile_cont(value, 0.5)) * 1e4 + 0.5) / 1e4 AS p50_exact,
        |  TRUE AS users_within,
        |  TRUE AS p50_within
        |FROM s GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_sketch_lean" ->
      """SELECT event_type, count(*) AS cnt,
        |  floor((min(value)) * 1e4 + 0.5) / 1e4 AS vmin,
        |  floor((max(value)) * 1e4 + 0.5) / 1e4 AS vmax,
        |  TRUE AS sketch_sane
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_date_parts" ->
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS INTEGER) AS y,
        |  CAST(month(o_orderdate) AS INTEGER) AS m,
        |  CAST(day(o_orderdate) AS INTEGER) AS d,
        |  CAST(o_orderdate AS DATE) + 1 AS next_day,
        |  CAST(o_orderdate AS DATE) - 7 AS week_before
        |FROM orders WHERE o_orderkey < 100 ORDER BY o_orderkey""".stripMargin,
    "q_unit_suffix" ->
      """WITH s AS (
        |  SELECT p_partkey,
        |    p_size::VARCHAR || (['K', 'M', 'B', 'T'])[(p_partkey % 4) + 1] AS raw
        |  FROM part WHERE p_partkey < 100)
        |SELECT p_partkey, raw,
        |  CAST(nullif(regexp_extract(trim(raw), '(?i)^(-?[0-9]*\.?[0-9]+)([KMBT])?$', 1), '') AS DOUBLE) *
        |    (CASE upper(regexp_extract(trim(raw), '(?i)^(-?[0-9]*\.?[0-9]+)([KMBT])?$', 2))
        |      WHEN 'K' THEN 1e3 WHEN 'M' THEN 1e6
        |      WHEN 'B' THEN 1e9 WHEN 'T' THEN 1e12 ELSE 1.0 END) AS value
        |FROM s ORDER BY p_partkey""".stripMargin,
    "q_cube" ->
      """SELECT CASE WHEN GROUPING(l_returnflag) = 1 THEN 'ALL'
        |    ELSE l_returnflag END AS flag,
        |  CASE WHEN GROUPING(l_linestatus) = 1 THEN 'ALL'
        |    ELSE l_linestatus END AS status,
        |  floor((sum(l_quantity)) * 1e2 + 0.5) / 1e2 AS sum_qty, count(*) AS cnt
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY flag NULLS LAST, status NULLS LAST""".stripMargin,
    "q_json_profile" ->
      """WITH d AS (
        |  SELECT event_type,
        |    CASE WHEN json_valid(props) THEN
        |      TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE) END AS d
        |  FROM events),
        |e AS (
        |  SELECT event_type,
        |    CASE WHEN NOT isnan(d) AND d >= -2147483648.0
        |        AND d < 2147483648.0
        |      THEN CAST(floor(d) AS INT) END AS k
        |  FROM d)
        |SELECT event_type,
        |  CAST(floor(k / 10.0) AS INT) AS k_band,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(min(k) AS INT) AS k_min,
        |  CAST(max(k) AS INT) AS k_max
        |FROM e GROUP BY event_type, 2
        |ORDER BY event_type, k_band""".stripMargin,
    "q_unpivot" ->
      // restricted to the pivot's DECLARED column list: a pivot cannot
      // carry a NULL or unlisted column name, so types outside
      // EventTypes never reach the wide frame (hostile sweep r18)
      s"""SELECT CAST(ts AS DATE) AS day, event_type, CAST(count(*) AS BIGINT) AS n
        |FROM events
        |WHERE event_type IN (${EventTypes.map(t => s"'$t'").mkString(", ")})
        |GROUP BY CAST(ts AS DATE), event_type
        |ORDER BY day, event_type""".stripMargin,
    "q_grouping_sets" ->
      """SELECT CASE WHEN GROUPING(l_returnflag) = 1 THEN 'ALL'
        |    ELSE l_returnflag END AS flag,
        |  CASE WHEN GROUPING(l_linestatus) = 1 THEN 'ALL'
        |    ELSE l_linestatus END AS status,
        |  floor((sum(l_quantity)) * 1e2 + 0.5) / 1e2 AS sum_qty, count(*) AS cnt
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
        |ORDER BY flag NULLS LAST, status NULLS LAST""".stripMargin,
    "q_count_distinct" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS nd_parts,
        |  count(DISTINCT l_suppkey) AS nd_supps,
        |  count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_percentile" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.25) AS p25,
        |  quantile_cont(l_quantity, 0.5) AS median,
        |  quantile_cont(l_quantity, 0.75) AS p75
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_wordcount" ->
      // whitespace class = the shared explicit WsRe set (hostile r18:
      // RE2's \s omits U+000B where the engine's Java \s includes it)
      s"""SELECT token, count(*) AS cnt FROM (
        |  SELECT unnest(list_filter(string_split_regex(trim(text), '${graft.functions.TextFunctions.WsRe}+'), x -> x <> '')) AS token
        |  FROM documents)
        |GROUP BY token ORDER BY token""".stripMargin,
    "q_pivot" ->
      """SELECT user_id,
        |  count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        |  count(CASE WHEN event_type = 'view' THEN 1 END) AS view,
        |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        |  count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        |  count(CASE WHEN event_type = 'error' THEN 1 END) AS error
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_histogram" ->
      """SELECT CAST(floor(value / 50) AS BIGINT) AS bucket,
        |  count(*) AS cnt,
        |  floor((sum(value)) * 1e2 + 0.5) / 1e2 AS sum_value
        |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin,
    "q_stats_corr" ->
      """SELECT l_returnflag,
        |  floor((corr(l_quantity, l_extendedprice)) * 1e4 + 0.5) / 1e4 AS corr_qty_price,
        |  floor((covar_samp(l_quantity, l_discount)) * 1e4 + 0.5) / 1e4 AS cov_qty_disc
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_offset_limit" ->
      """SELECT c_custkey, c_name FROM customer
        |ORDER BY c_custkey LIMIT 10 OFFSET 40""".stripMargin,
    "q_string_funcs" ->
      """SELECT c_custkey,
        |  upper(c_mktsegment) AS seg_upper,
        |  lower(c_name) AS name_lower,
        |  substring(c_name, 1, 8) AS name_prefix,
        |  c_mktsegment || '|' || c_custkey::VARCHAR AS tagged,
        |  regexp_replace(c_name, '[aeiou]', '_', 'g') AS devoweled,
        |  CAST(length(c_name) AS INTEGER) AS name_len,
        |  lpad(c_custkey::VARCHAR, 8, '0') AS padded_id
        |FROM customer WHERE c_custkey < 50 ORDER BY c_custkey""".stripMargin,
  )
}
