package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions.{hash32, WsRe}

/** Deterministic sampling/splitting for training-data assembly — the
  * operations that turn a landed corpus into a training mix:
  *
  *  - stratified downsampling (keep over-represented strata at a
  *    fraction), hash-based so the SAME rows survive on every engine,
  *    every run, every retry — `rand()` sampling is not reproducible
  *    across task retries and cannot be oracle-checked;
  *  - leakage-safe train/val/test splits keyed by ENTITY (all of a
  *    user's rows land in one split — row-level splits leak a user's
  *    behaviour across train and eval).
  *
  * Both are pure map-side expressions over md5 (the shared cross-engine
  * hash): no shuffle except the final presentation aggregate, scan-
  * parallel at any corpus size.
  */
object TrainingDataQueries {

  /** hash32 of (id | salt) — uniform in [0, 2^32); the salt decouples
    * independent sampling decisions on the same key. */
  private def saltedHash(c: Column, salt: String): Column =
    hash32(concat(c.cast("string"), lit("|" + salt)))

  private val Two32 = 4294967296L

  val SampleRates: Seq[(String, Double)] = Seq(
    "click" -> 0.5, "error" -> 0.25, "purchase" -> 1.0,
    "signup" -> 1.0, "view" -> 0.1)

  /** Per-stratum deterministic sampling: a row survives iff
    * hash32(event_id|salt) < rate(event_type)·2^32. Presentation output
    * is the per-stratum count + id-range fingerprint. */
  def qStratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val rate = SampleRates.foldLeft(lit(0.0)) { case (acc, (k, v)) =>
      when(col("event_type") === k, lit(v)).otherwise(acc)
    }
    Tables.events(spark, dir)
      .filter(saltedHash(col("event_id"), "strat") < rate * lit(Two32))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_sampled"),
        min("event_id").as("first_id"), max("event_id").as("last_id"))
      .orderBy("event_type")
  }

  /** Entity-keyed 80/10/10 split: hash32(user_id|salt) mod 100 buckets →
    * train/val/test; every event of a user lands in ONE split. */
  def qHashSplit(spark: SparkSession, dir: String): DataFrame = {
    val bucket = saltedHash(col("user_id"), "split") % 100
    Tables.events(spark, dir)
      .withColumn("split",
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_events"), countDistinct("user_id").as("n_users"))
      .orderBy("split")
  }

  /** Sequence packing (concat-and-chunk): documents in a stable order
    * are packed into contiguous training bins of ~`budget` tokens by
    * bucketing the running token count — the distributed analog of the
    * greedy packer every LLM data pipeline runs before tokenized-batch
    * writing. One window cumsum (per-source partition) + one aggregate;
    * a doc straddling a boundary starts the next bin (no splitting).
    * SCALE NOTE: the prefix sum serializes per source by definition —
    * at 100 TB pack per (source, shard) with shards cut by an id range,
    * which only perturbs bin boundaries at shard edges. */
  /** Token budget per training bin — interpolated into BOTH the Spark
    * plan and the DuckDB oracle so they cannot drift. */
  val PackBudget = 2048L

  def qSeqPacking(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.TextFunctions.tokenCount
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), tokenCount(col("text")).cast("long").as("n_tok"))
      .withColumn("cum", coalesce(sum("n_tok").over(w), lit(0L)))
      .withColumn("bin", expr(s"cum div $PackBudget")) // div: exact integer quotient
      .groupBy("source", "bin")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("total_tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .orderBy("source", "bin")
  }

  /** Target domain-mix fractions for [[qDomainMix]] — interpolated into
    * BOTH engines so they cannot drift: src0 is boosted, src1 halved,
    * the remaining 18 fixture sources share the rest uniformly. */
  val DomainTargets: Seq[(String, Double)] =
    Seq("src0" -> 0.2, "src1" -> 0.1) ++
      ((2 until 20).map(i => s"src$i" -> 0.7 / 18))

  /** Domain-mix rebalancing (the data-mixing step of training-corpus
    * assembly): given target per-source fractions, downsample each
    * source deterministically so the kept corpus matches the target mix
    * at the largest achievable size T = min_s(n_s / f_s) — no source is
    * upsampled, rate_s = f_s·T / n_s ≤ 1. Two-pass plan: one 20-row
    * count aggregate broadcast back onto the scan, then the same
    * md5-hash survival filter as [[qStratifiedSample]] — map-side at any
    * corpus size, reproducible across engines/retries. */
  def qDomainMix(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val target = DomainTargets.foldLeft(lit(0.0)) { case (acc, (k, v)) =>
      when(col("source") === k, lit(v)).otherwise(acc)
    }
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n_orig"))
      .withColumn("f", target)
      .filter(col("f") > 0)
    val t = counts.agg(min(col("n_orig") / col("f")).as("t"))
    val rates = counts.crossJoin(broadcast(t))
      .withColumn("rate", col("f") * col("t") / col("n_orig"))
      .select("source", "n_orig", "rate")
    docs.join(broadcast(rates), "source")
      .filter(saltedHash(col("doc_id"), "mix") < col("rate") * lit(Two32.toDouble))
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"),
        max("n_orig").as("n_orig"), rnd(max("rate"), 6).as("rate"))
      .select("source", "n_orig", "n_kept", "rate")
      .orderBy("source")
  }

  /** Winsorization: clamp values to their stratum's [p05, p95] — the
    * outlier-capping step of feature prep. Percentiles come from ONE
    * grouped aggregate broadcast back onto the stream (5 rows), not a
    * per-row window — the fact side never re-sorts. */
  def qWinsorize(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val bounds = e.groupBy("event_type").agg(
      expr("percentile(value, 0.05)").as("p05"),
      expr("percentile(value, 0.95)").as("p95"))
    e.filter(col("event_id") < 2000)
      .join(broadcast(bounds), "event_type")
      .select(col("event_id"), col("event_type"),
        rnd(greatest(col("p05"), least(col("p95"), col("value"))), 4).as("value_capped"))
      .orderBy("event_id")
  }

  /** Per-entity z-score normalization: (v − mean)/σ per user, the
    * feature-scaling twin of the anomaly z-score — aggregate + broadcast
    * join, no per-row window, nullif guards single-event users (σ = 0). */
  def qNormalize(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    // cents-exact mean (same idiom as the z-score queries): plain avg()
    // accumulates in engine-specific order and drifts in the last ulps,
    // which can flip a 1e-4 rounding digit between Spark and DuckDB
    val stats = e.groupBy("user_id").agg(
      (sum(round(col("value") * 100).cast("long")) / (count(col("value")) * lit(100.0))).as("mu"),
      stddev_pop(col("value")).as("sigma"))
    e.filter(col("user_id") < 30)
      .join(stats, "user_id")
      .select(col("event_id"), col("user_id"),
        rnd((col("value") - col("mu")) / nullif(col("sigma"), lit(0.0)), 4).as("value_z"))
      .orderBy("event_id")
  }

  /** Robust-z outlier threshold for [[qOutlierMad]] (Iglewicz–Hoaglin
    * modified z-score, |0.6745·(x−med)/MAD| > 3.5) — interpolated into
    * BOTH engines so they cannot drift. */
  val MadZThreshold = 3.5

  /** Robust per-source length-outlier detection: median/MAD modified
    * z-score over n_chars, the curation pass that flags truncated
    * fragments and concatenation blobs BEFORE they skew mean-based
    * quality stats (mean/σ is itself dragged by the outliers it should
    * catch; median/MAD is not — the reason winsorize's percentile
    * cousin exists for features, this one for corpus docs).
    *
    * Scale shape: two grouped aggregates over the ~handful of sources
    * (exact percentile sorts per group — at 100 TB swap in
    * approx_percentile and keep the same plan), each broadcast back
    * onto the scan; the fact side is never re-sorted and never
    * shuffles. MAD = 0 (half-constant group) nulls the score rather
    * than dividing by zero on either engine. */
  /** Frame-parameterized body of [[qOutlierMad]] (spec-testable;
    * SQL-reachable as the `outlier_mad` TVF). Emits (idCol, groupCol,
    * valueCol, robust_z, outlier); the threshold tests the ROUNDED
    * score so the flag can never disagree with the displayed value. */
  def outlierMad(df: DataFrame, groupCol: String, valueCol: String,
                 idCol: String): DataFrame = {
    // col()-resolved args (a name like "a-b" must look up the column, not
    // parse as SQL arithmetic) + reserved internal names guarded loudly
    val reserved = Seq("__med", "__mad", "robust_z", "outlier")
    val clash = reserved.filter(df.columns.contains)
    require(clash.isEmpty,
      s"outlier_mad: input must not contain reserved column(s) ${clash.mkString(", ")}")
    val med = df.groupBy(groupCol)
      .agg(percentile(col(valueCol), lit(0.5)).as("__med"))
    val dev = df.join(broadcast(med), groupCol)
    val mad = dev.groupBy(groupCol)
      .agg(percentile(abs(col(valueCol) - col("__med")), lit(0.5)).as("__mad"))
    dev.join(broadcast(mad), groupCol)
      .select(col(idCol), col(groupCol), col(valueCol),
        rnd((lit(0.6745) * (col(valueCol) - col("__med"))) / nullif(col("__mad"), lit(0.0)), 4)
          .as("robust_z"))
      .withColumn("outlier",
        coalesce(abs(col("robust_z")) > MadZThreshold, lit(false)).cast("int"))
  }

  def qOutlierMad(spark: SparkSession, dir: String): DataFrame =
    outlierMad(Tables.documents(spark, dir), "source", "n_chars", "doc_id")
      .orderBy("doc_id")

  /** End-to-end training-data pipeline COMPOSED from the declared
    * operators — the "a user of the reference could switch" demo as one
    * oracled query: exact dedup (keep the canonical min-id row per
    * content fingerprint) → benchmark decontamination (drop corpus docs
    * sharing any 5-gram with the doc_id<10 eval slice) → quality floor
    * (≥ 20 tokens) → chunk accounting (stride-window count with the
    * no-redundant-tail guard, TextStats.ChunkLen/ChunkStride). Every
    * stage is the same code path its standalone query runs: Dedup
    * .exactDedup, TextFunctions.shingleRows broadcast probe, the
    * qChunking starts formula. Scale shape: four linear scans of
    * documents (dedup fingerprint + join-back, corpus shingles, bench
    * slice), one tiny broadcast, one anti join — no all-pairs work. */
  def qPipelineE2e(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.{shingleRows, tokens}
    val n = 5
    val docs = Tables.documents(spark, dir)
    val corpus = docs.filter(col("doc_id") >= 10)
    val deduped = graft.operators.Dedup.exactDedup(corpus)
    val benchShingles = shingleRows(docs.filter(col("doc_id") < 10), n)
      .select("sh").distinct()
    val contaminated = shingleRows(corpus, n)
      .join(broadcast(benchShingles), Seq("sh"))
      .select("doc_id").distinct()
    val len = TextStats.ChunkLen
    val stride = TextStats.ChunkStride
    val kept = deduped
      .join(contaminated, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), tokens(col("text")).as("ts"))
      .select(col("doc_id"), size(col("ts")).cast("long").as("n_tokens"))
      .filter(col("n_tokens") >= 20)
    // chunk starts: the qChunking formula — the lambda touches only its
    // argument and the materialized n_tokens attribute (cheap refs)
    val starts = filter(
      sequence(lit(1), col("n_tokens").cast("int"), lit(stride)),
      s => (s === 1) || (s + lit(len - stride) <= col("n_tokens")))
    kept
      .select(col("doc_id"), col("n_tokens"), size(starts).cast("long").as("n_chunks"))
      .orderBy("doc_id")
  }

  /** Per-group sample width for [[qSamplePerGroup]] — interpolated into
    * BOTH engines so they cannot drift. */
  val PerGroupK = 25

  /** Exact-k-per-group sample (TVF `sample_per_group`): the first `k`
    * rows of every group under a deterministic salted-hash order —
    * "carve a fixed-size eval/inspection slice per domain", the
    * exact-count complement of [[qStratifiedSample]]'s per-stratum
    * fractions. Hash order makes it an unbiased draw that is STABLE
    * across engines, runs, and retries, which `rand()`-based reservoir
    * sampling is not. Groups smaller than `k` draw whole. Emits
    * (groupCol, idCol, draw_rank).
    *
    * Scale shape: the rank filter plans as WindowGroupLimit — each task
    * keeps only its local top-k per group BEFORE the exchange, so the
    * shuffle carries ≤ k·partitions rows per group, never the corpus
    * (same shape as the semantic-dedup probe cut; asserted in
    * PlanSpec). */
  def samplePerGroup(df: DataFrame, groupCol: String, idCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"sample_per_group: k must be at least 1, got $k")
    val w = Window.partitionBy(groupCol)
      .orderBy(saltedHash(col(idCol), "pergroup"), col(idCol))
    df.select(col(groupCol), col(idCol))
      .withColumn("draw_rank", row_number().over(w))
      .filter(col("draw_rank") <= k)
  }

  def qSamplePerGroup(spark: SparkSession, dir: String): DataFrame =
    samplePerGroup(Tables.documents(spark, dir), "source", "doc_id", PerGroupK)
      .orderBy("source", "draw_rank")

  /** Sample size for [[qWeightedSample]] — interpolated into BOTH
    * engines so they cannot drift. */
  val WeightedK = 100

  /** Quality-WEIGHTED sampling without replacement (Efraimidis–
    * Spirakis exponential keys): doc i survives with probability
    * proportional to its weight by drawing key_i = −ln(u_i)/w_i
    * (u_i = the deterministic md5 uniform) and keeping the
    * [[WeightedK]] smallest keys — the exponential-clocks argument
    * makes the bottom-k exactly a weighted draw, and the md5 u makes
    * it reproducible across engines, runs and retries (the same
    * rand()-free discipline as every sampler here). Weight = n_chars:
    * "prefer longer documents", the simplest quality proxy.
    *
    * Scale shape: keys are pure map-side arithmetic; the bottom-k is
    * `orderBy(key).limit(k)` — TakeOrderedAndProject, local top-k per
    * task, no global sort. Cross-engine determinism: key = ln over the
    * exact rational u in one fixed expression order, so engines differ
    * only at libm-ulp scale while adjacent order-statistic gaps are
    * ~1/n — selection flips need a ~10¹² times smaller gap (the
    * q_stats_corr precedent, applied to ranking). */
  def qWeightedSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .filter(col("n_chars") > 0)
    // u in (0, 1]: (h + 1) / 2^32 — never 0, so ln(u) is finite
    val u = (saltedHash(col("doc_id"), "weighted") + lit(1L)) /
      lit(4294967296.0)
    docs
      .withColumn("key", -log(u) / col("n_chars").cast("double"))
      .orderBy(col("key"), col("doc_id")).limit(WeightedK)
      .select(col("doc_id"), col("n_chars"), rnd(col("key") * 1e6, 4).as("key_scaled"))
      .orderBy("doc_id")
  }

  /** Training epochs per language for [[qUpsampleRepeat]] /
    * [[qMixtureReport]] — interpolated into BOTH engines so they cannot
    * drift. Fractions are exact in binary AND decimal (.25/.5/.75), so
    * `epochs - floor(epochs)` is bit-identical across engines; a
    * language absent from the map gets 0 epochs (dropped). fr < 1
    * exercises the downsampling side of the same mechanism. */
  val MixEpochs: Seq[(String, Double)] = Seq(
    "en" -> 2.5, "de" -> 1.0, "fr" -> 0.5, "es" -> 3.25, "zh" -> 1.75)

  /** Fractional-epoch repetition (the domain-weighting move behind
    * "repeat the high-quality sources 2.5×"): each row is emitted
    * floor(e) times plus once more with probability frac(e), decided by
    * the deterministic salted hash — so 2.5 epochs means every doc
    * appears twice and a hash-chosen half appear a third time. The SAME
    * mechanism downsamples (e < 1) and drops (e = 0), making it the one
    * primitive a mixture spec needs. Adds `repeat_idx` (1-based);
    * preserves every input column so downstream packing/shuffling sees
    * the repeated corpus as ordinary rows.
    *
    * Scale shape: pure map-side — a per-row epoch lookup, one hash, and
    * a bounded array_repeat explode (width ≤ ceil(max epochs)); no
    * shuffle, no state. At 100 TB the explode multiplies bytes by the
    * mixture's mean epoch count — exactly the bytes a training run
    * reads, paid once at materialization. */
  def upsampleRepeat(df: DataFrame, langCol: String, idCol: String): DataFrame = {
    // loud reserved-name guard + positional rename of the generator's
    // (pos, col) output: a user column named pos/col would otherwise make
    // the repeat_idx reference ambiguous — or worse, get silently dropped
    val reserved = Seq("__n_rep", "__pos", "__one", "repeat_idx")
    val clash = reserved.filter(df.columns.contains)
    require(clash.isEmpty,
      s"upsample_repeat: input must not contain reserved column(s) ${clash.mkString(", ")}")
    val ep = MixEpochs.foldLeft(lit(0.0)) { case (acc, (k, v)) =>
      when(col(langCol) === k, lit(v)).otherwise(acc)
    }
    val extra = (saltedHash(col(idCol), "epoch") <
      (ep - floor(ep)) * lit(Two32.toDouble)).cast("int")
    df.withColumn("__n_rep", (floor(ep).cast("int") + extra))
      .select(col("*"), posexplode(array_repeat(lit(1), col("__n_rep"))))
      .toDF(df.columns ++ Seq("__n_rep", "__pos", "__one"): _*)
      .withColumn("repeat_idx", col("__pos") + 1)
      .drop("__pos", "__one", "__n_rep")
  }

  def qUpsampleRepeat(spark: SparkSession, dir: String): DataFrame =
    upsampleRepeat(
      Tables.documents(spark, dir).select("doc_id", "lang"), "lang", "doc_id")
      .orderBy("doc_id", "repeat_idx")

  /** Post-mixing token accounting: per language, how many distinct docs
    * / rows / tokens the [[upsampleRepeat]] mixture actually yields and
    * each language's share of the total token budget — the sanity table
    * a mixture spec is checked against before a run burns compute on the
    * wrong proportions.
    *
    * Scale shape: the upsample is map-side; tokens are counted on the
    * BASE rows and multiplied through the repeat (never re-tokenizing
    * repeats); one uniform groupBy(lang) plus a broadcast scalar total.
    */
  def qMixtureReport(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.tokenCount
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), tokenCount(col("text")).as("n_toks"))
    val per = upsampleRepeat(base, "lang", "doc_id")
      .groupBy("lang")
      .agg(count_distinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_rows"),
        sum("n_toks").cast("long").as("n_tokens"))
    val tot = per.agg(sum("n_tokens").as("tot"))
    per.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_docs"), col("n_rows"), col("n_tokens"),
        rnd(col("n_tokens") / col("tot"), 4).as("token_share"))
      .orderBy("lang")
  }

  /** Seed / shard count for [[qEpochShuffle]] — interpolated into BOTH
    * engines so they cannot drift. A new epoch is a new seed string:
    * the entire ordering re-randomizes deterministically. */
  val EpochSeed = 1
  val EpochShards = 8

  /** Deterministic epoch shuffle + shard assignment — the training-data
    * READER contract: every document gets a pseudorandom global
    * position (order by md5(doc_id|seed)), a round-robin shard in
    * [0, [[EpochShards]]), and its position within the shard. A loader
    * fleet can then each read ONE shard's rows in pos_in_shard order
    * and the union is a seeded global shuffle — reproducible across
    * engines, runs and retries, unlike rand() ordering.
    *
    * Scale shape: the global order comes from
    * [[graft.operators.ChunkedOrder.withGlobalRowNumber]] — row_number
    * PARTITIONED by the hash-prefix chunk (monotone in the leading
    * order key by construction) plus a metadata-scale running offset —
    * no total-order window; shard and pos_in_shard are pure arithmetic
    * on the position. Round-robin keeps shard sizes balanced within one
    * row regardless of hash skew. */
  def epochShuffle(df: DataFrame, idCol: String, seed: String,
                   shards: Int): DataFrame = {
    require(shards >= 1, s"epochShuffle: shards must be >= 1 (got $shards)")
    val keyed = df.select(col(idCol), saltedHash(col(idCol), seed).as("hkey"))
    // 2^26-wide chunks over the 32-bit hash range: ~64 chunks, each a
    // prefix of the leading order key (the stitcher's monotone contract)
    graft.operators.ChunkedOrder.withGlobalRowNumber(
        keyed, expr("hkey div 67108864"), Seq(col("hkey"), col(idCol)), "pos")
      .select(col(idCol), col("pos"),
        pmod(col("pos") - 1, lit(shards)).cast("int").as("shard"),
        (expr(s"(pos - 1) div $shards") + 1).cast("int").as("pos_in_shard"))
  }

  def qEpochShuffle(spark: SparkSession, dir: String): DataFrame =
    epochShuffle(Tables.documents(spark, dir).select("doc_id"),
      "doc_id", s"epoch$EpochSeed", EpochShards)
      .orderBy("doc_id")

  /** Bin count for [[qPsiDrift]] — interpolated into BOTH engines. */
  val PsiBins = 10

  /** Population-stability-index drift report — the model-monitoring
    * staple: per event_type, PSI between the month's first and second
    * half over [[PsiBins]] equal-width value bins,
    * PSI = Σ (pa − pb)·ln(pa/pb) with add-one (Laplace) smoothed bin
    * shares so empty bins stay finite. PSI > 0.25 is the conventional
    * "significant shift" flag (compared on the ROUNDED psi, so the
    * boolean is engine-deterministic).
    *
    * Scale shape: one global min/max aggregate broadcast back, one
    * event-grain aggregate onto the bounded (type × bin) grid, then
    * metadata-scale spine/total joins — the seasonal-baseline shape; no
    * windows, no distinct state. Equal-width bins (not quantile edges)
    * keep the second pass a pure map — the profiler's percentile recipe
    * is the swap-in if quantile bins are wanted. */
  /** Shared Laplace-smoothed per-bin probability frame for the
    * [[psiDrift]]/[[jsdDrift]] pair — equal-width [[PsiBins]] binning
    * between the month's halves, zero cells materialized by the spine,
    * +1 smoothing: (event_type, bin, ta, tb, pa, pb). ONE definition
    * (review r13: the two drift monitors grew verbatim copies of this
    * pipeline — the binning rule lives once or they diverge), mirrored
    * by the shared [[PsiBinProbsCtes]] oracle prefix. */
  private def binProbs(df: DataFrame, typeCol: String, tsCol: String,
                       valCol: String, splitDay: Int): DataFrame = {
    val ev = df
      .select(col(typeCol).as("event_type"), col(valCol).as("value"),
        when(dayofmonth(dayOf(tsCol)) <= splitDay, "a").otherwise("b")
          .as("period"))
    val mm = ev.agg(min(col("value")).as("mn"), max(col("value")).as("mx"))
    val binned = ev.crossJoin(broadcast(mm))
      .select(col("event_type"), col("period"),
        when(col("mx") === col("mn"), lit(0))
          .otherwise(least(lit(PsiBins - 1),
            floor((col("value") - col("mn")) /
              ((col("mx") - col("mn")) / lit(PsiBins.toDouble))).cast("int")))
          .as("bin"))
    val cells = binned.groupBy("event_type", "bin")
      .agg(sum(when(col("period") === "a", 1L).otherwise(0L)).as("na"),
        sum(when(col("period") === "b", 1L).otherwise(0L)).as("nb"))
    // Bin-fill + totals in ONE downstream aggregate over cells (r20
    // optimization). The old shape — spine from a THIRD full fact scan
    // (ev.select(type).distinct()), spine⋈cells left join, tots rollup,
    // broadcast tots back — held three more exchanges and one more scan
    // (`git show f9c6fb8:plans/r20/q_psi_drift_before.txt`: 3 Scan parquet in the final
    // plan). Deriving the spine from cells instead would put a second
    // consumer on the cells subtree, whose column pruning
    // de-canonicalizes the exchange and re-runs the binning pipeline
    // (the q_span_dedup reuse lesson) — so cells folds ONCE per type
    // into a bin→counts map + totals, and the 0..PsiBins-1 grid
    // explodes out of that single row. Exactness: na/nb are the same
    // longs (map lookup vs join), ta/tb sum the same non-NULL-bin
    // cells the old spine join kept, and the smoothing arithmetic is
    // untouched. The old final INNER join on event_type dropped
    // NULL-type rows (NULL keys never match) — the isNotNull filter
    // states that same contract directly.
    val perType = cells.filter(col("event_type").isNotNull)
      .groupBy("event_type")
      .agg(
        map_from_entries(collect_list(when(col("bin").isNotNull,
          struct(col("bin"), struct(col("na"), col("nb")))))).as("m"),
        sum(when(col("bin").isNotNull, col("na")).otherwise(0L)).as("ta"),
        sum(when(col("bin").isNotNull, col("nb")).otherwise(0L)).as("tb"))
    perType
      .select(col("event_type"), col("ta"), col("tb"), col("m"),
        explode(sequence(lit(0), lit(PsiBins - 1))).as("bin"))
      .select(col("event_type"), col("bin"),
        // try_element_at: ANSI element_at throws on an absent map key,
        // and absent bins are exactly the rows the old left join
        // coalesced to 0
        coalesce(try_element_at(col("m"), col("bin")).getField("na"), lit(0L)).as("na"),
        coalesce(try_element_at(col("m"), col("bin")).getField("nb"), lit(0L)).as("nb"),
        col("ta"), col("tb"))
      .withColumn("pa", (col("na") + 1.0) / (col("ta") + lit(PsiBins.toDouble)))
      .withColumn("pb", (col("nb") + 1.0) / (col("tb") + lit(PsiBins.toDouble)))
  }

  def psiDrift(df: DataFrame, typeCol: String, tsCol: String,
               valCol: String, splitDay: Int): DataFrame =
    binProbs(df, typeCol, tsCol, valCol, splitDay)
      .withColumn("term", (col("pa") - col("pb")) * log(col("pa") / col("pb")))
      .groupBy("event_type")
      .agg(max(col("ta")).as("n_first_half"), max(col("tb")).as("n_second_half"),
        rnd(sum(col("term")), 6).as("psi"))
      .withColumn("drifted", col("psi") > 0.25)

  def qPsiDrift(spark: SparkSession, dir: String): DataFrame =
    psiDrift(Tables.events(spark, dir), "event_type", "ts", "value", 15)
      .orderBy("event_type")

  /** Jensen–Shannon divergence per group between the month's halves
    * over the same [[PsiBins]] equal-width bins as [[psiDrift]] — the
    * bounded symmetric drift measure (0 ≤ JSD ≤ ln 2) a mixture monitor
    * alarms on when PSI's unbounded scale is too twitchy: JSD =
    * ½Σ pa·ln(pa/m) + ½Σ pb·ln(pb/m), m the midpoint, with the same
    * Laplace smoothing so every log is finite.
    *
    * Cross-engine discipline: the 10 per-bin float terms fold in a
    * FIXED left-associated conditional-max expression (the chi-square
    * recipe), never an order-free sum(); `drifted` compares the
    * ROUNDED statistic. Scale shape: identical to [[psiDrift]] — one
    * fact-grain binning pass onto the (groups × bins) grid, everything
    * after is metadata-scale. */
  def jsdDrift(df: DataFrame, typeCol: String, tsCol: String,
               valCol: String, splitDay: Int): DataFrame = {
    val terms = binProbs(df, typeCol, tsCol, valCol, splitDay)
      .withColumn("m", (col("pa") + col("pb")) / 2.0)
      .withColumn("term",
        lit(0.5) * col("pa") * log(col("pa") / col("m")) +
          lit(0.5) * col("pb") * log(col("pb") / col("m")))
    val byBin = terms.groupBy("event_type")
      .agg(max(col("ta")).as("n_first_half"),
        (max(col("tb")).as("n_second_half") +:
          (0 until PsiBins).map(b =>
            max(when(col("bin") === b, col("term"))).as(s"t$b"))): _*)
    val fold = (0 until PsiBins).map(b => coalesce(col(s"t$b"), lit(0.0)))
      .reduceLeft(_ + _)
    byBin
      .select(col("event_type"), col("n_first_half"), col("n_second_half"),
        rnd(fold, 6).as("jsd"))
      .withColumn("drifted", col("jsd") > 0.1)
  }

  def qJsdDrift(spark: SparkSession, dir: String): DataFrame =
    jsdDrift(Tables.events(spark, dir), "event_type", "ts", "value", 15)
      .orderBy("event_type")

  /** Hellinger distance per group between the month's halves over the
    * same [[PsiBins]] bins — the metric member of the drift family
    * (PSI is unbounded, JSD is bounded but not a metric; Hellinger is
    * a true metric in [0,1], so drift is comparable across groups AND
    * composable across time): H = √(1 − BC), BC = Σ √(pa·pb) the
    * Bhattacharyya coefficient, with the shared Laplace smoothing.
    *
    * Cross-engine discipline: sqrt is the one IEEE-exact power, the
    * products are identical doubles, and the 10 per-bin terms fold in
    * the [[jsdDrift]] FIXED left-associated coalesce chain — no
    * rounding needed before the fold; a greatest(0, ·) guard keeps an
    * identical-halves BC = 1 + ε from driving sqrt negative. `drifted`
    * compares the ROUNDED H. Scale shape: identical to [[psiDrift]]. */
  def hellingerDrift(df: DataFrame, typeCol: String, tsCol: String,
                     valCol: String, splitDay: Int): DataFrame = {
    val terms = binProbs(df, typeCol, tsCol, valCol, splitDay)
      .withColumn("term", sqrt(col("pa") * col("pb")))
    val byBin = terms.groupBy("event_type")
      .agg(max(col("ta")).as("n_first_half"),
        (max(col("tb")).as("n_second_half") +:
          (0 until PsiBins).map(b =>
            max(when(col("bin") === b, col("term"))).as(s"t$b"))): _*)
    val bc = (0 until PsiBins).map(b => coalesce(col(s"t$b"), lit(0.0)))
      .reduceLeft(_ + _)
    byBin
      .select(col("event_type"), col("n_first_half"), col("n_second_half"),
        rnd(bc, 6).as("bc"),
        rnd(sqrt(greatest(lit(0.0), lit(1.0) - bc)), 6).as("hellinger"))
      .withColumn("drifted", col("hellinger") > 0.1)
  }

  def qHellingerDrift(spark: SparkSession, dir: String): DataFrame =
    hellingerDrift(Tables.events(spark, dir), "event_type", "ts", "value", 15)
      .orderBy("event_type")

  /** Welch's two-sample t-test per event_type between the month's
    * halves — the significance complement of [[psiDrift]] (PSI says how
    * much the distribution moved; the t-test says whether the MEAN
    * moved more than noise explains). t and the Welch–Satterthwaite df
    * are derived from exact integer-cent moment sums in one
    * fixed-order double expression per side; the significance flag
    * compares the ROUNDED |t| against 1.96 so the boolean is
    * engine-deterministic.
    *
    * Scale shape: ONE event-grain aggregate onto the bounded
    * (type, period) grid, then a self-join of the 2-row-per-type grid —
    * metadata scale; the seasonal-baseline recipe without even the
    * broadcast-back pass. */
  /** Shared (group × month-half) exact-cent moment frame —
    * (event_type, period, n, sumc, sumsq) with NULL values filtered on
    * BOTH engines (review r13 pass 3: an unfiltered count dilutes the
    * mean/variance against the NULL-skipping sums) — ONE definition
    * for [[abTest]]/[[powerAnalysis]], mirrored by
    * [[HalfMomentsCtes]]. */
  private def halfMoments(df: DataFrame, typeCol: String, tsCol: String,
                          valCol: String, splitDay: Int): DataFrame = {
    // ONE conditional aggregate, wide per-type row (r20 optimization):
    // the per-(type, period) grain + a/b filter self-join planned as
    // TWO full fact scans — Catalyst pushes each period filter below
    // its aggregate, de-canonicalizing the subtrees so no exchange is
    // ever shared (verified in `git show f9c6fb8:plans/r20/q_ab_test_before.txt`: two
    // Scan parquet + two ObjectHashAggregate pipelines). Conditional
    // sums over the SAME exact integer cents produce bit-identical
    // moments in half the scans and drop the join outright. A type
    // appears in the old inner join iff both periods hold >= 1 row;
    // consumers' n >= 2 (abTest/powerAnalysis) filters subsume that.
    val ina = when(dayofmonth(dayOf(tsCol)) <= splitDay, 1L).otherwise(0L)
    // NULL-type groups dropped EXPLICITLY (r21, the psiBinned /
    // seasonalBaseline guard this aggregate missed): the declared oracle
    // SQL joins the two period aggregates ON a.event_type = b.event_type,
    // which silently drops a NULL-typed group (NULL = NULL is not true);
    // the conditional aggregate keeps that group and only the n>=2
    // consumer filters stood between it and an extra row on data with
    // NULL-typed values in both halves. Value-neutral on every input the
    // old join form passed.
    df.filter(col(valCol).isNotNull && col(typeCol).isNotNull)
      .select(col(typeCol).as("event_type"), ina.as("ina"),
        centsOf(valCol).as("cents"))
      .groupBy("event_type")
      .agg(sum(col("ina")).as("n_a"),
        sum(col("ina") * col("cents")).as("sumc_a"),
        sum(col("ina") * col("cents") * col("cents")).as("sumsq_a"),
        sum(lit(1L) - col("ina")).as("n_b"),
        sum((lit(1L) - col("ina")) * col("cents")).as("sumc_b"),
        sum((lit(1L) - col("ina")) * col("cents") * col("cents")).as("sumsq_b"))
  }

  def abTest(df: DataFrame, typeCol: String, tsCol: String,
             valCol: String, splitDay: Int): DataFrame = {
    val g = halfMoments(df, typeCol, tsCol, valCol, splitDay)
    // moments via the shared cross-engine recipe (see package.scala)
    def nd(s: String)  = col(s"n_$s").cast("double")
    def m(s: String)   = meanFromCents(col(s"n_$s"), col(s"sumc_$s"))
    def v(s: String)   = varFromCents(col(s"n_$s"), col(s"sumc_$s"),
      col(s"sumsq_$s"))
    val se2 = v("a") / nd("a") + v("b") / nd("b")
    val t = (m("a") - m("b")) / sqrt(se2)
    val dfw = (se2 * se2) /
      ((v("a") / nd("a")) * (v("a") / nd("a")) / (nd("a") - 1.0) +
        (v("b") / nd("b")) * (v("b") / nd("b")) / (nd("b") - 1.0))
    g.filter(col("n_a") >= 2 && col("n_b") >= 2)
      .select(col("event_type"),
        col("n_a"), col("n_b"),
        rnd(m("a") - m("b"), 4).as("mean_diff"),
        // both samples constant -> se2=0 -> no finite t; NULL, not a
        // divide-through-zero that rnd() would mangle per engine
        rnd(when(se2 > 0.0, t), 4).as("t_stat"),
        rnd(when(se2 > 0.0, dfw), 1).as("df"))
      // NULL t propagates to a NULL flag on both engines
      .withColumn("significant", abs(col("t_stat")) > 1.96)
  }

  def qAbTest(spark: SparkSession, dir: String): DataFrame =
    abTest(Tables.events(spark, dir), "event_type", "ts", "value", 15)
      .orderBy("event_type")

  /** (z_{α/2} + z_{power})² for α = 0.05 two-sided, power = 0.80 — the
    * EXACT double the Scala runtime computes, interpolated into the
    * oracle as its shortest round-trip decimal (the benfordP rule). */
  val PowerZSum2: Double = {
    val za = 1.959963984540054   // Φ⁻¹(0.975)
    val zb = 0.8416212335729143  // Φ⁻¹(0.80)
    (za + zb) * (za + zb)
  }

  /** Experiment power analysis per group — "how many samples per arm
    * would the NEXT experiment need to detect the shift we just
    * observed" (α = 0.05 two-sided, 80% power, Welch form):
    * n = ⌈(z_{α/2}+z_{0.8})²·(s_a²+s_b²)/δ²⌉ with δ the observed
    * month-half mean difference and the variances from the shared
    * exact-cent moment helpers. The experiment-sizing companion to
    * [[abTest]]: the t-test says whether THIS month moved; this says
    * what it costs to confirm a move of that size again. δ = 0 (or a
    * degenerate arm) yields NULL, and a required n beyond 10¹⁵ is
    * reported NULL rather than a meaninglessly huge ceil.
    *
    * Scale: the abTest shape verbatim — one (type × period) moment
    * aggregate, then a 2-row-per-type self-join at metadata scale. */
  def powerAnalysis(df: DataFrame, typeCol: String, tsCol: String,
                    valCol: String, splitDay: Int): DataFrame = {
    val g = halfMoments(df, typeCol, tsCol, valCol, splitDay)
    def m(s: String) = meanFromCents(col(s"n_$s"), col(s"sumc_$s"))
    def v(s: String) = varFromCents(col(s"n_$s"), col(s"sumc_$s"),
      col(s"sumsq_$s"))
    val delta = m("a") - m("b")
    // δ = 0 is a /0 on both sides of the oracle pair and NEITHER does
    // what a double "should": ANSI Spark THROWS on double division by
    // zero and DuckDB 1.0.0 yields NULL (review r13 pass 3) — so the
    // division itself sits inside a lazy when(abs(δ) > 0) branch
    // (CaseWhen only evaluates a branch whose predicate holds) and the
    // oracle keeps the abs(δ) > 0 conjunct. raw NULL then propagates
    // NULL through every comparison on both engines. The raw > 0
    // conjunct NULLs the zero-variance case (ceil(0) = 0 would
    // "recommend" a zero-sample experiment), and ceil only fires
    // inside the finite range — ceil(Inf)→long would throw under ANSI
    val raw = when(abs(delta) > 0.0,
      lit(PowerZSum2) * (v("a") + v("b")) / (delta * delta))
    g.filter(col("n_a") >= 2 && col("n_b") >= 2)
      .select(col("event_type"),
        col("n_a"), col("n_b"),
        rnd(delta, 4).as("observed_delta"),
        when(raw > 0.0 && raw <= 1e15,
          ceil(raw).cast("long")).as("n_per_arm"))
  }

  def qPowerAnalysis(spark: SparkSession, dir: String): DataFrame =
    powerAnalysis(Tables.events(spark, dir), "event_type", "ts", "value", 15)
      .orderBy("event_type")

  /** Quartile drift per group between the month's halves — WHERE in the
    * distribution the shift lives (a mean test can read 0 while the
    * tails trade places; quartile deltas localize it): p25/p50/p75 of
    * the exact integer cents per half, interpolating on integral
    * values (exact quarters on both engines — the q_percentile
    * precedent), deltas as b − a in value units.
    *
    * Scale: the abTest shape — one (type × period) aggregate (the
    * exact-percentile buffer holds a half's cents per group — the
    * latencyPercentiles hazard; percentile_approx is the at-tolerance
    * swap for a monster group), then a 2-row-per-type self-join. */
  def quantileDrift(df: DataFrame, typeCol: String, tsCol: String,
                    valCol: String, splitDay: Int): DataFrame = {
    val ev = df.filter(col(valCol).isNotNull)
      .select(col(typeCol).as("event_type"),
        when(dayofmonth(dayOf(tsCol)) <= splitDay, "a").otherwise("b")
          .as("period"),
        centsOf(valCol).as("cents"))
    // Deliberately NOT the halfMoments single-aggregate rewrite (r20,
    // measured and reverted): a one-pass form with per-period
    // conditional percentiles — both the FILTER-clause and the
    // NULL-skipping when() variants — read ~5-20% SLOWER than this
    // two-aggregate shape in interleaved isolation A/Bs (when() form:
    // +8.8/+7.4/-3.8/+7.3% over four paired rounds) despite halving
    // the fact scans: six ObjectHashAggregate percentile buffers
    // updated per input row cost more than the saved scan at any SF
    // where the scan is page-cached. The conditional-sum rewrite is
    // kept where the buffers are cheap longs (halfMoments); exact
    // percentile state is where it stops paying.
    val g = ev.groupBy("event_type", "period").agg(
      count(lit(1)).as("n"),
      expr("percentile(cents, 0.25)").as("p25"),
      expr("percentile(cents, 0.5)").as("p50"),
      expr("percentile(cents, 0.75)").as("p75"))
    val a = g.filter(col("period") === "a").as("a")
    val b = g.filter(col("period") === "b").as("b")
    def v(side: String, p: String) = col(s"$side.$p") / 100.0
    a.join(b, col("a.event_type") === col("b.event_type"))
      .select(col("a.event_type").as("event_type"),
        col("a.n").as("n_a"), col("b.n").as("n_b"),
        rnd(v("a", "p50"), 4).as("median_a"),
        rnd(v("b", "p50"), 4).as("median_b"),
        rnd(v("b", "p25") - v("a", "p25"), 4).as("d_p25"),
        rnd(v("b", "p50") - v("a", "p50"), 4).as("d_p50"),
        rnd(v("b", "p75") - v("a", "p75"), 4).as("d_p75"))
  }

  def qQuantileDrift(spark: SparkSession, dir: String): DataFrame =
    quantileDrift(Tables.events(spark, dir), "event_type", "ts", "value", 15)
      .orderBy("event_type")

  /** k for [[qKAnonymity]] / band width — interpolated into BOTH
    * engines so they cannot drift. */
  val AnonK = 5
  val AnonBand = 50.0

  /** k-anonymity audit over the quasi-identifier grain (event_type ×
    * day × value band): equivalence-class sizes per type, the minimum
    * class, and the row mass that would need suppression to reach
    * k=[[AnonK]] — the governance read a release pipeline takes before
    * publishing event-level data (beside q_pii_redact's content-level
    * scrub). All integers + one fraction division; the verdict compares
    * integers.
    *
    * Scale: one hash aggregate at the quasi grain then a per-type
    * rollup — the same two-level shape as uniqueness checks; no
    * windows, no joins. */
  def qKAnonymity(spark: SparkSession, dir: String): DataFrame = {
    val q = Tables.events(spark, dir)
      .select(col("event_type"), Tables.eventDay.as("day"),
        floor(col("value") / AnonBand).cast("long").as("band"))
      .groupBy("event_type", "day", "band").agg(count(lit(1)).as("n"))
    q.groupBy("event_type")
      .agg(count(lit(1)).as("n_classes"), min(col("n")).as("min_class"),
        sum(when(col("n") < AnonK, col("n")).otherwise(0L)).as("rows_below"),
        sum(col("n")).as("total"))
      .select(col("event_type"), col("n_classes"), col("min_class"),
        col("rows_below"),
        rnd(col("rows_below").cast("double") / col("total").cast("double"), 6)
          .as("frac_below"),
        (col("min_class") >= AnonK).as("k_anonymous"))
      .orderBy("event_type")
  }

  /** Differentially-private noisy counts per type — the Laplace
    * mechanism with scale 1/ε over a count query (sensitivity 1), the
    * noise drawn from the DETERMINISTIC md5 uniform (the
    * qWeightedSample recipe) via inverse-CDF: u∈(0,1) centered,
    * noise = −(1/ε)·sign(c)·ln(1−2|c|). The seeded draw is what makes
    * the query oracle-testable and replay-stable; a production DP
    * release needs true randomness and privacy-budget accounting — this
    * operator is the PLAN shape (noise added post-aggregation, never
    * per row, so the mechanism costs nothing at scale).
    *
    * Cross-engine: one ln over an exact rational in mirrored order;
    * output rounded at 1e-4 (the q_weighted_sample libm-ulp argument). */
  def qDpCounts(spark: SparkSession, dir: String): DataFrame = {
    val eps = 1.0
    val u = (saltedHash(col("event_type"), "dp").cast("double") + lit(0.5)) /
      lit(Two32.toDouble)
    val c = u - lit(0.5)
    val noise = -lit(1.0 / eps) * signum(c) *
      log(lit(1.0) - lit(2.0) * abs(c))
    Tables.events(spark, dir)
      .groupBy("event_type").agg(count(lit(1)).as("n"))
      .select(col("event_type"), lit(eps).as("epsilon"),
        rnd(col("n").cast("double") + noise, 4).as("noisy_n"))
      .orderBy("event_type")
  }

  /** Temperature-weighted language mixture (α = 0.5): the standard
    * low-resource-upweighting rule weight ∝ share^α, at the one α whose
    * power is IEEE-exact on BOTH engines (x^0.5 = sqrt, correctly
    * rounded by spec — an arbitrary pow() is not a cross-engine-safe
    * primitive). The weights are micro-rounded to exact longs
    * (the q_embedding_stats integer-micro idiom) so the normalizing sum
    * is order-free, and each share is ONE division at the end.
    *
    * Scale shape: one tokenize pass onto the |languages|-row grid; the
    * two totals are windows over that bounded grid (never a second
    * scan — the datasetCard one-consumer lesson). */
  def temperatureMix(docs: DataFrame, langCol: String = "lang",
                     textCol: String = "text"): DataFrame = {
    import graft.functions.TextFunctions.tokenCount
    val per = docs
      .select(col(langCol).as("lang"), tokenCount(col(textCol)).as("n_toks"))
      .groupBy("lang").agg(sum(col("n_toks")).cast("long").as("n_tokens"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    per
      .withColumn("w_micro",
        floor(sqrt(col("n_tokens").cast("double")) * 1e6 + 0.5).cast("long"))
      .withColumn("tot_tokens", sum(col("n_tokens")).over(wAll))
      .withColumn("tot_w", sum(col("w_micro")).over(wAll))
      .select(col("lang"), col("n_tokens"),
        rnd(col("n_tokens").cast("double") / col("tot_tokens").cast("double"),
          6).as("raw_share"),
        rnd(col("w_micro").cast("double") / col("tot_w").cast("double"),
          6).as("temp_share"))
  }

  def qTemperatureMix(spark: SparkSession, dir: String): DataFrame =
    temperatureMix(Tables.documents(spark, dir)).orderBy("lang")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_jsd_drift" -> qJsdDrift _,
    "q_hellinger" -> qHellingerDrift _,
    "q_temperature_mix" -> qTemperatureMix _,
    "q_power_analysis" -> qPowerAnalysis _,
    "q_quantile_drift" -> qQuantileDrift _,
    "q_k_anonymity" -> qKAnonymity _,
    "q_dp_counts" -> qDpCounts _,
    "q_psi_drift" -> qPsiDrift _,
    "q_ab_test" -> qAbTest _,
    "q_epoch_shuffle" -> qEpochShuffle _,
    "q_weighted_sample" -> qWeightedSample _,
    "q_pipeline_e2e" -> qPipelineE2e _,
    "q_sample_per_group" -> qSamplePerGroup _,
    "q_stratified_sample" -> qStratifiedSample _,
    "q_hash_split" -> qHashSplit _,
    "q_seq_packing" -> qSeqPacking _,
    "q_winsorize" -> qWinsorize _,
    "q_normalize" -> qNormalize _,
    "q_outlier_mad" -> qOutlierMad _,
    "q_domain_mix" -> qDomainMix _,
    "q_upsample_repeat" -> qUpsampleRepeat _,
    "q_mixture_report" -> qMixtureReport _,
  )

  private def hSql(expr: String, salt: String) =
    s"('0x' || substr(md5(CAST($expr AS VARCHAR) || '|$salt'), 1, 8))::BIGINT"

  /** DuckDB twin of the [[MixEpochs]] lookup — CAST to DOUBLE so the
    * fraction arithmetic is IEEE like Spark's, not DECIMAL. */
  private def EpochsCaseSql: String =
    "CAST(CASE lang " +
      MixEpochs.map { case (k, v) => s"WHEN '$k' THEN $v" }.mkString(" ") +
      " ELSE 0 END AS DOUBLE)"

  /** DuckDB twin of TextFunctions.tokenCount. */
  private val MixTokSql = s"len(list_filter(string_split_regex(trim(text), '$WsRe+'), x -> x <> ''))"

  /** Shared DuckDB CTE chain of the two half-moment oracles
    * (q_ab_test / q_power_analysis) — the [[halfMoments]] twin,
    * written once through the a/b split frames. */
  private def HalfMomentsCtes: String =
    """WITH ev AS (
      |  SELECT event_type,
      |    CASE WHEN EXTRACT(day FROM ts) <= 15
      |      THEN 'a' ELSE 'b' END AS period,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      |  FROM events WHERE value IS NOT NULL),
      |g AS (
      |  SELECT event_type, period, count(*) AS n,
      |    CAST(sum(cents) AS BIGINT) AS sumc,
      |    CAST(sum(cents * cents) AS BIGINT) AS sumsq
      |  FROM ev GROUP BY event_type, period),
      |am AS (SELECT * FROM g WHERE period = 'a'),
      |bm AS (SELECT * FROM g WHERE period = 'b')""".stripMargin

  /** Shared DuckDB CTE chain of the two drift oracles (q_psi_drift /
    * q_jsd_drift) up through the smoothed per-bin probability frame
    * `probs` — the [[binProbs]] twin, written once (the KsIntsSql
    * pattern) so the two monitors' binning cannot drift. */
  private def PsiBinProbsCtes: String =
    s"""WITH ev AS (
       |  SELECT event_type, value,
       |    CASE WHEN EXTRACT(day FROM ts) <= 15
       |      THEN 'a' ELSE 'b' END AS period
       |  FROM events),
       |mm AS (SELECT min(value) AS mn, max(value) AS mx FROM ev),
       |binned AS (
       |  SELECT event_type, period,
       |    CASE WHEN mx = mn THEN 0
       |      ELSE least($PsiBins - 1, CAST(floor((value - mn)
       |        / ((mx - mn) / ${PsiBins}.0)) AS INT)) END AS bin
       |  FROM ev CROSS JOIN mm),
       |cells AS (
       |  SELECT event_type, bin,
       |    sum(CASE WHEN period = 'a' THEN 1 ELSE 0 END) AS na,
       |    sum(CASE WHEN period = 'b' THEN 1 ELSE 0 END) AS nb
       |  FROM binned GROUP BY event_type, bin),
       |spine AS (
       |  SELECT event_type, unnest(generate_series(0, $PsiBins - 1)) AS bin
       |  FROM (SELECT DISTINCT event_type FROM ev)),
       |full_ AS (
       |  SELECT spine.event_type, spine.bin,
       |    CAST(coalesce(cells.na, 0) AS BIGINT) AS na,
       |    CAST(coalesce(cells.nb, 0) AS BIGINT) AS nb
       |  FROM spine LEFT JOIN cells
       |    ON spine.event_type = cells.event_type AND spine.bin = cells.bin),
       |tots AS (
       |  SELECT event_type, CAST(sum(na) AS BIGINT) AS ta,
       |    CAST(sum(nb) AS BIGINT) AS tb
       |  FROM full_ GROUP BY event_type),
       |probs AS (
       |  SELECT f.event_type, f.bin, t.ta, t.tb,
       |    ((CAST(f.na AS DOUBLE) + 1.0)
       |      / (CAST(t.ta AS DOUBLE) + ${PsiBins}.0)) AS pa,
       |    ((CAST(f.nb AS DOUBLE) + 1.0)
       |      / (CAST(t.tb AS DOUBLE) + ${PsiBins}.0)) AS pb
       |  FROM full_ f JOIN tots t ON f.event_type = t.event_type)""".stripMargin

  val oracles: Map[String, String] = Map(
    // two-level hash aggregate; verdict and suppression mass compare
    // integers, one fraction division
    "q_k_anonymity" ->
      s"""WITH q AS (
         |  SELECT event_type, CAST(ts AS DATE) AS day,
         |    CAST(floor(value / $AnonBand) AS BIGINT) AS band,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM events GROUP BY event_type, CAST(ts AS DATE), 3),
         |g AS (
         |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_classes,
         |    CAST(min(n) AS BIGINT) AS min_class,
         |    CAST(sum(CASE WHEN n < $AnonK THEN n ELSE 0 END) AS BIGINT)
         |      AS rows_below,
         |    CAST(sum(n) AS BIGINT) AS total
         |  FROM q GROUP BY event_type)
         |SELECT event_type, n_classes, min_class, rows_below,
         |  floor((CAST(rows_below AS DOUBLE) / CAST(total AS DOUBLE))
         |    * 1e6 + 0.5) / 1e6 AS frac_below,
         |  min_class >= $AnonK AS k_anonymous
         |FROM g ORDER BY event_type""".stripMargin,
    // inverse-CDF Laplace from the deterministic md5 uniform, mirrored
    // operation order (one sign, one ln), CASTs keep DuckDB in DOUBLE
    "q_dp_counts" ->
      s"""WITH g AS (
         |  SELECT event_type, CAST(count(*) AS BIGINT) AS n
         |  FROM events GROUP BY event_type),
         |u AS (
         |  SELECT event_type, n,
         |    (CAST(${hSql("event_type", "dp")} AS DOUBLE) + 0.5)
         |      / 4294967296.0 AS u
         |  FROM g)
         |SELECT event_type, CAST(1.0 AS DOUBLE) AS epsilon,
         |  floor((CAST(n AS DOUBLE)
         |    + (CAST(-1.0 AS DOUBLE) * CAST(sign(u - 0.5) AS DOUBLE))
         |      * ln(CAST(1.0 AS DOUBLE) - CAST(2.0 AS DOUBLE) * abs(u - 0.5)))
         |    * 1e4 + 0.5) / 1e4 AS noisy_n
         |FROM u ORDER BY event_type""".stripMargin,
    // same fixed-order IEEE expressions (bin edge, smoothed shares, PSI
    // terms); counts CAST to DOUBLE before the +1.0 so DuckDB stays in
    // IEEE arithmetic instead of DECIMAL; drifted compares the ROUNDED
    // psi on both sides
    // same binning CTEs as q_psi_drift; the 10 per-bin terms fold in
    // the SAME fixed left-associated coalesce chain as the Spark side
    // (chi-square recipe), drifted compares the ROUNDED statistic
    "q_jsd_drift" -> {
      val termSel = (0 until PsiBins).map(b =>
        s"max(CASE WHEN bin = $b THEN term END) AS t$b").mkString(",\n    ")
      val fold = (0 until PsiBins).map(b => s"coalesce(t$b, CAST(0.0 AS DOUBLE))")
        .mkString(" + ")
      PsiBinProbsCtes + s""",
         |terms AS (
         |  SELECT event_type, bin, ta, tb,
         |    0.5 * pa * ln(pa / ((pa + pb) / 2.0))
         |      + 0.5 * pb * ln(pb / ((pa + pb) / 2.0)) AS term
         |  FROM probs),
         |agg AS (
         |  SELECT event_type, max(ta) AS n_first_half,
         |    max(tb) AS n_second_half,
         |    $termSel
         |  FROM terms GROUP BY event_type)
         |SELECT event_type, n_first_half, n_second_half,
         |  floor(($fold) * 1e6 + 0.5) / 1e6 AS jsd,
         |  floor(($fold) * 1e6 + 0.5) / 1e6 > 0.1 AS drifted
         |FROM agg ORDER BY event_type""".stripMargin
    },
    // exact-quarter interpolation on integral cents both engines (the
    // q_percentile precedent), mirrored delta expressions
    "q_quantile_drift" ->
      """WITH ev AS (
        |  SELECT event_type,
        |    CASE WHEN EXTRACT(day FROM ts) <= 15 THEN 'a' ELSE 'b' END AS period,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events WHERE value IS NOT NULL),
        |g AS (
        |  SELECT event_type, period, CAST(count(*) AS BIGINT) AS n,
        |    quantile_cont(cents, 0.25) AS p25,
        |    quantile_cont(cents, 0.5) AS p50,
        |    quantile_cont(cents, 0.75) AS p75
        |  FROM ev GROUP BY event_type, period),
        |a AS (SELECT * FROM g WHERE period = 'a'),
        |b AS (SELECT * FROM g WHERE period = 'b')
        |SELECT a.event_type, a.n AS n_a, b.n AS n_b,
        |  floor((a.p50 / 100.0) * 1e4 + 0.5) / 1e4 AS median_a,
        |  floor((b.p50 / 100.0) * 1e4 + 0.5) / 1e4 AS median_b,
        |  floor((b.p25 / 100.0 - a.p25 / 100.0) * 1e4 + 0.5) / 1e4 AS d_p25,
        |  floor((b.p50 / 100.0 - a.p50 / 100.0) * 1e4 + 0.5) / 1e4 AS d_p50,
        |  floor((b.p75 / 100.0 - a.p75 / 100.0) * 1e4 + 0.5) / 1e4 AS d_p75
        |FROM a JOIN b ON a.event_type = b.event_type
        |ORDER BY a.event_type""".stripMargin,
    // the shared half-moment CTEs; raw stays DOUBLE through the guards
    // (δ=0 → Inf on Spark but NULL on DuckDB 1.0.0 — the abs(δ) > 0
    // conjunct short-circuits both before the divergent value matters;
    // raw > 0 NULLs the zero-variance ceil(0)=0 non-answer)
    "q_power_analysis" -> {
      val meanDiff =
        s"(${meanFromCentsSql("a.n", "a.sumc")} - ${meanFromCentsSql("b.n", "b.sumc")})"
      val varSum =
        s"(${varFromCentsSql("a.n", "a.sumc", "a.sumsq")} + ${varFromCentsSql("b.n", "b.sumc", "b.sumsq")})"
      val raw = s"(CAST('$PowerZSum2' AS DOUBLE) * $varSum / ($meanDiff * $meanDiff))"
      HalfMomentsCtes + s"""
         |SELECT a.event_type, a.n AS n_a, b.n AS n_b,
         |  ${rndSql(meanDiff, 4)} AS observed_delta,
         |  CASE WHEN abs($meanDiff) > 0.0 AND $raw > 0.0 AND $raw <= 1e15
         |    THEN CAST(ceil($raw) AS BIGINT) END AS n_per_arm
         |FROM am a JOIN bm b ON a.event_type = b.event_type
         |WHERE a.n >= 2 AND b.n >= 2
         |ORDER BY a.event_type""".stripMargin
    },
    // sqrt (the one IEEE-exact power) on exact token counts,
    // micro-rounded to longs so the normalizing sums are order-free
    "q_temperature_mix" ->
      s"""WITH per AS (
         |  SELECT lang, CAST(sum($MixTokSql) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY lang),
         |w AS (
         |  SELECT lang, n_tokens,
         |    CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
         |      AS w_micro,
         |    CAST(sum(n_tokens) OVER () AS BIGINT) AS tot_tokens
         |  FROM per),
         |w2 AS (
         |  SELECT lang, n_tokens, w_micro, tot_tokens,
         |    CAST(sum(w_micro) OVER () AS BIGINT) AS tot_w
         |  FROM w)
         |SELECT lang, n_tokens,
         |  floor((CAST(n_tokens AS DOUBLE) / CAST(tot_tokens AS DOUBLE))
         |    * 1e6 + 0.5) / 1e6 AS raw_share,
         |  floor((CAST(w_micro AS DOUBLE) / CAST(tot_w AS DOUBLE))
         |    * 1e6 + 0.5) / 1e6 AS temp_share
         |FROM w2 ORDER BY lang""".stripMargin,
    // same binning CTEs; sqrt is IEEE-exact so the fixed fold needs no
    // rounding; greatest(0, ·) mirrors the Spark sqrt guard
    "q_hellinger" -> {
      val termSel = (0 until PsiBins).map(b =>
        s"max(CASE WHEN bin = $b THEN term END) AS t$b").mkString(",\n    ")
      val fold = (0 until PsiBins).map(b => s"coalesce(t$b, CAST(0.0 AS DOUBLE))")
        .mkString(" + ")
      PsiBinProbsCtes + s""",
         |terms AS (
         |  SELECT event_type, bin, ta, tb, sqrt(pa * pb) AS term
         |  FROM probs),
         |agg AS (
         |  SELECT event_type, max(ta) AS n_first_half,
         |    max(tb) AS n_second_half,
         |    $termSel
         |  FROM terms GROUP BY event_type),
         |h AS (
         |  SELECT event_type, n_first_half, n_second_half,
         |    floor(($fold) * 1e6 + 0.5) / 1e6 AS bc,
         |    floor(sqrt(greatest(CAST(0.0 AS DOUBLE),
         |      CAST(1.0 AS DOUBLE) - ($fold))) * 1e6 + 0.5) / 1e6 AS hellinger
         |  FROM agg)
         |SELECT event_type, n_first_half, n_second_half, bc, hellinger,
         |  hellinger > 0.1 AS drifted
         |FROM h ORDER BY event_type""".stripMargin
    },
    "q_psi_drift" ->
      (PsiBinProbsCtes + """,
         |agg AS (
         |  SELECT event_type, max(ta) AS n_first_half, max(tb) AS n_second_half,
         |    floor((sum((pa - pb) * ln(pa / pb))) * 1e6 + 0.5) / 1e6 AS psi
         |  FROM probs GROUP BY event_type)
         |SELECT event_type, n_first_half, n_second_half, psi,
         |  psi > 0.25 AS drifted
         |FROM agg ORDER BY event_type""".stripMargin),
    // Welch's t from the same exact integer-cent moments as the Spark
    // side, every derived quantity in mirrored fixed order; the
    // significance boolean compares the ROUNDED t
    "q_ab_test" ->
      (HalfMomentsCtes + s""",
         |j AS (
         |  SELECT a.event_type,
         |    a.n AS na, b.n AS nb,
         |    ${meanFromCentsSql("a.n", "a.sumc")} AS ma,
         |    ${meanFromCentsSql("b.n", "b.sumc")} AS mb,
         |    ${varFromCentsSql("a.n", "a.sumc", "a.sumsq")} AS va,
         |    ${varFromCentsSql("b.n", "b.sumc", "b.sumsq")} AS vb
         |  FROM am a JOIN bm b ON a.event_type = b.event_type
         |  WHERE a.n >= 2 AND b.n >= 2),
         |k AS (
         |  SELECT event_type, na, nb,
         |    floor((ma - mb) * 1e4 + 0.5) / 1e4 AS mean_diff,
         |    CASE WHEN va / CAST(na AS DOUBLE) + vb / CAST(nb AS DOUBLE) > 0.0 THEN
         |    floor(((ma - mb) / sqrt(va / CAST(na AS DOUBLE) + vb / CAST(nb AS DOUBLE)))
         |      * 1e4 + 0.5) / 1e4 END AS t_stat,
         |    CASE WHEN va / CAST(na AS DOUBLE) + vb / CAST(nb AS DOUBLE) > 0.0 THEN
         |    floor((((va / CAST(na AS DOUBLE) + vb / CAST(nb AS DOUBLE))
         |        * (va / CAST(na AS DOUBLE) + vb / CAST(nb AS DOUBLE)))
         |      / ((va / CAST(na AS DOUBLE)) * (va / CAST(na AS DOUBLE)) / (CAST(na AS DOUBLE) - 1.0)
         |        + (vb / CAST(nb AS DOUBLE)) * (vb / CAST(nb AS DOUBLE)) / (CAST(nb AS DOUBLE) - 1.0)))
         |      * 1e1 + 0.5) / 1e1 END AS df
         |  FROM j)
         |SELECT event_type, na AS n_a, nb AS n_b, mean_diff, t_stat, df,
         |  abs(t_stat) > 1.96 AS significant
         |FROM k ORDER BY event_type""".stripMargin),
    // identical fixed-order key arithmetic (one ln over the exact
    // rational u, one division); the LIMIT set is deterministic because
    // adjacent key gaps dwarf libm-ulp noise (see qWeightedSample)
    "q_weighted_sample" -> {
      val keySql = s"-ln((${hSql("doc_id", "weighted")} + 1) / 4294967296.0)" +
        " / CAST(n_chars AS DOUBLE)"
      s"""WITH k AS (
         |  SELECT doc_id, n_chars, $keySql AS key
         |  FROM documents WHERE n_chars > 0),
         |s AS (SELECT * FROM k ORDER BY key, doc_id LIMIT $WeightedK)
         |SELECT doc_id, n_chars, ${rndSql("key * 1e6", 4)} AS key_scaled
         |FROM s ORDER BY doc_id""".stripMargin
    },
    // plain total-order row_number twin of the chunk-stitched Spark
    // plan — equality IS the property (the q_pagination_chunked idiom)
    "q_epoch_shuffle" ->
      s"""WITH k AS (
         |  SELECT doc_id, ${hSql("doc_id", s"epoch$EpochSeed")} AS hkey
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, row_number() OVER (ORDER BY hkey, doc_id) AS pos
         |  FROM k)
         |SELECT doc_id, CAST(pos AS INT) AS pos,
         |  CAST((pos - 1) % $EpochShards AS INT) AS shard,
         |  CAST((pos - 1) // $EpochShards + 1 AS INT) AS pos_in_shard
         |FROM r ORDER BY doc_id""".stripMargin,
    // chunk count is closed-form in the oracle (1 + (L-(len-stride+1))
    // // stride: starts are 1+stride·j with the tail guard
    // 1+stride·j+(len-stride) <= L; j=0 always valid) — the Spark side
    // runs the real structural starts formula, so the hash match proves
    // the formula against independent arithmetic; the constants are
    // interpolated from TextQueries so the two engines cannot drift
    "q_pipeline_e2e" ->
      s"""WITH fp AS (
        |  SELECT doc_id,
        |    md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS f,
        |    len(list_filter(string_split_regex(trim(text), '$WsRe+'), x -> x <> '')) AS L
        |  FROM documents WHERE doc_id >= 10),
        |keep AS (
        |  SELECT doc_id, L FROM (
        |    SELECT doc_id, L, min(doc_id) OVER (PARTITION BY f) AS m FROM fp) z
        |  WHERE doc_id = m),
        |t AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '$WsRe+'), x -> x <> '') AS ts FROM documents),
        |g AS (
        |  SELECT DISTINCT doc_id,
        |    ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] || ' ' || ts[i+4] AS s
        |  FROM t, LATERAL (SELECT unnest(generate_series(1, len(ts) - 4)) AS i)),
        |bad AS (
        |  SELECT DISTINCT g.doc_id
        |  FROM g JOIN (SELECT DISTINCT s FROM g WHERE doc_id < 10) b USING (s)
        |  WHERE g.doc_id >= 10)
        |SELECT k.doc_id, CAST(k.L AS BIGINT) AS n_tokens,
        |  CAST(1 + (k.L - ${TextStats.ChunkLen - TextStats.ChunkStride + 1}) // ${TextStats.ChunkStride} AS BIGINT) AS n_chunks
        |FROM keep k
        |WHERE k.doc_id NOT IN (SELECT doc_id FROM bad) AND k.L >= 20
        |ORDER BY k.doc_id""".stripMargin,
    "q_sample_per_group" ->
      s"""WITH r AS (
         |  SELECT source, doc_id,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY ${hSql("doc_id", "pergroup")}, doc_id) AS draw_rank
         |  FROM documents)
         |SELECT source, doc_id, draw_rank FROM r
         |WHERE draw_rank <= $PerGroupK ORDER BY source, draw_rank""".stripMargin,
    "q_stratified_sample" -> {
      val rateCase = "CASE event_type " +
        SampleRates.map { case (k, v) => s"WHEN '$k' THEN $v" }.mkString(" ") +
        " ELSE 0.0 END"
      s"""SELECT event_type, count(*) AS n_sampled,
         |  min(event_id) AS first_id, max(event_id) AS last_id
         |FROM events
         |WHERE ${hSql("event_id", "strat")} < ($rateCase) * $Two32
         |GROUP BY event_type ORDER BY event_type""".stripMargin
    },
    "q_hash_split" ->
      s"""SELECT CASE WHEN ${hSql("user_id", "split")} % 100 < 80 THEN 'train'
         |            WHEN ${hSql("user_id", "split")} % 100 < 90 THEN 'val'
         |            ELSE 'test' END AS split,
         |  count(*) AS n_events, count(DISTINCT user_id) AS n_users
         |FROM events GROUP BY 1 ORDER BY split""".stripMargin,
    "q_winsorize" ->
      """WITH b AS (
        |  SELECT event_type,
        |    quantile_cont(value, 0.05) AS p05,
        |    quantile_cont(value, 0.95) AS p95
        |  FROM events GROUP BY event_type)
        |SELECT e.event_id, e.event_type,
        |  floor((greatest(b.p05, least(b.p95, e.value))) * 1e4 + 0.5) / 1e4 AS value_capped
        |FROM events e JOIN b USING (event_type)
        |WHERE e.event_id < 2000 ORDER BY e.event_id""".stripMargin,
    "q_normalize" ->
      """WITH s AS (
        |  SELECT user_id,
        |    sum(CAST(round(value * 100) AS BIGINT)) / (count(value) * 100.0) AS mu,
        |    stddev_pop(value) AS sigma
        |  FROM events GROUP BY user_id)
        |SELECT e.event_id, e.user_id,
        |  floor(((e.value - s.mu) / nullif(s.sigma, 0)) * 1e4 + 0.5) / 1e4 AS value_z
        |FROM events e JOIN s USING (user_id)
        |WHERE e.user_id < 30 ORDER BY e.event_id""".stripMargin,
    // robust_z is rounded BEFORE the threshold test on both engines, so
    // the outlier flag can never disagree with the displayed score;
    // median() of BIGINT interpolates like Spark's exact percentile
    // (both land on k/2 values — exact in binary)
    "q_outlier_mad" ->
      s"""WITH m AS (SELECT source, median(n_chars) AS med FROM documents GROUP BY source),
         |d AS (
         |  SELECT doc_id, d.source, n_chars, med
         |  FROM documents d JOIN m USING (source)),
         |md AS (SELECT source, median(abs(n_chars - med)) AS mad FROM d GROUP BY source),
         |s AS (
         |  SELECT doc_id, d.source, n_chars,
         |    ${rndSql("(0.6745 * (n_chars - med)) / nullif(mad, 0)", 4)} AS robust_z
         |  FROM d JOIN md ON d.source = md.source)
         |SELECT doc_id, source, n_chars, robust_z,
         |  CAST(coalesce(abs(robust_z) > $MadZThreshold, false) AS INTEGER) AS outlier
         |FROM s ORDER BY doc_id""".stripMargin,
    "q_upsample_repeat" ->
      s"""WITH d AS (SELECT doc_id, lang, $EpochsCaseSql AS ep FROM documents),
         |r AS (
         |  SELECT doc_id, lang,
         |    CAST(floor(ep) AS INTEGER) +
         |      (CASE WHEN ${hSql("doc_id", "epoch")} < (ep - floor(ep)) * $Two32
         |        THEN 1 ELSE 0 END) AS n_rep
         |  FROM d)
         |SELECT doc_id, lang, CAST(i AS INTEGER) AS repeat_idx
         |FROM r, LATERAL (SELECT unnest(generate_series(1, n_rep)) AS i)
         |ORDER BY doc_id, repeat_idx""".stripMargin,
    // tokens counted on BASE docs and multiplied through the repeat via
    // the unnest join, mirroring the Spark side's count-then-repeat
    "q_mixture_report" ->
      s"""WITH d AS (
         |  SELECT doc_id, lang, $MixTokSql AS n_toks, $EpochsCaseSql AS ep
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, lang, n_toks,
         |    CAST(floor(ep) AS INTEGER) +
         |      (CASE WHEN ${hSql("doc_id", "epoch")} < (ep - floor(ep)) * $Two32
         |        THEN 1 ELSE 0 END) AS n_rep
         |  FROM d),
         |u AS (
         |  SELECT doc_id, lang, n_toks
         |  FROM r, LATERAL (SELECT unnest(generate_series(1, n_rep)) AS i)),
         |a AS (
         |  SELECT lang, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |    CAST(count(*) AS BIGINT) AS n_rows,
         |    CAST(sum(n_toks) AS BIGINT) AS n_tokens
         |  FROM u GROUP BY lang),
         |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot FROM a)
         |SELECT lang, n_docs, n_rows, n_tokens,
         |  ${rndSql("n_tokens * 1.0 / tot", 4)} AS token_share
         |FROM a, t ORDER BY lang""".stripMargin,
    "q_domain_mix" -> {
      // CAST each fraction to DOUBLE: a bare decimal literal is DECIMAL
      // in DuckDB and the rate arithmetic would round differently than
      // Spark's double literals
      val fCase = "CASE source " +
        DomainTargets.map { case (k, v) => s"WHEN '$k' THEN CAST($v AS DOUBLE)" }
          .mkString(" ") + " ELSE 0.0 END"
      s"""WITH c AS (
         |  SELECT source, count(*) AS n_orig, $fCase AS f
         |  FROM documents GROUP BY source),
         |c2 AS (SELECT * FROM c WHERE f > 0),
         |t AS (SELECT min(n_orig / f) AS t FROM c2),
         |r AS (SELECT source, n_orig, f * t.t / n_orig AS rate FROM c2, t)
         |SELECT d.source, max(r.n_orig) AS n_orig, count(*) AS n_kept,
         |  floor((max(r.rate)) * 1e6 + 0.5) / 1e6 AS rate
         |FROM documents d JOIN r ON d.source = r.source
         |WHERE ${hSql("doc_id", "mix")} < r.rate * $Two32
         |GROUP BY d.source ORDER BY d.source""".stripMargin
    },
    "q_seq_packing" ->
      s"""WITH t AS (
         |  SELECT source, doc_id,
         |    len(list_filter(string_split_regex(trim(text), '$WsRe+'), x -> x <> '')) AS n_tok
         |  FROM documents),
         |c AS (
         |  SELECT source, doc_id, n_tok,
         |    CAST(coalesce(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum
         |  FROM t)
         |SELECT source, CAST(cum // $PackBudget AS BIGINT) AS bin, count(*) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS total_tokens,
         |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM c GROUP BY 1, 2 ORDER BY source, bin""".stripMargin,
  )
}
