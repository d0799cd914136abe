package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorFunctions._
import graft.operators.{ProductQuantization, Similarity}

/** Embedding-similarity surface over `embeddings` (array<float>, 64-dim):
  * norms, per-label stats, cosine near-dup pairs, exact brute-force ANN
  * and the LSH-bucketed scale path (BASELINE.json north star).
  *
  * Oracle parity: all vector math happens in double (cast BEFORE multiply)
  * with strict left-fold accumulation on the Spark side and
  * list_sum(list_transform(list_zip(...))) on the DuckDB side; cosine is
  * irrational so floor-rounding at 1e-4/1e-6 is far from any boundary.
  */
object SimilarityQueries {

  private val DOT =
    "list_sum(list_transform(list_zip(a.embedding, b.embedding), s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))"
  private def normSql(t: String) =
    s"sqrt(list_sum(list_transform($t.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
  private val COS = s"$DOT / (${normSql("a")} * ${normSql("b")})"

  /** Threshold for [[qEmbeddingDecontam]] — interpolated into BOTH
    * engines so they cannot drift. Matches q_embedding_neardup's
    * near-dup bar. */
  val DecontamCos = 0.45

  /** ANN query-set bound — query vectors are `vec_id < AnnQueryIdBound`
    * at every SF (the smallest fixture holds ≥500 vectors, so the
    * query-set population is exactly this many rows). ONE definition
    * interpolated into BOTH the Spark query filters and the pinned
    * `n_queries` literal of every recall certificate (advice r13: the
    * pinned 20 lived only as a comment contract, so a query-set change
    * would flip five certificates red with a non-obvious cause). */
  val AnnQueryIdBound = 20

  /** Embedding-space decontamination — the semantic twin of the n-gram
    * q_decontaminate: every corpus vector scored by its MAX cosine to
    * any benchmark vector (vec_id < 10 plays the benchmark), flagged
    * when it crosses [[DecontamCos]]. Catches paraphrased benchmark
    * leakage that exact/n-gram decontamination structurally misses.
    *
    * Scale shape: the benchmark side is SMALL BY NATURE (eval sets are
    * thousands of rows, corpora are billions) — it broadcasts, and the
    * plan is the map-side probe: each corpus partition scores its rows
    * against the in-memory bench vectors with the codegen'd dot, then
    * a corpus-keyed max. The broadcast nested-loop shape is deliberate
    * and bounded here (no equi-key exists for an all-pairs score
    * against a broadcast-small side); a bench set past broadcast scale
    * would route through the blocked-grid join instead
    * (Similarity.nearDupPairsBlocked's path). */
  def qEmbeddingDecontam(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val bench = emb.filter(col("vec_id") < 10)
      .select(col("embedding").as("bvec"))
    val corpus = emb.filter(col("vec_id") >= 10)
    corpus.crossJoin(broadcast(bench))
      .select(col("vec_id"), cosine(col("embedding"), col("bvec")).as("cos"))
      .groupBy("vec_id")
      .agg(max(col("cos")).as("max_cos_raw"))
      .select(col("vec_id"), rnd(col("max_cos_raw"), 4).as("max_cos"),
        (col("max_cos_raw") >= DecontamCos).as("contaminated"))
      .orderBy("vec_id")
  }

  /** Int8 scalar quantization audit — THE storage trick for an
    * embedding store at 100 TB (4 bytes → 1 byte per dim): per vector,
    * min/max-range codes q = clamp(⌊(x−mn)/scale + 0.5⌋, 0..255), the
    * integer code sum (an EXACT cross-engine signature of the whole
    * code vector), and the reconstruction MSE. All per-row array HOFs
    * (transform/aggregate in list order, doubles throughout — the
    * l2Norm parity recipe), zero shuffles beyond the presentation
    * sort; a degenerate flat vector (mx = mn) quantizes to code 0 with
    * zero error. The ⌊z+0.5⌋ form replaces round() per the
    * cross-engine rounding rule. */
  def embeddingQuantize(df: DataFrame, idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    // NULL elements dropped EXPLICITLY on both engines: Spark's fold
    // would NULL-poison the sums while DuckDB's list_sum skips NULLs —
    // a silent divergence on dirty data (review r12 pass 3)
    //
    // Per-row scalars staged as NAMED COLUMNS (r21, StageProf evidence):
    // with mn/mx/scale spelled inline, every reference inside the
    // transform/aggregate lambdas re-evaluated array_min/array_max over
    // the whole array PER ELEMENT (higher-order functions are
    // CodegenFallback — interpreted eval, no subexpression elimination),
    // an O(d²) interpreted walk that clocked ~2.4 ms/row on 64-dim
    // vectors — twice, because the presentation sort's range-sampling
    // pass re-ran the projection. Staged as aliases in a lower Project,
    // the lambdas read bound attributes instead; CollapseProject keeps
    // the boundary because the aliases are non-cheap and multiply
    // referenced. Same expressions per row, computed once — values are
    // bit-identical. The id rides the staging under its own fixed name
    // too, so no idCol can collide with a helper name. It is renamed
    // back in its own step: aliased inside the final select, the
    // lambdas' `__sc` would resolve to that alias when idCol is `__sc`
    // (a lateral column alias).
    val stagedE = filter(col(vecCol), x => x.isNotNull)
    val staged = df.select(col(idCol).as("__id"), stagedE.as("__e"),
        array_min(stagedE).cast("double").as("__mn"),
        array_max(stagedE).cast("double").as("__mx"))
      .withColumn("__sc", (col("__mx") - col("__mn")) / 255.0)
    val e = col("__e")
    val mnd = col("__mn")
    val mxd = col("__mx")
    val sc = col("__sc")
    def qd(x: Column) = least(lit(255.0), greatest(lit(0.0),
      floor((x.cast("double") - mnd) / sc + 0.5).cast("double")))
    val qsum = aggregate(
      transform(e, x => qd(x).cast("long")), lit(0L), (acc, v) => acc + v)
    val err = transform(e, x => {
      val d = x.cast("double") - (mnd + qd(x) * sc)
      d * d
    })
    val mse = aggregate(err, lit(0.0), (acc, v) => acc + v) /
      size(e).cast("double")
    staged.select(col("__id"), rnd(mnd, 6).as("mn"), rnd(mxd, 6).as("mx"),
      when(sc > 0.0, qsum).otherwise(lit(0L)).as("qsum"),
      rnd(when(sc > 0.0, mse).otherwise(lit(0.0)) * 1e6, 6).as("mse_e6"))
      .withColumnRenamed("__id", idCol)
  }

  def qEmbeddingQuantize(spark: SparkSession, dir: String): DataFrame =
    // materialize the quantized rows ONCE per execution (r21, StageProf
    // evidence): the presentation orderBy plans a range exchange whose
    // SAMPLE pass re-executes the child — scan decode + the interpreted
    // HOF quantize projection both ran TWICE per rep (two ~300 ms
    // single-task stages for 100 output rows; the dedupSweep per-rep
    // checkpoint recipe, honest because each rep still pays the build).
    // The checkpointed frame is 100 rows — the sort and its sample read
    // materialized bytes, never the parquet scan.
    embeddingQuantize(
      Tables.embeddings(spark, dir).filter(col("vec_id") < 100))
      .localCheckpoint(true)
      .orderBy("vec_id")

  /** Per-vector L2 norm (bounded ids for the oracle diff). */
  def qEmbeddingNorm(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .filter(col("vec_id") < 100)
      .select(col("vec_id"), col("label"), rnd(l2Norm(col("embedding")), 4).as("norm"))
      .orderBy("vec_id")

  /** Aggregate norm statistics per label. avg_norm follows the
    * integer-micro idiom (sum of per-row micro-rounded longs, exact and
    * ORDER-FREE, then one double division): a plain double sum()
    * accumulates in engine-specific partition-merge order, and a
    * last-ulp drift next to a floor(x·1e4+0.5) boundary would flip the
    * rounded digit between Spark and DuckDB — the same hazard the
    * cents-exact aggregation helpers exist for. Per-row norms are
    * bit-identical across engines (q_embedding_norm's gate), so the
    * micro rounding is parity-safe. */
  def qEmbeddingStats(spark: SparkSession, dir: String): DataFrame = {
    val n = l2Norm(col("embedding"))
    Tables.embeddings(spark, dir)
      .select(col("label"), n.as("norm"))
      .groupBy("label")
      .agg(count(lit(1)).as("cnt"),
        rnd(sum(floor(col("norm") * 1e6 + 0.5).cast("long")) / lit(1e6) /
          count(col("norm")), 4).as("avg_norm"),
        rnd(min(col("norm")), 4).as("min_norm"),
        rnd(max(col("norm")), 4).as("max_norm"))
      .orderBy("label")
  }

  /** Embedding near-duplicate pairs: cosine ≥ 0.45 over all (a<b), via
    * the blocked grid self-join (exact result, equi-join plan — no
    * BroadcastNestedLoopJoin; see Similarity.nearDupPairsBlocked for why
    * LSH cannot hold recall at this threshold). */
  def qEmbeddingNeardup(spark: SparkSession, dir: String): DataFrame =
    Similarity.nearDupPairsBlocked(Tables.embeddings(spark, dir), 0.45)
      .select(col("a"), col("b"), rnd(col("cos"), 4).as("cos"))
      .orderBy("a", "b")

  /** Exact brute-force top-5 cosine neighbors for query vectors id<20. */
  def qAnnBruteforce(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < AnnQueryIdBound), 5)
      .select(col("query_id"), col("neighbor_id"), rnd(col("cos"), 6).as("cos"), col("rank"))
      .orderBy("query_id", "rank")
  }

  /** Corpus-scaled index parameters (VERDICT r9 ask #4): round-9 held
    * nlist/nprobe/rerank FIXED while the corpus quadrupled from sf0.01
    * to sf0.1, so every gated recall dipped at sf0.1 (IVF 0.77→0.61, PQ
    * 0.90→0.75, semantic 0.86→0.71 in RECALL_r9.json). The fix is to
    * scale the parameters with corpus size instead of lowering floors.
    * The constants come from the `RecallProbe --sweep` grid at n=2000
    * (run 2026-08-13), which showed the two cell-blocked operators want
    * OPPOSITE nlist scaling:
    *  - IVF top-k: at a FIXED probed fraction of 1/4, finer cells win —
    *    recall 0.70 (nlist=32/nprobe=8) vs 0.80 (48/12) — because the
    *    probe ranking gets more selective per scanned row. So `nlist`
    *    holds the CELL SIZE ≈ 31-40 vectors (nlist ≈ n/40, anchored at
    *    16 cells for n=500) and `nprobe` holds the probed fraction at
    *    nlist/4. Capped at 256: past that the centroid literals in
    *    [[Similarity.probeCells]] stop being plan metadata; a 100 TB
    *    deployment raises the cap alongside the persisted-index path.
    *  - Semantic-dedup pair blocking: finer cells LOSE (boundary pairs
    *    split across cells — pair recall 0.5556 at nlist=32/passign=2
    *    vs 0.7083 at 16/2), so `semNlist` grows only ∝ √n
    *    (12·√(n/500), floored at the 16-cell anchor) and multi-
    *    assignment gains a third probe cell once the grid is ≥ 24 —
    *    measured 0.875 at (24, 3), within 0.02 of sf0.01's 0.8571,
    *    at 9/24 = 38% of the exact join's pair work.
    *  - `rerank` holds the PQ candidate pool at ~10% of the corpus
    *    (50/500 at the anchor; measured 0.98 at n=2000 vs 0.75 with
    *    the fixed 50), capped at 1000 so |q|·rerank stays a bounded
    *    broadcast.
    * n ≤ 500 reproduces the round-9 settings bit-for-bit, so the
    * sf0.001/0.01 measurements stay comparable across rounds. */
  final case class AnnParams(nlist: Int, nprobe: Int, semNlist: Int,
                             passign: Int, rerank: Int)

  def annParams(corpusRows: Long): AnnParams = {
    // clamp in Long BEFORE narrowing: a 100 TB-regime corpus row count
    // overflows Int under `/10` or `/40`, and a wrapped-negative value
    // would silently collapse the params to their floors (a larger
    // corpus getting a COARSER index) instead of their caps
    def clamp(lo: Long, hi: Long, v: Long): Int = math.min(hi, math.max(lo, v)).toInt
    val nlist = clamp(16, 256, math.round(corpusRows / 40.0))
    val nprobe = math.max(4, (nlist + 3) / 4)
    val semNlist = clamp(16, 256, math.round(12.0 * math.sqrt(corpusRows / 500.0)))
    val passign = if (semNlist >= 24) 3 else 2
    val rerank = clamp(50, 1000, (corpusRows + 9) / 10)
    AnnParams(nlist, nprobe, semNlist, passign, rerank)
  }

  /** Corpus row count per (session, dir) — the scalar [[annParams]]
    * keys off; one count, memoized like the quantizer it parameterizes. */
  private val corpusCount = SessionMemo("SimilarityQueries.corpusCount") { (spark, dir: String) =>
    Tables.embeddings(spark, dir).count()
  }

  private def cachedParams(spark: SparkSession, dir: String): AnnParams =
    annParams(corpusCount(spark, dir))

  /** Fit-once IVF quantizer per (session, dir, nlist) — the artifact the
    * 100 TB design persists; evicted with the owning session's context. */
  private val cachedQuantizer = SessionMemo("SimilarityQueries.quantizer") {
    (spark, key: (String, Int)) => Similarity.fitQuantizer(Tables.embeddings(spark, key._1), key._2)
  }

  /** The exact top-5 ground truth every recall certificate compares
    * against — computed once per (session, dir) and kept cached (100
    * rows). */
  private val cachedBruteTop5 = SessionMemo("SimilarityQueries.bruteTop5") { (spark, dir: String) =>
    val emb = Tables.embeddings(spark, dir)
    val df = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < AnnQueryIdBound), 5).cache()
    df.count()
    df
  }

  /** The session's one ANN artifact per (session, dir): the corpus
    * partitioned by IVF cell with its PQ codes
    * ([[ProductQuantization.writeAnnIndex]] — the PQ fit happens here,
    * once), read back identity-checked against the memoized quantizer.
    * The memo holds the resolved relation, so every probe of
    * q_ann_ivf_indexed, q_ann_pq and q_ann_ivfpq skips the directory
    * listing and footer reads. The files are scratch, swept at JVM exit
    * ([[graft.IoUtil.scratchDir]]): repeated sessions would otherwise
    * accumulate full parquet copies of the encoded corpus under /tmp.
    * The quantizer is fitted FIRST, so an empty or sub-nlist corpus
    * fails through its loud-failure contract. */
  private val cachedAnnIndex = SessionMemo("SimilarityQueries.annIndex") { (spark, dir: String) =>
    val emb = Tables.embeddings(spark, dir)
    val km = cachedQuantizer(spark, (dir, cachedParams(spark, dir).nlist))
    val path = graft.IoUtil.scratchDir("graft-ann-index").toString + "/idx"
    ProductQuantization.writeAnnIndex(emb, km,
      ProductQuantization.fitPq(emb, m = 16, ksub = 16), path)
    ProductQuantization.readAnnIndex(spark, path, km)
  }

  /** Per-query recall@k of `approx` against `exact` ground truth — ONE
    * definition shared by the recall certificates below and by
    * [[graft.RecallProbe]] (the harness the floor constants are measured
    * with), so the measurement and the enforcement cannot drift. */
  private[graft] def perQueryRecall(approx: DataFrame, exact: DataFrame): DataFrame =
    exact.select(col("query_id"), col("neighbor_id"))
      .join(approx.select(col("query_id"), col("neighbor_id"), lit(1).as("hit")),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(rnd(sum(coalesce(col("hit"), lit(0))).cast("double") / count(lit(1)), 4)
        .as("recall_at_5"))

  /** THEOREM-CERTIFICATE form of a recall floor (the pattern the ML
    * metric certificates use): measured recall is data-dependent so it
    * cannot be hashed against a constant, but its INVARIANTS can — one
    * row of (n_queries, floor_pct, recall_ok) that a FROM-less DuckDB
    * oracle pins to literals. A floor violation shows up as a FALSE
    * cell (a hash mismatch against the oracle), not as absent rows; the
    * measured values themselves ship per round in `RECALL_r{N}.json`
    * ([[recallReport]]). floor_pct is an exact integer
    * (round(100·floor)) — no double in the certificate row, the
    * q_ks_test lesson. */
  private[graft] def recallCert(approx: DataFrame, exact: DataFrame,
                                floor: Double): DataFrame =
    perQueryRecall(approx, exact)
      .agg(count(lit(1)).as("n_queries"),
        avg(col("recall_at_5")).as("mean_recall"))
      .select(col("n_queries"),
        lit(math.round(floor * 100)).as("floor_pct"),
        (col("mean_recall") >= floor).as("recall_ok"))

  /** The constant certificate row [[recallCert]] must reproduce —
    * shared oracle body so the pinned literals live once. */
  private def recallCertSql(floor: Double): String =
    s"""SELECT CAST($AnnQueryIdBound AS BIGINT) AS n_queries,
       |  CAST(${math.round(floor * 100)} AS BIGINT) AS floor_pct,
       |  TRUE AS recall_ok""".stripMargin

  /** q_ann_lsh: recall certificate of the LSH-bucketed ANN, the 100 TB
    * path (the serving query is Similarity.lshTopK itself — this is its
    * quality harness). */
  def qAnnLshCert(spark: SparkSession, dir: String): DataFrame =
    recallCert(lshApprox(spark, dir), cachedBruteTop5(spark, dir),
      floor = LshRecallFloor)

  /** 8 hyperplanes → 256 buckets, multi-probe h≤3 → 93/256 buckets
    * probed ≈ 36% of the corpus. Parameters chosen by measurement — best
    * recall per probed fraction on this embedding distribution
    * (recall@5 ≈ 0.55 vs 0.46 for 4-plane/h≤1 at the same probe cost). */
  private def lshApprox(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.lshTopK(emb, emb.filter(col("vec_id") < AnnQueryIdBound), 5,
      planes = 8, multiProbe = 3)
  }

  /** Recall floors sit just under the MINIMUM measured mean recall@5
    * across sf0.001/0.01/0.1 (probe run 2026-08-13 with the
    * corpus-scaled [[annParams]]: LSH 0.54-0.62, IVF 0.64-0.77), so a
    * real quality regression trips the certificate while
    * fixture-to-fixture variance does not. Asserted in SimilaritySpec;
    * the measurements live in RECALL_r{N}.json. IVF, probing a quarter
    * of its cells, must clear a higher floor than LSH. */
  val LshRecallFloor = 0.45
  val IvfRecallFloor = 0.58

  /** q_ann_ivf: recall certificate of the in-memory IVF ANN. */
  def qAnnIvfCert(spark: SparkSession, dir: String): DataFrame =
    recallCert(ivfApprox(spark, dir), cachedBruteTop5(spark, dir),
      floor = IvfRecallFloor)

  /** IVF ANN against the memoized fit-once quantizer, probes ranked by
    * the quantizer's own Euclidean metric. */
  private def ivfApprox(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val p = cachedParams(spark, dir)
    Similarity.ivfTopK(emb, emb.filter(col("vec_id") < AnnQueryIdBound), 5,
      cachedQuantizer(spark, (dir, p.nlist)), p.nprobe, "vec_id", "embedding")
  }

  /** q_ann_ivf_indexed: recall certificate of the MATERIALIZED IVF
    * path, under the same floor as the in-memory path. */
  def qAnnIvfIndexedCert(spark: SparkSession, dir: String): DataFrame =
    recallCert(ivfIndexedApprox(spark, dir), cachedBruteTop5(spark, dir),
      floor = IvfRecallFloor)

  /** Probes the session's ANN index ([[cachedAnnIndex]]), which is
    * partitioned by cell, so probes prune at file-listing time
    * (PartitionFilters — asserted in SimilaritySpec). This is the layout
    * the 100 TB design statement promises — a probe reads nprobe/nlist
    * of the files, not a filtered full scan. */
  private def ivfIndexedApprox(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val p = cachedParams(spark, dir)
    Similarity.ivfTopKIndexed(cachedAnnIndex(spark, dir)._2,
      emb.filter(col("vec_id") < AnnQueryIdBound), 5,
      cachedQuantizer(spark, (dir, p.nlist)), p.nprobe)
  }

  /** Floor just under the minimum measured mean recall@5 across
    * sf0.001/0.01/0.1 — 0.89 / 0.90 / 0.98 for m=16, ksub=16 with the
    * corpus-scaled rerank ([[annParams]]; the round-9 FIXED rerank=50
    * measured 0.75 at sf0.1 and had dragged this floor down to 0.69 —
    * scaling the pool with n restored it) — same margin policy as
    * [[IvfRecallFloor]] (0.06 under the minimum; graft.RecallProbe run
    * 2026-08-13). */
  val PqRecallFloor = 0.83

  /** q_ann_pq: recall certificate of the product-quantization ANN. */
  def qAnnPqCert(spark: SparkSession, dir: String): DataFrame =
    recallCert(pqApprox(spark, dir), cachedBruteTop5(spark, dir),
      floor = PqRecallFloor)

  /** Product-quantization ANN (16 subspaces × 16 centroids → 4-bit
    * codes, 32× compression of the 64-float embeddings) with exact
    * rerank. The ADC scan reads the ANN index's codes only (every
    * cell); the rerank joins ≤ |q|·rerank candidates back to full
    * vectors ([[ProductQuantization.pqTopKFromCodes]]). */
  private def pqApprox(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val (model, index) = cachedAnnIndex(spark, dir)
    ProductQuantization.pqTopKFromCodes(emb, index,
      emb.filter(col("vec_id") < AnnQueryIdBound), 5, model,
      rerank = cachedParams(spark, dir).rerank)
  }

  /** Floor just under the minimum measured mean recall@5 across
    * sf0.001/0.01/0.1 — 0.62 / 0.77 / 0.76 with the corpus-scaled
    * (nlist, nprobe, rerank) ([[annParams]]; probe run 2026-08-14) —
    * same 0.06-under-minimum policy as [[IvfRecallFloor]]. Sits under
    * the IVF floor because the composed tier inherits the coarse
    * probe's misses AND the ADC quantization error; measured, the ADC +
    * rerank step costs ≤ 0.02 recall over IVF alone at every SF. */
  val IvfPqRecallFloor = 0.56

  /** q_ann_ivfpq: recall certificate of the IVF-PQ COMPOSED tier, which
    * puts the composition under the same per-round recall measurement
    * as its two components. */
  def qAnnIvfPqCert(spark: SparkSession, dir: String): DataFrame =
    recallCert(ivfPqApprox(spark, dir), cachedBruteTop5(spark, dir),
      floor = IvfPqRecallFloor)

  /** The two-level shape the 100 TB design statement promises: the
    * coarse probe prunes to nprobe/nlist cells, ADC scores only the
    * probed cells' codes, and the exact-rerank tail is shared
    * ([[ProductQuantization.ivfPqTopK]]). Probes the session's ANN
    * index, whose codes are persisted partitioned by cell. */
  private def ivfPqApprox(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val p = cachedParams(spark, dir)
    val (model, index) = cachedAnnIndex(spark, dir)
    ProductQuantization.ivfPqTopKFromCellCodes(
      emb, index,
      emb.filter(col("vec_id") < AnnQueryIdBound), 5,
      cachedQuantizer(spark, (dir, p.nlist)), model,
      nprobe = p.nprobe, rerank = p.rerank)
  }

  /** Pair recall floor for q_semantic_dedup: measured multi-assignment
    * pair recall vs the exact grid join at cos ≥ 0.45 is
    * 0.8571 / 0.8571 / 0.8750 at sf0.001/0.01/0.1 with the corpus-
    * scaled (semNlist, passign) ([[annParams]]; the round-9 fixed
    * (16, 2) measured 0.71 at sf0.1 — single-assignment measures
    * 0.29-0.57, multi-assignment is what makes the operator viable at
    * this threshold). Floor sits 0.06 under the minimum, same policy
    * as [[LshRecallFloor]] (probe run 2026-08-13). */
  val SemanticRecallFloor = 0.79

  /** q_semantic_dedup: certificate of the semantic (embedding-space)
    * dedup over [[semanticRows]], with the RAW pair-recall (a
    * 4-dp-rounded recall could certify TRUE on a value under the
    * floor), so a recall violation flips
    * `recall_ok` to FALSE. `coverage_ok` pins the partition property
    * (one output row per corpus vector); `kept_bounded` pins
    * 1 ≤ kept ≤ n (at least every dup relation's min-id representative
    * survives). */
  def qSemanticDedupCert(spark: SparkSession, dir: String): DataFrame =
    semanticDedupCert(spark, dir, floor = SemanticRecallFloor)

  /** [[qSemanticDedupCert]] at any recall floor — the floor is a
    * parameter, as in [[recallCert]], so a spec can drive `recall_ok`
    * to FALSE. */
  private[graft] def semanticDedupCert(spark: SparkSession, dir: String,
                                       floor: Double): DataFrame = {
    val nVecs = Tables.embeddings(spark, dir).agg(count(lit(1)).as("n_vecs"))
    semanticRows(spark, dir)
      .agg(count(lit(1)).as("n_rows"), sum(col("kept")).as("n_kept"),
        max(col("pair_recall")).as("pr"))
      .crossJoin(broadcast(nVecs))
      .select(
        lit(math.round(floor * 100)).as("floor_pct"),
        (col("pr") >= floor).as("recall_ok"),
        (col("n_rows") === col("n_vecs")).as("coverage_ok"),
        (col("n_kept") >= 1L && col("n_kept") <= col("n_rows"))
          .as("kept_bounded"))
  }

  /** The UNROUNDED semantic-dedup pair-recall scalar (one row,
    * `pair_recall`) — ONE definition shared by the certificate and
    * [[recallReport]], so measurement and enforcement cannot drift (the
    * recallCert discipline: hand-mirrored copies drift). No exact pairs
    * at this SF ⇒ recall is vacuously 1 (nothing to miss). */
  private def semanticPairRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val p = cachedParams(spark, dir)
    val sem = Similarity.semanticDedupPairs(emb, 0.45,
      cachedQuantizer(spark, (dir, p.semNlist)), passign = p.passign)
    val exact = Similarity.nearDupPairsBlocked(emb, 0.45)
    exact.select(col("a"), col("b"))
      .join(sem.select(col("a"), col("b"), lit(1).as("hit")), Seq("a", "b"), "left")
      .agg(coalesce(avg(coalesce(col("hit"), lit(0))), lit(1.0)).as("pair_recall"))
  }

  /** SemDeDup-shaped per-vector keep/drop frame: same-cell exact cosine
    * pairs at τ=0.45 via the memoized quantizer, then keep = "no
    * smaller-id semantic duplicate" (the min-id representative of each
    * direct dup relation survives). One row per vector with its `kept`
    * flag and the RAW pair-recall against the exact blocked grid join. */
  private[graft] def semanticRows(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val p = cachedParams(spark, dir)
    val sem = Similarity.semanticDedupPairs(emb, 0.45,
      cachedQuantizer(spark, (dir, p.semNlist)), passign = p.passign)
    val dropped = sem.select(col("b").as("vec_id")).distinct().withColumn("dup", lit(1))
    emb.select(col("vec_id"))
      .join(dropped, Seq("vec_id"), "left")
      .crossJoin(broadcast(semanticPairRecall(spark, dir)))
      .select(col("vec_id"), col("dup").isNull.cast("int").as("kept"),
        col("pair_recall"))
  }

  /** Cells / per-cell width for [[qClusterSample]] — interpolated into
    * BOTH engines so they cannot drift. */
  val ClusterSampleDims = 4
  val ClusterSampleK = 10

  /** Diversity-balanced subsampling: assign each vector to one of 2^d
    * deterministic embedding cells (the sign bits of the first d
    * dimensions — axis-aligned hyperplane quantization, the same family
    * as the LSH bucketer but engine-reproducible with no fitted model),
    * then draw an exact-k hash-ordered sample per cell. The curation
    * move behind cluster-balanced data selection: a uniform draw
    * over-represents the dense region; a per-cell draw guarantees
    * coverage of every occupied region of embedding space.
    *
    * Scale shape: the cell id is a map-side expression over the scan;
    * the per-cell draw reuses [[TrainingDataQueries.samplePerGroup]],
    * whose rank filter plans as WindowGroupLimit — each task keeps its
    * local top-k per cell BEFORE the exchange, so the shuffle carries
    * ≤ k·partitions·2^d rows, never the corpus. */
  /** Frame-parameterized body of [[qClusterSample]] (spec-testable;
    * SQL-reachable as the `cluster_sample` TVF). Emits (cell, idCol,
    * draw_rank). */
  def clusterSample(df: DataFrame, idCol: String, vecCol: String,
                    dims: Int, k: Int): DataFrame = {
    require(dims >= 1 && dims <= 20,
      s"cluster_sample: dims must be in [1, 20] (2^dims cells), got $dims")
    val bits = (0 until dims).map { i =>
      when(col(vecCol).getItem(i) >= 0f, lit(1 << (dims - 1 - i))).otherwise(lit(0))
    }.reduce(_ + _)
    val cells = df.select(col(idCol), bits.cast("int").as("cell"))
    TrainingDataQueries.samplePerGroup(cells, "cell", idCol, k)
  }

  def qClusterSample(spark: SparkSession, dir: String): DataFrame =
    clusterSample(Tables.embeddings(spark, dir), "vec_id", "embedding",
      ClusterSampleDims, ClusterSampleK)
      .orderBy("cell", "draw_rank")

  /** One measured-recall row: registered query name, measured mean
    * recall (recall@5 for the ANN tiers, pair recall for semantic
    * dedup), the floor its certificate enforces, and the corpus/query
    * sizes the measurement ran at. */
  case class RecallRow(query: String, recall: Double, floor: Double,
                       corpusRows: Long, queryRows: Long)

  /** Measured recall of every recall-certified registered query over one
    * SF dir, via the SAME operator paths and [[perQueryRecall]]
    * definition the certificates use — the numbers behind the floor
    * constants, emitted per round as `RECALL_r{N}.json` by
    * [[graft.RecallProbe]] so recall drift across rounds is diffable
    * instead of living in prose. */
  def recallReport(spark: SparkSession, dir: String): Seq[RecallRow] = {
    val emb = Tables.embeddings(spark, dir)
    val corpus = corpusCount(spark, dir)
    val nq = emb.filter(col("vec_id") < AnnQueryIdBound).count()
    val brute = cachedBruteTop5(spark, dir)
    // the measured frames are the SAME *Approx helpers the registered
    // certificates aggregate — a parameter tune reaches measurement and
    // enforcement together or not at all (review r13: this body used to
    // hand-mirror all five constructions and the semantic gate)
    def mean(approx: DataFrame): Double =
      perQueryRecall(approx, brute).agg(avg(col("recall_at_5"))).head().getDouble(0)
    val pairRecall = semanticPairRecall(spark, dir).head().getDouble(0)
    Seq(
      RecallRow("q_ann_lsh", mean(lshApprox(spark, dir)),
        LshRecallFloor, corpus, nq),
      RecallRow("q_ann_ivf", mean(ivfApprox(spark, dir)),
        IvfRecallFloor, corpus, nq),
      RecallRow("q_ann_ivf_indexed", mean(ivfIndexedApprox(spark, dir)),
        IvfRecallFloor, corpus, nq),
      RecallRow("q_ann_pq", mean(pqApprox(spark, dir)),
        PqRecallFloor, corpus, nq),
      RecallRow("q_ann_ivfpq", mean(ivfPqApprox(spark, dir)),
        IvfPqRecallFloor, corpus, nq),
      RecallRow("q_semantic_dedup", pairRecall, SemanticRecallFloor, corpus, nq))
  }

  /** Embedding-distribution drift between two corpus batches — the
    * embedding-space member of the drift family (psi/jsd/hellinger
    * watch a scalar; a shifted EMBEDDING distribution silently degrades
    * every ANN/dedup/cluster operator downstream): per-dimension
    * centroids of batch a vs b, their cosine and the L2 centroid
    * shift. The batch split here is id parity — the deterministic
    * stand-in for the time-ordered "yesterday's corpus vs today's"
    * split a deployment wires in.
    *
    * Cross-engine discipline: per-element float32 values are exact in
    * double and micro-rounded on the BINARY 2²⁰ scale (IEEE-exact
    * multiply), so the per-dimension sums are order-free exact longs;
    * the per-dimension centroid products are nano-rounded likewise
    * before the cross-dimension sums; cos/shift are fixed-order
    * expressions over those longs, NULL-gated on an empty batch
    * (ANSI Spark throws on double /0 where DuckDB yields inf).
    *
    * Scale: ONE explode pass at (rows × dim) grain feeding a map-side
    * combinable aggregate onto the dim-bounded grid (64 rows); all
    * later work is constant-size. `drifted` compares the ROUNDED
    * cosine. */
  def embeddingDrift(df: DataFrame, idCol: String,
                     vecCol: String): DataFrame = {
    val base = df
      .filter(col(vecCol).isNotNull)
      .select(pmod(col(idCol), lit(2L)).cast("long").as("b"),
        posexplode(col(vecCol)).as(Seq("pos", "v")))
      .select(col("b"), col("pos"),
        floor(col("v").cast("double") * lit(1048576.0) + lit(0.5))
          .cast("long").as("m"))
    val grid = base.groupBy("pos").agg(
      sum(when(col("b") === 0L, 1L).otherwise(0L)).as("na"),
      sum(when(col("b") === 1L, 1L).otherwise(0L)).as("nb"),
      sum(when(col("b") === 0L, col("m")).otherwise(0L)).as("sa"),
      sum(when(col("b") === 1L, col("m")).otherwise(0L)).as("sb"))
    def dd(c: Column) = c.cast("double")
    def nano(c: Column) = floor(c * lit(1e9) + lit(0.5)).cast("long")
    val ca = dd(col("sa")) / 1048576.0 / dd(col("na"))
    val cb = dd(col("sb")) / 1048576.0 / dd(col("nb"))
    val gate = col("na") > 0L && col("nb") > 0L
    val g = grid
      .select(col("na"), col("nb"),
        when(gate, nano(ca * cb)).as("dot_n"),
        when(gate, nano(ca * ca)).as("aa_n"),
        when(gate, nano(cb * cb)).as("bb_n"),
        when(gate, nano((ca - cb) * (ca - cb))).as("d2_n"))
      .agg(count(lit(1)).as("dim"),
        max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
        sum(col("dot_n")).as("dot"), sum(col("aa_n")).as("aa"),
        sum(col("bb_n")).as("bb"), sum(col("d2_n")).as("d2"))
    def d(s: String) = col(s).cast("double")
    val cos = rnd(when(col("aa") > 0L && col("bb") > 0L,
      (d("dot") / 1e9) / sqrt((d("aa") / 1e9) * (d("bb") / 1e9))), 6)
    // the shift is defined whenever both batches are NON-EMPTY (d2's
    // per-dim gate already encodes that); only the cosine needs the
    // nonzero-norm gate — an all-zero-centroid batch is maximal drift,
    // not a NULL (review r13 leg 2)
    g.select(col("dim"), col("n_a"), col("n_b"),
      cos.as("cos_centroid"),
      rnd(when(col("d2").isNotNull,
        sqrt(greatest(lit(0.0), d("d2") / 1e9))), 6).as("l2_shift"),
      (cos < 0.95).as("drifted"))
  }

  def qEmbeddingDrift(spark: SparkSession, dir: String): DataFrame =
    embeddingDrift(Tables.embeddings(spark, dir), "vec_id", "embedding")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_embedding_drift" -> qEmbeddingDrift _,
    "q_embedding_quantize" -> qEmbeddingQuantize _,
    "q_embedding_norm" -> qEmbeddingNorm _,
    "q_embedding_stats" -> qEmbeddingStats _,
    "q_embedding_decontam" -> qEmbeddingDecontam _,
    "q_embedding_neardup" -> qEmbeddingNeardup _,
    "q_ann_bruteforce" -> qAnnBruteforce _,
    // the 6 recall-floored entries are CERTIFICATES (constant-shape
    // oracles, hash-compared); the measured values ship per round in
    // RECALL_r{N}.json
    "q_ann_lsh" -> qAnnLshCert _,
    "q_ann_ivf" -> qAnnIvfCert _,
    "q_ann_ivf_indexed" -> qAnnIvfIndexedCert _,
    "q_ann_pq" -> qAnnPqCert _,
    "q_ann_ivfpq" -> qAnnIvfPqCert _,
    "q_semantic_dedup" -> qSemanticDedupCert _,
    "q_cluster_sample" -> qClusterSample _,
  )

  val oracles: Map[String, String] = Map(
    // parallel unnests zip in DuckDB (value beside its 0-based
    // position); binary 2^20 element scale and nano-rounded centroid
    // products keep every cross-row/cross-dim sum an exact long
    "q_embedding_drift" ->
      """WITH base AS (
        |  SELECT ((vec_id % 2) + 2) % 2 AS b,
        |    unnest(generate_series(0, len(embedding) - 1)) AS pos,
        |    unnest(embedding) AS v
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |m AS (
        |  SELECT b, pos,
        |    CAST(floor(CAST(v AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT) AS m
        |  FROM base),
        |grid AS (
        |  SELECT pos,
        |    CAST(sum(CASE WHEN b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |    CAST(sum(CASE WHEN b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb,
        |    CAST(sum(CASE WHEN b = 0 THEN m ELSE 0 END) AS BIGINT) AS sa,
        |    CAST(sum(CASE WHEN b = 1 THEN m ELSE 0 END) AS BIGINT) AS sb
        |  FROM m GROUP BY pos),
        |t AS (
        |  SELECT na, nb,
        |    CASE WHEN na > 0 AND nb > 0 THEN CAST(floor(
        |      ((CAST(sa AS DOUBLE) / 1048576.0 / CAST(na AS DOUBLE))
        |        * (CAST(sb AS DOUBLE) / 1048576.0 / CAST(nb AS DOUBLE)))
        |      * 1e9 + 0.5) AS BIGINT) END AS dot_n,
        |    CASE WHEN na > 0 AND nb > 0 THEN CAST(floor(
        |      ((CAST(sa AS DOUBLE) / 1048576.0 / CAST(na AS DOUBLE))
        |        * (CAST(sa AS DOUBLE) / 1048576.0 / CAST(na AS DOUBLE)))
        |      * 1e9 + 0.5) AS BIGINT) END AS aa_n,
        |    CASE WHEN na > 0 AND nb > 0 THEN CAST(floor(
        |      ((CAST(sb AS DOUBLE) / 1048576.0 / CAST(nb AS DOUBLE))
        |        * (CAST(sb AS DOUBLE) / 1048576.0 / CAST(nb AS DOUBLE)))
        |      * 1e9 + 0.5) AS BIGINT) END AS bb_n,
        |    CASE WHEN na > 0 AND nb > 0 THEN CAST(floor(
        |      ((CAST(sa AS DOUBLE) / 1048576.0 / CAST(na AS DOUBLE)
        |          - CAST(sb AS DOUBLE) / 1048576.0 / CAST(nb AS DOUBLE))
        |        * (CAST(sa AS DOUBLE) / 1048576.0 / CAST(na AS DOUBLE)
        |          - CAST(sb AS DOUBLE) / 1048576.0 / CAST(nb AS DOUBLE)))
        |      * 1e9 + 0.5) AS BIGINT) END AS d2_n
        |  FROM grid),
        |g AS (
        |  SELECT CAST(count(*) AS BIGINT) AS dim,
        |    CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
        |    CAST(sum(dot_n) AS BIGINT) AS dot,
        |    CAST(sum(aa_n) AS BIGINT) AS aa,
        |    CAST(sum(bb_n) AS BIGINT) AS bb,
        |    CAST(sum(d2_n) AS BIGINT) AS d2
        |  FROM t),
        |f AS (
        |  SELECT dim, n_a, n_b,
        |    CASE WHEN aa > 0 AND bb > 0 THEN
        |      floor(((CAST(dot AS DOUBLE) / 1e9)
        |        / sqrt((CAST(aa AS DOUBLE) / 1e9)
        |          * (CAST(bb AS DOUBLE) / 1e9))) * 1e6 + 0.5) / 1e6
        |    END AS cos_centroid,
        |    CASE WHEN d2 IS NOT NULL THEN
        |      floor(sqrt(greatest(CAST(0.0 AS DOUBLE),
        |        CAST(d2 AS DOUBLE) / 1e9)) * 1e6 + 0.5) / 1e6
        |    END AS l2_shift
        |  FROM g)
        |SELECT dim, n_a, n_b, cos_centroid, l2_shift,
        |  cos_centroid < 0.95 AS drifted
        |FROM f""".stripMargin,
    // certificate rows pinned to literals (the ML-cert precedent):
    // n_queries is [[AnnQueryIdBound]] at every SF (vec_id bound over
    // ≥ 500-vector fixtures — the bound lives ONCE and is interpolated
    // into both engines), floor_pct the exact integer twin of the
    // recall floor
    "q_ann_lsh" -> recallCertSql(LshRecallFloor),
    "q_ann_ivf" -> recallCertSql(IvfRecallFloor),
    "q_ann_ivf_indexed" -> recallCertSql(IvfRecallFloor),
    "q_ann_pq" -> recallCertSql(PqRecallFloor),
    "q_ann_ivfpq" -> recallCertSql(IvfPqRecallFloor),
    "q_semantic_dedup" ->
      s"""SELECT CAST(${math.round(SemanticRecallFloor * 100)} AS BIGINT)
         |    AS floor_pct,
         |  TRUE AS recall_ok, TRUE AS coverage_ok,
         |  TRUE AS kept_bounded""".stripMargin,
    // sign-bit cells over 1-BASED DuckDB list indexing (embedding[1] is
    // Spark's getItem(0)); the draw order is the shared md5 salted-hash
    // idiom with the samplePerGroup salt, so the drawn SET matches
    // row-for-row, not just in distribution
    "q_cluster_sample" -> {
      val cellExpr = (0 until ClusterSampleDims).map { i =>
        s"CASE WHEN embedding[${i + 1}] >= 0 THEN ${1 << (ClusterSampleDims - 1 - i)} ELSE 0 END"
      }.mkString(" + ")
      s"""WITH c AS (
         |  SELECT vec_id, CAST($cellExpr AS INTEGER) AS cell FROM embeddings),
         |r AS (
         |  SELECT cell, vec_id,
         |    row_number() OVER (PARTITION BY cell ORDER BY
         |      ('0x' || substr(md5(CAST(vec_id AS VARCHAR) || '|pergroup'), 1, 8))::BIGINT,
         |      vec_id) AS draw_rank
         |  FROM c)
         |SELECT cell, vec_id, draw_rank FROM r
         |WHERE draw_rank <= $ClusterSampleK ORDER BY cell, draw_rank""".stripMargin
    },
    "q_embedding_norm" ->
      s"""SELECT vec_id, label,
         |  floor((${normSql("a")}) * 1e4 + 0.5) / 1e4 AS norm
         |FROM embeddings a WHERE vec_id < 100 ORDER BY vec_id""".stripMargin,
    // same clamp/floor code arithmetic; list folds in list order (the
    // l2Norm list_sum precedent); qsum is an exact integer signature
    "q_embedding_quantize" ->
      """WITH nn AS (
        |  SELECT vec_id,
        |    list_filter(embedding, x -> x IS NOT NULL) AS embedding
        |  FROM embeddings WHERE vec_id < 100),
        |b AS (
        |  SELECT vec_id, embedding,
        |    CAST(list_min(embedding) AS DOUBLE) AS mn,
        |    CAST(list_max(embedding) AS DOUBLE) AS mx
        |  FROM nn),
        |c AS (SELECT vec_id, embedding, mn, mx, (mx - mn) / 255.0 AS sc
        |  FROM b),
        |q AS (
        |  SELECT vec_id, mn, mx,
        |    CASE WHEN sc > 0.0 THEN CAST(list_sum(list_transform(embedding,
        |      x -> CAST(least(CAST(255.0 AS DOUBLE), greatest(CAST(0.0 AS DOUBLE),
        |        floor((CAST(x AS DOUBLE) - mn) / sc + 0.5))) AS BIGINT)))
        |      AS BIGINT) ELSE CAST(0 AS BIGINT) END AS qsum,
        |    CASE WHEN sc > 0.0 THEN list_sum(list_transform(embedding,
        |      x -> (CAST(x AS DOUBLE) - (mn + least(CAST(255.0 AS DOUBLE),
        |          greatest(CAST(0.0 AS DOUBLE),
        |            floor((CAST(x AS DOUBLE) - mn) / sc + 0.5))) * sc))
        |        * (CAST(x AS DOUBLE) - (mn + least(CAST(255.0 AS DOUBLE),
        |          greatest(CAST(0.0 AS DOUBLE),
        |            floor((CAST(x AS DOUBLE) - mn) / sc + 0.5))) * sc))))
        |      / CAST(len(embedding) AS DOUBLE)
        |    ELSE CAST(0.0 AS DOUBLE) END AS mse
        |  FROM c)
        |SELECT vec_id, floor(mn * 1e6 + 0.5) / 1e6 AS mn,
        |  floor(mx * 1e6 + 0.5) / 1e6 AS mx, qsum,
        |  floor((mse * 1e6) * 1e6 + 0.5) / 1e6 AS mse_e6
        |FROM q ORDER BY vec_id""".stripMargin,
    "q_embedding_stats" ->
      // integer-micro avg twin: BIGINT cast on the sum (DuckDB sums
      // BIGINT into HUGEINT), division order mirrors the Spark side
      s"""WITH n AS (SELECT label, ${normSql("a")} AS norm FROM embeddings a)
         |SELECT label, count(*) AS cnt,
         |  floor((CAST(sum(CAST(floor(norm * 1e6 + 0.5) AS BIGINT)) AS BIGINT)
         |      / 1e6 / count(norm)) * 1e4 + 0.5) / 1e4 AS avg_norm,
         |  floor((min(norm)) * 1e4 + 0.5) / 1e4 AS min_norm,
         |  floor((max(norm)) * 1e4 + 0.5) / 1e4 AS max_norm
         |FROM n GROUP BY label ORDER BY label""".stripMargin,
    // max over the per-pair cosines is order-free, so the rounded
    // value cannot drift; the boolean compares the RAW max (irrational,
    // never at the literal threshold)
    "q_embedding_decontam" ->
      s"""WITH s AS (
         |  SELECT a.vec_id, max($COS) AS max_cos_raw
         |  FROM embeddings a JOIN embeddings b ON b.vec_id < 10
         |  WHERE a.vec_id >= 10 GROUP BY a.vec_id)
         |SELECT vec_id, floor((max_cos_raw) * 1e4 + 0.5) / 1e4 AS max_cos,
         |  max_cos_raw >= $DecontamCos AS contaminated
         |FROM s ORDER BY vec_id""".stripMargin,
    "q_embedding_neardup" ->
      s"""SELECT a.vec_id AS a, b.vec_id AS b,
         |  floor(($COS) * 1e4 + 0.5) / 1e4 AS cos
         |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         |WHERE $COS >= 0.45 ORDER BY a, b""".stripMargin,
    "q_ann_bruteforce" ->
      s"""WITH scored AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, $COS AS cos
         |  FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id
         |  WHERE a.vec_id < $AnnQueryIdBound),
         |r AS (
         |  SELECT query_id, neighbor_id, cos,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored)
         |SELECT query_id, neighbor_id, floor((cos) * 1e6 + 0.5) / 1e6 AS cos, rank
         |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
  )
}
