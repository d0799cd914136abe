package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`) — BASELINE.json north-star operator, no counterpart
  * in the reference.
  *
  * Two paths:
  *  - [[bruteForceTopK]]: broadcast the (small) query set against the
  *    corpus — one linear scan, exact answers. The corpus side is never
  *    collected or shuffled; per-partition it streams through the codegen'd
  *    cosine expression, and the final top-k is a per-query window over
  *    (#queries × corpus) rows pre-pruned by nothing — use it when
  *    #queries is small or as the verification baseline.
  *  - [[lshTopK]]: random-hyperplane LSH — bucket every vector by the sign
  *    pattern of `planes` deterministic hyperplanes, then search only
  *    within the query's bucket. At 100 TB this turns the scan per query
  *    into a bucket lookup (expected corpus/2^planes candidates); recall
  *    is tunable via planes count and multi-probe (drop-1-bit probing).
  */
object Similarity {

  /** dot/(n1*n2) with the zero-norm case NULLed (hostile sweep r18):
    * ANSI Spark throws DIVIDE_BY_ZERO where DuckDB natively yields
    * NULL, so the raw division crashed on an all-zero embedding. NULL
    * is the right value AND the parity-exact one: every threshold
    * filter drops it and every DESC ranking orders it last in both
    * engines — a zero-norm vector is nobody's neighbor. */
  private[operators] def safeCos(v1: Column, v2: Column,
                                 n1: Column, n2: Column): Column =
    dot(v1, v2) / nullif(n1 * n2, lit(0.0))

  /** Exact top-k neighbors for each query vector (excludes self-match). */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // Norms are precomputed per side so the O(|q|·|corpus|) pair stage
    // evaluates only one dot product per pair (cosine would fold three).
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      l2Norm(col(vecCol)).as("qn")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      l2Norm(col(vecCol)).as("cn"))
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", safeCos(col("qv"), col("cv"), col("qn"), col("cn")))
    val w = Window.partitionBy("query_id").orderBy(desc("cos"), col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cos", "rank")
  }

  /** Deterministic random-hyperplane bucket id (planes sign bits packed
    * into a long) — the single-pass codegen'd expression; bit-identical
    * to packing `VectorFunctions.hyperplaneSign` per plane (asserted in
    * SimilaritySpec), ~planes× fewer array walks per row. */
  def bucketId(vecCol: String, planes: Int) =
    graft.plans.HyperplaneBuckets(col(vecCol), 0, planes)

  /** ANN via LSH buckets: candidates share the query's bucket; exact
    * cosine + top-k within the bucket.
    *
    * `multiProbe` = h additionally probes every bucket within Hamming
    * distance h of the query's bucket (classic multi-probe LSH): the
    * query side fans out to Σ_{i≤h} C(planes,i) buckets while the corpus
    * stays single-bucketed, trading a bounded candidate-set growth for
    * recall — the right knob when neighbors sit at mid cosine where a
    * single sign-pattern match is unlikely. Candidates per query ≈
    * corpus × (probes / 2^planes). */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, planes: Int = 8,
              multiProbe: Int = 0,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(planes >= 1 && planes <= 62, s"planes must be in [1, 62], got $planes")
    require(multiProbe >= 0 && multiProbe <= planes,
      s"multiProbe must be in [0, planes], got $multiProbe")
    val cb = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      l2Norm(col(vecCol)).as("cn"), bucketId(vecCol, planes).as("bucket"))
    // enumerate the C(planes, <=h) probe masks directly — a 0..2^planes
    // scan would overflow Int past 30 planes and walk millions of
    // non-probes; the explode width (= probe count) is bounded instead
    val masks = (0 to multiProbe).flatMap(h =>
      (0 until planes).combinations(h).map(_.foldLeft(0L)((m, b) => m | (1L << b))))
    require(masks.size <= 4096,
      s"multi-probe fan-out ${masks.size} exceeds 4096 buckets per query — " +
        "lower multiProbe or use fewer planes")
    val qb = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      l2Norm(col(vecCol)).as("qn"), bucketId(vecCol, planes).as("home"))
      .withColumn("bucket",
        explode(array(masks.map(m => col("home").bitwiseXOR(lit(m.toLong))): _*)))
      .drop("home"))
    val scored = qb.join(cb, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", safeCos(col("qv"), col("cv"), col("qn"), col("cn")))
    val w = Window.partitionBy("query_id").orderBy(desc("cos"), col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cos", "rank")
  }

  /** Fit-once IVF coarse quantizer: seeded KMeans over a (seeded) sample
    * of the corpus. At 100 TB this runs ONCE on a sample, the model is
    * persisted (KMeansModel is MLWritable — one artifact), and every
    * subsequent query probes against it; refitting per query would both
    * dominate latency and make results layout-dependent. */
  def fitQuantizer(corpus: DataFrame, nlist: Int, sampleFraction: Double = 1.0,
                   vecCol: String = "embedding"): org.apache.spark.ml.clustering.KMeansModel = {
    import org.apache.spark.ml.functions.array_to_vector
    import org.apache.spark.ml.clustering.KMeans
    // NULL vectors are excluded from the fit (hostile r18): KMeans
    // throws on a null feature row, and a row with no embedding can
    // belong to no cell — the same nobody's-neighbor contract safeCos
    // gives the scoring tier
    val sampled =
      (if (sampleFraction >= 1.0) corpus
       else corpus.sample(withReplacement = false, sampleFraction, seed = 42))
        .filter(col(vecCol).isNotNull)
    // Declared loud-failure contract (degenerate sweep r19): a corpus
    // with fewer non-NULL vectors than cells cannot build an index —
    // KMeans dies deep inside an executor task with a bare
    // ArrayIndexOutOfBounds; name the contract at the boundary instead.
    // The count is one scan against a fit that runs dozens of jobs.
    val n = sampled.count()
    require(n >= nlist,
      s"fitQuantizer: corpus has $n non-NULL vectors < nlist=$nlist — " +
        "an IVF coarse quantizer needs at least one vector per cell " +
        "(empty/sub-nlist corpora are a declared loud-failure contract)")
    new KMeans().setK(nlist).setSeed(42).setFeaturesCol("__features")
      .setPredictionCol("__cell")
      .fit(sampled.withColumn("__features", array_to_vector(col(vecCol))))
  }

  /** IVF (inverted-file) ANN: the pre-fitted coarse quantizer partitions
    * the corpus into cells; each query probes its `nprobe` nearest cells
    * and scores only those vectors. The 100 TB shape: the corpus is
    * written partitioned by cell id (assignment is a map-side transform
    * against the broadcast model), a query touches nprobe/nlist of the
    * data, and the centroid table is a broadcast of nlist×dim floats.
    *
    * Probe cells are ranked by squared Euclidean distance to the query
    * (‖c‖² − 2·q·c, the ‖q‖² term is constant per query) — the SAME
    * metric KMeans used to form the cells. Ranking probes by raw dot
    * product disagrees with the Euclidean assignment for unnormalized
    * embeddings and silently degrades recall. */
  /** Per-query probe-cell selection shared by the in-memory and indexed
    * IVF paths AND [[semanticDedupPairs]]' multi-assignment — ONE
    * definition of the probe metric (squared Euclidean against the
    * quantizer's centroids, centroid norms computed exactly driver-side),
    * so the paths cannot silently diverge. Returns (query_id, qv, qn,
    * cell), one row per (query, probed cell), nprobe cells per query.
    *
    * MAP-SIDE: the centroids are nlist LITERAL float arrays baked into
    * the plan, each row builds its nlist (d2, cell) structs through the
    * codegen'd DotProduct, array_sort + slice pick the nprobe nearest,
    * explode emits them — no crossJoin, no window, ZERO shuffle. The
    * earlier crossJoin + row_number form shuffled n·nlist rows through a
    * window exchange, which for the whole-corpus semanticDedupPairs
    * caller was a corpus-sized sort the scaladoc's "map-side assignment"
    * claim did not license. Ordering ties break by cell id exactly like
    * the window's orderBy(c_d2, cell) did (struct field order). */
  private[operators] def probeCells(spark: org.apache.spark.sql.SparkSession, queries: DataFrame,
                         km: org.apache.spark.ml.clustering.KMeansModel, nprobe: Int,
                         idCol: String, vecCol: String): DataFrame = {
    val cands = km.clusterCenters.zipWithIndex.map { case (c, i) =>
      val cn2 = c.toArray.map(x => x * x).sum // exact driver-side, as before
      struct(
        (lit(cn2) - lit(2.0) * dot(col(vecCol), typedlit(c.toArray.map(_.toFloat).toSeq)))
          .as("c_d2"),
        lit(i).as("cell"))
    }
    queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        l2Norm(col(vecCol)).as("qn"),
        explode(slice(array_sort(array(cands.toIndexedSeq: _*)), 1, nprobe)).as("pc"))
      .select(col("query_id"), col("qv"), col("qn"), col("pc.cell").as("cell"))
  }

  /** Exact cosine + per-query top-k over the probed cells (shared tail
    * of both IVF paths). */
  private def scoreProbes(probes: DataFrame, cells: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(desc("cos"), col("neighbor_id"))
    broadcast(probes).join(cells, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", safeCos(col("qv"), col("cv"), col("qn"), col("cn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cos", "rank")
  }

  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              km: org.apache.spark.ml.clustering.KMeansModel, nprobe: Int,
              idCol: String, vecCol: String): DataFrame = {
    import org.apache.spark.ml.functions.array_to_vector
    // transform() also rejects null feature rows — same exclusion
    val vecs = corpus.filter(col(vecCol).isNotNull)
      .withColumn("__features", array_to_vector(col(vecCol)))
    val cells = km.transform(vecs)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
        l2Norm(col(vecCol)).as("cn"), col("__cell").as("cell"))
    val probes = probeCells(corpus.sparkSession, queries, km, nprobe, idCol, vecCol)
    scoreProbes(probes, cells, k)
  }

  /** Convenience overload that fits the quantizer inline (spec/baseline
    * use — production callers fit once via [[fitQuantizer]] and reuse). */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nlist: Int = 16, nprobe: Int = 4,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    ivfTopK(corpus, queries, k, fitQuantizer(corpus, nlist, 1.0, vecCol), nprobe, idCol, vecCol)

  /** Probe a materialized IVF index — the cell-partitioned relation
    * [[ProductQuantization.readAnnIndex]] returns (or any frame with
    * idCol, vecCol, `cn` and a `cell` partition column): per-query probe
    * cells come from the quantizer's centroids (nlist rows — driver
    * metadata, like the centroid broadcast itself); their UNION becomes
    * a literal partition filter on the index scan, so pruning happens at
    * file-listing time (PartitionFilters — asserted in SimilaritySpec).
    * Scoring then joins the broadcast probe set per cell exactly like
    * the in-memory path, and returns identical results. */
  def ivfTopKIndexed(index: DataFrame, queries: DataFrame, k: Int,
                     km: org.apache.spark.ml.clustering.KMeansModel, nprobe: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val probes = probeCells(index.sparkSession, queries, km, nprobe, idCol, vecCol)
    // the probed-cell union is bounded by nlist — driver metadata, and
    // the literal isin is what turns into a partition-pruning filter
    val probedCells = probes.select("cell").distinct()
      .collect().map(_.getInt(0)).sorted.toSeq
    val cells = index
      .filter(col("cell").isin(probedCells: _*))
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"), col("cn"), col("cell"))
    scoreProbes(probes, cells, k)
  }

  /** All (a<b) pairs above a cosine threshold — embedding near-dup
    * detection, spec-baseline form. The `a < b` non-equi join plans as a
    * BroadcastNestedLoopJoin (one side fully broadcast), which OOMs at
    * corpus scale — kept ONLY as the correctness baseline for
    * [[nearDupPairsBlocked]] / [[nearDupPairsLsh]] in SimilaritySpec. */
  def nearDupPairs(emb: DataFrame, threshold: Double,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val a = emb.select(col(idCol).as("a"), col(vecCol).as("va"), l2Norm(col(vecCol)).as("na"))
    val b = emb.select(col(idCol).as("b"), col(vecCol).as("vb"), l2Norm(col(vecCol)).as("nb"))
    a.join(b, col("a") < col("b"))
      .withColumn("cos", safeCos(col("va"), col("vb"), col("na"), col("nb")))
      .filter(col("cos") >= threshold)
      .select("a", "b", "cos")
  }

  /** EXACT all-pairs cosine threshold via a blocked grid self-join — the
    * scale path for [[nearDupPairs]], with an identical result set.
    *
    * Why not LSH here: random-hyperplane LSH only prunes usefully when the
    * threshold is high. At cos ≥ 0.45 (θ up to 63°) the per-plane
    * agreement probability is ~0.65, so any (bands × planes) scheme with
    * near-1 recall replicates each row so many times it exceeds the n²/2
    * work of the exact join — measured on the fixture, qualifying pairs
    * sit at cos 0.45-0.60, squarely in that regime. Use
    * [[nearDupPairsLsh]] when the threshold is ≥ ~0.8 and bounded recall
    * loss is acceptable; use this when the answer must be exact.
    *
    * Shape: each row gets a hash block r ∈ [0, B); the left side is
    * replicated across grid keys (r, 0..B-1), the right across (0..B-1, r),
    * and the join is an EQUI-join on (ra, rb). Every unordered pair meets
    * in exactly one task after the a<b filter (pair (x,y) co-occurs at
    * (r_x, r_y) and (r_y, r_x); the id filter keeps one). Total shuffle is
    * 2nB rows, each of the B² tasks scores n²/B² pairs — flat parallelism,
    * no broadcast, no nested loop; B scales with cluster size.
    *
    * The join is PINNED to the shuffled-hash shape (like the salted skew
    * join): when the replicated sides fit under the broadcast threshold,
    * AQE otherwise rewrites the grid join into a BroadcastHashJoin whose
    * streamed side is the raw parquet scan — a small corpus is one file,
    * one input partition, so every one of the n²/2 pair scorings lands in
    * a SINGLE task and the B² grid parallelism silently disappears
    * (measured at sf0.1: 1.9 s single-task vs ~0.2 s shuffled). The
    * shuffle the hint forces is 2nB grid rows — the cost the operator's
    * scale analysis already budgets. */
  def nearDupPairsBlocked(emb: DataFrame, threshold: Double, blocks: Int = 8,
                          idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val base = emb.select(col(idCol), col(vecCol),
      l2Norm(col(vecCol)).as("nrm"),
      pmod(crc32(col(idCol).cast("string")), lit(blocks)).cast("int").as("blk"))
    val grid = explode(sequence(lit(0), lit(blocks - 1)))
    val left = base.select(col(idCol).as("a"), col(vecCol).as("va"), col("nrm").as("na"),
      col("blk").as("ra"), grid.as("rb"))
    val right = base.select(col(idCol).as("b"), col(vecCol).as("vb"), col("nrm").as("nb"),
      grid.as("ra"), col("blk").as("rb"))
    left.hint("shuffle_hash").join(right, Seq("ra", "rb"))
      .filter(col("a") < col("b"))
      .withColumn("cos", safeCos(col("va"), col("vb"), col("na"), col("nb")))
      .filter(col("cos") >= threshold)
      .select("a", "b", "cos")
  }

  /** SemDeDup-style semantic dedup pairs (Abbas et al. 2023,
    * arXiv:2303.09540): quantize the corpus into k-means cells (the
    * memoized IVF coarse quantizer — assignment is a map-side transform
    * against broadcast centroids), then score exact cosine ONLY within
    * each cell. Work drops from n²/2 to Σ|cell|²/2 (≈ n²/2k balanced) at
    * the cost of missing cross-cell pairs — an APPROXIMATE operator whose
    * recall the caller must check (q_semantic_dedup certifies it against
    * the exact grid join in-plan).
    *
    * The intra-cell join is pinned shuffle-hash for the same reason as
    * [[nearDupPairsBlocked]]: AQE would broadcast one side and serialize
    * all pair scoring into the streamed side's (few) scan tasks. At
    * 100 TB the cells come from the persisted quantizer, the corpus is
    * stored partitioned by cell (same layout as the IVF index), and a
    * hot cell is grid-split exactly like the exact join splits the whole
    * corpus. */
  def semanticDedupPairs(emb: DataFrame, threshold: Double,
                         km: org.apache.spark.ml.clustering.KMeansModel,
                         passign: Int = 2,
                         idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // multi-assignment: each vector lands in its `passign` nearest cells
    // via the SHARED probeCells helper (the one definition of the probe
    // metric — a re-implementation here had already diverged on centroid
    // norm precision), so a pair is found if ANY cell is shared —
    // boundary pairs split across two cells are the dominant recall loss
    // of single-assignment blocking. Work is ≈ p²·n²/2k balanced, vs
    // n²/2 exact.
    val assigned = probeCells(emb.sparkSession, emb, km, passign, idCol, vecCol)
    val l = assigned.select(col("cell"), col("query_id").as("a"), col("qv").as("va"), col("qn").as("na"))
    val r = assigned.select(col("cell"), col("query_id").as("b"), col("qv").as("vb"), col("qn").as("nb"))
    l.hint("shuffle_hash").join(r, Seq("cell"))
      .filter(col("a") < col("b"))
      .withColumn("cos", safeCos(col("va"), col("vb"), col("na"), col("nb")))
      .filter(col("cos") >= threshold)
      // a pair sharing BOTH probe cells meets twice — cos is identical,
      // so a plain distinct collapses the duplicates
      .select("a", "b", "cos")
      .distinct()
  }

  /** APPROXIMATE near-dup pairs via banded hyperplane LSH: `bands`
    * independent bands of `planesPerBand` hyperplanes each; a pair is a
    * candidate iff it shares any band's full sign pattern, then exact
    * cosine verifies. Miss probability for a pair at angle θ is
    * (1-(1-θ/π)^r)^b — effective for high thresholds (cos ≥ 0.8 → θ ≤ 37°,
    * r=4, b=8 → miss < 2%); see [[nearDupPairsBlocked]] for why low
    * thresholds need the exact path. Candidate work is bounded by bucket
    * collisions (equi-join on band key), never all-pairs. */
  def nearDupPairsLsh(emb: DataFrame, threshold: Double,
                      bands: Int = 8, planesPerBand: Int = 4,
                      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val keys = (0 until bands).map { b =>
      val key = graft.plans.HyperplaneBuckets(col(vecCol), b * planesPerBand, planesPerBand)
      struct(lit(b).as("band"), key.as("key"))
    }
    val bucketed = emb.select(col(idCol), col(vecCol), l2Norm(col(vecCol)).as("nrm"),
      explode(array(keys: _*)).as("bk"))
      .select(col(idCol), col(vecCol), col("nrm"), col("bk.band"), col("bk.key"))
    val l = bucketed.select(col("band"), col("key"),
      col(idCol).as("a"), col(vecCol).as("va"), col("nrm").as("na"))
    val r = bucketed.select(col("band"), col("key"),
      col(idCol).as("b"), col(vecCol).as("vb"), col("nrm").as("nb"))
    l.join(r, Seq("band", "key"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        (safeCos(col("va"), col("vb"), col("na"), col("nb"))).as("cos"))
      // threshold BEFORE distinct: only qualifying pairs pay the dedup
      // shuffle (the optimizer can push a grouping-column predicate
      // through the distinct, but write the intended order explicitly).
      // A pair colliding in several bands is scored once per collision —
      // deliberate: deduping candidates first would shuffle the wide
      // vector columns instead of (a, b, cos), and a 64-dim codegen'd
      // dot is cheaper than shipping 2×64 floats per candidate
      .filter(col("cos") >= threshold)
      .distinct()
  }
}
