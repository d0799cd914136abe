package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** Document deduplication operators for the training-data pipeline:
  * exact, MinHash+LSH, SimHash, and n-gram Jaccard (BASELINE.json north
  * star; no counterpart in the reference, which dedups only by calendar
  * day — scraper/main.py:69-77).
  *
  * Scale design: every stage is a scan + hash-partition aggregation.
  *  - exact: groupBy(fingerprint) — one shuffle on a 128-bit key.
  *  - MinHash: explode(tokens) → groupBy(doc) with k min-aggregates (one
  *    shuffle), then band keys → self-equi-join per bucket. The pairwise
  *    work is bounded by bucket size, never O(n²) over the corpus.
  *  - SimHash: same single-shuffle shape with 32 bit-vote aggregates.
  *  - Jaccard verify: shingle-join (MapReduce set-intersection) restricted
  *    to LSH candidates (or an explicit id bound for the oracle), so the
  *    exact check also stays linear in candidate count.
  * The md5-derived hash32 keys are uniform, so the groupBy shuffles have
  * no planted skew; at 100 TB the token explode is the widest stage and
  * is a pure map — it pipelines into the partial aggregation without
  * materializing.
  */
object Dedup {

  /** Exact dedup groups: normalized-content fingerprint → canonical
    * (minimum) doc id + multiplicity. */
  def exactGroups(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.groupBy(fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("cnt"))

  /** Distinct documents under exact dedup (keep the canonical row). */
  def exactDedup(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val keep = exactGroups(docs, idCol, textCol).select(col("canonical_id").as(idCol))
    docs.join(keep, idCol)
  }

  /** Fixed MinHash parameter family: h_i(t) = (a_i·hash32(t) + b_i) mod P.
    * a < 2^16 and hash32 < 2^32 keep the product inside a long. */
  val P = 2147483647L
  private val A = Seq(3L, 7L, 11L, 13L, 17L, 19L, 23L, 29L, 31L, 37L, 41L, 43L, 47L, 53L, 59L, 61L)
  private val B = Seq(1L, 5L, 9L, 15L, 21L, 27L, 33L, 39L, 45L, 51L, 57L, 63L, 69L, 75L, 81L, 87L)

  def minhashExpr(i: Int, hv: Column): Column = (lit(A(i)) * hv + lit(B(i))) % lit(P)

  /** DuckDB twin of [[minhashExpr]] (for oracle SQL generation). */
  def minhashSqlExpr(i: Int, hv: String = "hv"): String =
    s"(${A(i)} * $hv + ${B(i)}) % $P"

  /** Per-document MinHash signature: k columns mh0..mh{k-1}.
    * One explode + one partial-aggregated groupBy. */
  def minhashSignatures(docs: DataFrame, k: Int = 8,
                        idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(k <= A.length, s"at most ${A.length} hash functions")
    val tok = docs.select(col(idCol), explode(tokens(col(textCol))).as("t"))
      .withColumn("hv", hash32(col("t")))
    tok.groupBy(col(idCol))
      .agg(min(minhashExpr(0, col("hv"))).as("mh0"),
        (1 until k).map(i => min(minhashExpr(i, col("hv"))).as(s"mh$i")): _*)
  }

  /** Band-bucket rows (id, band, key) from a MinHash signature frame —
    * the ONE definition of the banding scheme, shared by the self-join
    * candidates ([[lshCandidates]]), the batch-vs-corpus candidates
    * ([[incrementalDedup]]), and mirrored by the band CTEs in the
    * oracle SQL; changing the band layout or key hash here is the only
    * way to change it anywhere. */
  def bandBuckets(sig: DataFrame, k: Int = 8, r: Int = 2, idCol: String = "doc_id"): DataFrame = {
    val bands = (0 until k / r).map { b =>
      struct(lit(b).as("band"),
        md5(concat_ws("_", (b * r until (b + 1) * r).map(i => col(s"mh$i")): _*)).as("key"))
    }
    sig.select(col(idCol), explode(array(bands: _*)).as("bk"))
      .select(col(idCol), col("bk.band"), col("bk.key"))
  }

  /** LSH candidate pairs: band the signature (k/r bands of r rows), bucket
    * by band hash, emit distinct (a<b) pairs sharing any bucket.
    *
    * The dedup stays a bare distinct() DELIBERATELY (r16, measured both
    * ways): pinning a repartition(a, b) + dropDuplicates here — the
    * incrementalDedup shape — blocks AQE's broadcast of the candidate
    * side of the verify joins above, flipping the whole jaccard verify
    * from broadcast-probe enumeration to sort/shuffle joins: 2-3×
    * better wall on the full-corpus ×10 curve but at a measured ~10×
    * total-CPU constant factor (72.8→36.2 s wall, 71.8→770 s CPU at 1×)
    * — the wrong trade for a 1000-executor cluster, where CPU is the
    * bill. The right parallelism lever for the byte-tiny/CPU-dense
    * candidate exchange is session-level: disable AQE partition
    * coalescing (spark.sql.adaptive.coalescePartitions.enabled=false —
    * the scale-curve study, `git show
    * f9c6fb8:src/main/scala/graft/ScaleCurve.scala`, adopted it after
    * measuring that a byte FLOOR cannot help: ~150 KB of signature
    * bytes spreads only 2-3 ways under a 64 KiB minPartitionSize).
    * That keeps the broadcast-probe plan byte-identical and restores
    * full-width execution; production volumes never need it because
    * their exchanges carry real bytes. */
  def lshCandidates(sig: DataFrame, k: Int = 8, r: Int = 2, idCol: String = "doc_id"): DataFrame = {
    val buckets = bandBuckets(sig, k, r, idCol)
    val l = buckets.select(col("band"), col("key"), col(idCol).as("a"))
    val rgt = buckets.select(col("band"), col("key"), col(idCol).as("b"))
    l.join(rgt, Seq("band", "key"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
  }

  /** Exact n-gram Jaccard similarity over (a<b) pairs.
    *
    * With `cands = Some(pairs)` the shingle-match enumeration is generated
    * FROM the candidate pairs (cands ⋈ shingles(a) ⋈ shingles(b)), so the
    * widest stage is O(|cands| · shingles-per-doc) — never the unfiltered
    * shingle self-join. This is the 100 TB path; LSH proposes, this
    * verifies. With `cands = None` it runs the full (a<b) self-join —
    * only for a bounded id range (oracle form).
    *
    * The per-document `sizes` table shuffles (sort-merge/AQE choice); it
    * is O(n_docs) rows and must NOT be broadcast at corpus scale.
    *
    * The shingle frame is consumed FOUR times (a-side match join, b-side
    * match join, `na` sizes, `nb` sizes). `repartition(idCol)` directly
    * above the scan→explode→distinct subtree pins an explicit, canonically-identical
    * Exchange under every consumer so ReuseExchange computes that
    * subtree once per execution; the distinct computes ONCE below the
    * reuse boundary, with its partial aggregate collapsing occurrence
    * multiplicity map-side (r15 measured and reverted two "fusions"
    * here — see the inline comment). The boundary
    * cannot be left to a distinct's own shuffle: AQE drops that
    * Exchange entirely when the input coalesces to one partition (the
    * bench-scale plan then rebuilt the whole subtree per consumer — 4
    * Generates, measured 2×+ on q_dedup_indexed), and at corpus scale
    * differing column pruning could de-canonicalize it per consumer (the
    * span-dedup r10 lesson). `sizes` counts `col("sh")` — never null by
    * construction, so it equals count(*) — instead of count(1) so the
    * pruned schema above the boundary stays (id, sh) for all four
    * consumers. The pinned shuffle is bounded by the (already
    * candidate-minority) shingle frame and buys back four recomputes. */
  def jaccardPairs(docs: DataFrame, n: Int, threshold: Double,
                   idCol: String = "doc_id", textCol: String = "text",
                   cands: Option[DataFrame] = None): DataFrame = {
    // explode → distinct → repartition, deliberately unchanged (r15
    // measured both "improvements" and reverted them): distinct()'s
    // PARTIAL HashAggregate already collapses occurrence multiplicity
    // map-side before the first wire, so pre-deduping inside the array
    // (array_distinct before the explode) buys nothing and adds
    // quadratic per-row work on long token arrays (the full-corpus
    // minhash 1× leg read 81-84 s with it vs 63.8-78.2 s without across
    // four same-day runs — the bands overlap at the edge, so the
    // theoretical per-row argument, not the wall delta, carries the
    // revert); and hoisting the dedup above
    // the pinned repartition (fusing the two Exchanges into one) makes
    // all four consumers recompute the aggregate over the full shingle
    // frame. distinct() also carries the redelivery contract: duplicate
    // doc rows under one id must collapse to one shingle set or a
    // redelivered self-pair's jaccard denominator hits zero.
    val sh = docs
      .select(col(idCol), explode(shingles(col(textCol), n)).as("sh"))
      .distinct()
      .repartition(col(idCol))
    val sizes = sh.groupBy(col(idCol)).agg(count(col("sh")).as("n"))
    val inter = cands match {
      case Some(c) =>
        // Pair enumeration bounded by the candidate set: for each proposed
        // (a,b), count shared shingles via two equi-joins. A pair with an
        // empty intersection drops out of the inner join — correct, since
        // its Jaccard is 0 < threshold.
        c.select(col("a"), col("b"))
          .join(sh.select(col(idCol).as("a"), col("sh")), "a")
          .join(sh.select(col(idCol).as("b"), col("sh")), Seq("b", "sh"))
          .groupBy("a", "b").agg(count(lit(1)).as("c"))
      case None =>
        sh.select(col(idCol).as("a"), col("sh"))
          .join(sh.select(col(idCol).as("b"), col("sh")), "sh")
          .filter(col("a") < col("b"))
          .groupBy("a", "b").agg(count(lit(1)).as("c"))
    }
    inter
      .join(sizes.select(col(idCol).as("a"), col("n").as("na")), "a")
      .join(sizes.select(col(idCol).as("b"), col("n").as("nb")), "b")
      .withColumn("jaccard", col("c") / (col("na") + col("nb") - col("c")).cast("double"))
      .filter(col("jaccard") >= threshold)
  }

  /** MinHash+LSH dedup end-to-end: candidates from [[lshCandidates]],
    * verified with exact 1-gram Jaccard *restricted to those candidates* —
    * the exact check enumerates shingle matches only for LSH-proposed
    * pairs, so total work is signatures (one shuffle) + banded buckets
    * (bounded by bucket size) + per-candidate verification. */
  def minhashDedupPairs(docs: DataFrame, k: Int = 8, r: Int = 2, threshold: Double = 0.8,
                        idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val cands = lshCandidates(minhashSignatures(docs, k, idCol, textCol), k, r, idCol)
    jaccardPairs(docs, 1, threshold, idCol, textCol, Some(cands))
  }

  /** Canonical dedup-group assignment: connected components over the
    * undirected (a, b) dup-pair graph by iterative min-label propagation
    * with pointer jumping (each node adopts the minimum label among
    * itself, its neighbours, AND its current label's label — so label
    * reach doubles per round and even adversarial chains converge in
    * O(log diameter) rounds; cf. the large-star/small-star MapReduce-CC
    * family).
    *
    * Each iteration is two equi-joins + one min-aggregation — ordinary
    * shuffles, executor-side; the driver sees only a per-iteration
    * converged-yet probe (take(1) on the changed-rows filter over the
    * already-checkpointed frame), never row data. Dup clusters are
    * near-cliques in practice, so the fixpoint lands in 2-3 iterations.
    * Returns (id, label) where label = the minimum doc id of the node's
    * component. Nodes touching no pair are absent — callers coalesce to
    * self. */
  def canonicalGroups(pairs: DataFrame, maxIters: Int = 64): DataFrame = {
    val edges = pairs.select(col("a"), col("b"))
      .union(pairs.select(col("b").as("a"), col("a").as("b")))
      .distinct()
      .cache()
    // localCheckpoint (eager) each round: iterative self-reference would
    // otherwise DOUBLE the logical plan per iteration (labels appears on
    // both sides of the propagation join) — lineage must be truncated,
    // not just cached.
    var labels = edges.select(col("a").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint(true)
    var iter = 0
    var converged = labels.isEmpty
    while (!converged && iter < maxIters) {
      // propagation pass, carrying the previous label as `old` so the
      // convergence probe is a flag scan over the round's checkpointed
      // partitions instead of a labels re-join + count job. Left LAZY:
      // the pointer jump's self-join duplicates this subtree in the
      // logical plan, but both sides shuffle identically and exchange
      // reuse collapses them at execution — one eager checkpoint per
      // round (on `jumped`) instead of two halves the driver-paced job
      // count of the loop, and lineage is still truncated every round.
      val prop = labels
        .join(
          edges
            .join(labels.select(col("id").as("b"), col("label").as("nl")), "b")
            .groupBy(col("a").as("id")).agg(min("nl").as("nmin")),
          Seq("id"), "left")
        .select(col("id"), col("label").as("old"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("label"))
      // pointer jump: also adopt the label OF the current label, so a
      // min label crosses 2^iter hops instead of one — chains converge
      // in O(log diameter) rounds rather than O(diameter)
      val jumped = prop
        .join(prop.select(col("id").as("label"), col("label").as("ll")), Seq("label"), "left")
        .select(col("id"), col("old"),
          least(col("label"), coalesce(col("ll"), col("label"))).as("label"))
        .localCheckpoint(true)
      converged = jumped.filter(col("label") =!= col("old")).isEmpty
      labels = jumped.select("id", "label")
      iter += 1
    }
    edges.unpersist()
    // a capped non-converged result is silently WRONG (mid-chain labels)
    // — refuse rather than return it. Pointer jumping doubles label
    // reach per round, so coverage is diameter ≤ 2^maxIters: the default
    // 64 converges for ANY graph (a 2^64-hop chain cannot exist), and
    // the throw only fires for callers who explicitly bound iterations.
    // Measured: a 5000-hop chain converges in 13 rounds (DedupSpec) —
    // the large-star/small-star alternative shares the same O(log d)
    // bound and would add a second code path for no asymptotic gain.
    if (!converged) {
      throw new IllegalStateException(
        s"canonicalGroups did not converge within $maxIters iterations — " +
          "component diameter exceeds the bound; raise maxIters")
    }
    labels
  }

  /** Incremental (batch-vs-corpus) dedup: classify each incoming batch
    * document against an existing corpus as `exact_dup` (normalized
    * fingerprint already present), `near_dup` (MinHash-LSH-proposed,
    * exact-Jaccard-verified against a corpus doc), or `new`;
    * `match_id` is the smallest corpus id matching under the winning
    * status (null for `new` — an exact dup reports its exact match even
    * if a lower-id near match also exists).
    *
    * This is the daily-ingest shape of the training-data pipeline: the
    * corpus is NOT re-deduped against itself — only batch×corpus checks
    * run. 100 TB shape: corpus fingerprints and MinHash band buckets are
    * precomputed artifacts (here derived inline from `corpus`); the
    * batch joins them on fp / (band, key) — those shuffles are sized by
    * the BATCH against index-shaped corpus artifacts — and the exact
    * Jaccard verification stage shingles ONLY candidate-participating
    * docs (semi-join on the candidate id set), so the verify is bounded
    * by the candidate set as in [[minhashDedupPairs]], never a
    * corpus-wide shingle shuffle.
    *
    * Requires corpus and batch id spaces to be disjoint (it returns
    * per-batch-id rows keyed by `idCol`; an overlapping id would make
    * the verification union carry two docs under one id and silently
    * merge their shingle sets, corrupting jaccard). With
    * `checkDisjoint` (default on) the precondition is ENFORCED in-plan:
    * the output's status column raises a named error on the first
    * overlapping id instead of returning wrong classifications
    * (ADVICE r5). The guard is one extra left join on the corpus id
    * column — O(|corpus ids|) shuffle, trivial next to the shingle
    * stages here, but a production caller re-running daily against a
    * 100 TB corpus whose id discipline is already enforced upstream can
    * pass `checkDisjoint = false` to skip it. */
  def incrementalDedup(corpus: DataFrame, batch: DataFrame,
                       k: Int = 8, r: Int = 2, threshold: Double = 0.8,
                       idCol: String = "doc_id", textCol: String = "text",
                       checkDisjoint: Boolean = true): DataFrame = {
    val fpCorpus = corpus.select(fingerprint(col(textCol)).as("fp"), col(idCol).as("corpus_id"))
    // band buckets on the corpus side (the shared banding scheme);
    // candidates are strictly batch×corpus
    val corpusBands = bandBuckets(minhashSignatures(corpus, k, idCol, textCol), k, r, idCol)
      .select(col("band"), col("key"), col(idCol).as("corpus_id"))
    incrementalClassify(fpCorpus, corpusBands,
      corpus.select(col(idCol), col(textCol)), batch,
      k, r, threshold, idCol, textCol, checkDisjoint)
  }

  /** Classification core shared by [[incrementalDedup]] (corpus-side
    * artifacts derived inline) and [[incrementalDedupIndexed]] (read
    * from the persisted bucketed index): identical output by
    * construction. Corpus-side inputs: `fpCorpus(fp, corpus_id)`,
    * `corpusBands(band, key, corpus_id)`, `corpusDocs(idCol, textCol)`. */
  private def incrementalClassify(fpCorpus: DataFrame, corpusBands: DataFrame,
                                  corpusDocs: DataFrame, batch: DataFrame,
                                  k: Int, r: Int, threshold: Double,
                                  idCol: String, textCol: String,
                                  checkDisjoint: Boolean): DataFrame = {
    // broadcast discipline (r14 tail shave): the BATCH side is small BY
    // NATURE (a daily batch probes a standing corpus — the corpus side
    // is the 100 TB one and must stream), and candidate/exact/near
    // frames are batch-bounded. Post-aggregate size estimates are
    // unknown to the planner, so without hints these tiny sides plan as
    // shuffle joins — at fixture scale the query was 30 sequential
    // single-task stages of pure scheduling latency (JobCount).
    val exact = broadcast(
      batch.select(col(idCol), fingerprint(col(textCol)).as("fp")))
      .join(fpCorpus, "fp")
      .groupBy(col(idCol)).agg(min(col("corpus_id")).as("exact_id"))
    val batchBands = bandBuckets(minhashSignatures(batch, k, idCol, textCol), k, r, idCol)
    // the candidate set feeds the verification join AND both sides of
    // the semi-join bound (three consumers); `repartition(a, b)` pins an
    // explicit Exchange whose partition keys reference every output
    // column, so no consumer's pruning can de-canonicalize it and
    // ReuseExchange computes the band-join subtree once per execution
    // (each consumer re-runs only the cheap partition-local pair dedup
    // above the reused shuffle). A bare distinct's own shuffle cannot
    // serve as the boundary: AQE deletes it when the input coalesces to
    // one partition (the bench-scale plan then re-ran the band join per
    // consumer). A production job would persist the candidate table as
    // an artifact anyway; this is the in-plan equivalent.
    // batch bands broadcast (batch-side small by nature); the corpus
    // band table streams — at 100 TB it is the bucketed index scan
    // repartition FIRST, then dedup: hash-partitioning on (a, b) already
    // satisfies the dedup aggregate's clustering requirement, so the
    // dropDuplicates plans with NO second Exchange — one pinned shuffle
    // where distinct().repartition() paid two back-to-back (r15 DAG-depth
    // surgery; each fused Exchange is one fewer sequential AQE stage).
    // Pre-dedup volume across the pinned shuffle is bounded at ≤ 4× the
    // distinct pairs (a pair can share at most the k/r = 4 band buckets),
    // a fixed constant — unlike the jaccardPairs shingle frame, whose
    // unbounded occurrence multiplicity keeps its dedup in distinct()'s
    // map-side partial HashAggregate BELOW its reuse boundary instead
    // (see jaccardPairs; the same fusion was tried there and reverted).
    val cands = corpusBands.select(col("band"), col("key"), col("corpus_id").as("a"))
      .join(broadcast(
        batchBands.select(col("band"), col("key"), col(idCol).as("b"))),
        Seq("band", "key"))
      .select("a", "b")
      .repartition(col("a"), col("b"))
      .dropDuplicates()
    // exact verification: jaccardPairs never reorders cands, so
    // orientation stays (a=corpus, b=batch) regardless of id values.
    // Shingle only candidate-PARTICIPATING docs (semi-join on the
    // candidate id set): per-doc shingle sets and sizes are intrinsic to
    // each doc, so restricting the frame cannot change any candidate's
    // jaccard — it only drops work for docs no candidate touches, which
    // at corpus scale is nearly all of the corpus
    // candidate ids are NOT batch-bounded: the corpus-side `a` ids are
    // bounded by band-bucket match volume, so a hot band bucket on a
    // boilerplate-heavy corpus can make this set corpus-scale. No
    // broadcast hint — AQE broadcasts when the runtime size allows and
    // falls back to a shuffled semi-join when it doesn't, which is the
    // only shape that survives the hot-bucket case at 100 TB.
    // no distinct on the probe side: left_semi is idempotent over probe
    // duplicates, so deduplicating candIds would buy nothing but one
    // more Exchange stage (r15)
    val candIds = cands.select(col("a").as(idCol))
      .union(cands.select(col("b").as(idCol)))
    val verifyDocs = corpusDocs.unionByName(batch.select(col(idCol), col(textCol)))
      .join(candIds, Seq(idCol), "left_semi")
    val near = jaccardPairs(verifyDocs, 1, threshold, idCol, textCol, Some(cands))
      .groupBy(col("b").as(idCol)).agg(min(col("a")).as("near_id"))
    val statusCol = when(col("exact_id").isNotNull, lit("exact_dup"))
      .when(col("near_id").isNotNull, lit("near_dup"))
      .otherwise(lit("new"))
    // exact/near are per-batch-doc aggregates — broadcast-right lookups
    val base = batch.select(col(idCol))
      .join(broadcast(exact), Seq(idCol), "left")
      .join(broadcast(near), Seq(idCol), "left")
    if (!checkDisjoint)
      base.select(col(idCol), statusCol.as("status"),
        coalesce(col("exact_id"), col("near_id")).as("match_id"))
    else
      // the guard rides the status column (a plain assertion column
      // would be pruned as unreferenced): any batch id also present in
      // the corpus raises before a classification can be emitted. No
      // distinct on the corpus ids: idCol is the doc key (unique per
      // side by this operator's own precondition), and even a
      // hypothetical corpus-internal dup id could only duplicate a base
      // row that raises anyway — the defensive dedup bought one extra
      // Exchange stage for nothing (r15)
      base
        .join(corpusDocs.select(col(idCol)).withColumn("__corpus_id", lit(1)),
          Seq(idCol), "left")
        .select(col(idCol),
          when(col("__corpus_id").isNotNull,
            raise_error(concat(
              lit("incrementalDedup: corpus and batch id spaces must be disjoint; " +
                s"$idCol value present on both sides: "),
              col(idCol).cast("string"))))
            .otherwise(statusCol).as("status"),
          coalesce(col("exact_id"), col("near_id")).as("match_id"))
  }

  /** Persist the corpus side of [[incrementalDedup]] as BUCKETED tables —
    * the artifact a daily-ingest pipeline probes instead of re-deriving
    * fingerprints and band buckets from 100 TB of standing corpus on
    * every batch:
    *  - `<name>_fp(fp, corpus_id)` bucketed+sorted by fp,
    *  - `<name>_bands(band, key, corpus_id)` bucketed+sorted by (band, key),
    *  - `<name>_docs(id, text)` bucketed by id (the near-dup verify
    *    stage's shingle source),
    *  - `<name>_meta(k, r)` — one row recording the banding scheme so a
    *    probe with mismatched parameters fails loudly instead of
    *    silently missing candidates.
    * Bucketing makes the probe joins exchange-free on the corpus side:
    * only the batch (the small, daily side) shuffles into the bucket
    * layout (BucketingSpec proves the exchange elimination). Data lands
    * under `path` (external tables), metadata in the session catalog. */
  def writeCorpusIndex(corpus: DataFrame, name: String, path: String,
                       k: Int = 8, r: Int = 2, nBuckets: Int = 8,
                       idCol: String = "doc_id", textCol: String = "text"): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    corpus.select(fingerprint(col(textCol)).as("fp"), col(idCol).as("corpus_id"))
      .write.mode("overwrite").format("parquet").option("path", s"$path/${name}_fp")
      .bucketBy(nBuckets, "fp").sortBy("fp").saveAsTable(s"${name}_fp")
    bandBuckets(minhashSignatures(corpus, k, idCol, textCol), k, r, idCol)
      .select(col("band"), col("key"), col(idCol).as("corpus_id"))
      .write.mode("overwrite").format("parquet").option("path", s"$path/${name}_bands")
      .bucketBy(nBuckets, "band", "key").sortBy("band", "key").saveAsTable(s"${name}_bands")
    corpus.select(col(idCol), col(textCol))
      .write.mode("overwrite").format("parquet").option("path", s"$path/${name}_docs")
      .bucketBy(nBuckets, idCol).sortBy(idCol).saveAsTable(s"${name}_docs")
    Seq((k, r)).toDF("k", "r")
      .write.mode("overwrite").format("parquet").option("path", s"$path/${name}_meta")
      .saveAsTable(s"${name}_meta")
  }

  /** [[incrementalDedup]] probing a [[writeCorpusIndex]] artifact:
    * identical classification output (the shared [[incrementalClassify]]
    * core guarantees it), but the corpus side reads the pre-built
    * bucketed index — the fp and (band, key) probe joins consume
    * co-located buckets with no corpus-side exchange, and the verify
    * stage shingles only the candidate-matched slice of `<name>_docs`.
    * The banding scheme is validated against `<name>_meta` (driver-side
    * read of one metadata row, the bounded-collect precedent). */
  def incrementalDedupIndexed(spark: org.apache.spark.sql.SparkSession,
                              name: String, batch: DataFrame,
                              k: Int = 8, r: Int = 2, threshold: Double = 0.8,
                              idCol: String = "doc_id", textCol: String = "text",
                              checkDisjoint: Boolean = true): DataFrame = {
    val meta = spark.table(s"${name}_meta").collect()
    require(meta.length == 1 && meta(0).getInt(0) == k && meta(0).getInt(1) == r,
      s"incrementalDedupIndexed: index $name was built with (k, r) = " +
        s"${meta.map(m => (m.getInt(0), m.getInt(1))).mkString(",")}, " +
        s"probe requested ($k, $r) — band keys would not align and " +
        "candidates would be silently missed")
    incrementalClassify(
      spark.table(s"${name}_fp"),
      spark.table(s"${name}_bands"),
      spark.table(s"${name}_docs").toDF(idCol, textCol),
      batch, k, r, threshold, idCol, textCol, checkDisjoint)
  }

  /** Span-level exact-substring dedup (the Lee et al. 2022
    * "Deduplicating Training Data Makes Language Models Better" family,
    * token-granular variant): instead of dropping whole near-duplicate
    * documents, REMOVE every run of ≥ `L` consecutive tokens that also
    * appears in another document, keeping the copy in the lowest doc id
    * (the gram's "owner") — boilerplate, license headers, and quoted
    * passages vanish from later docs while each doc's unique prose
    * survives.
    *
    * Semantics (deterministic, oracle-checkable):
    *  - an L-token window is "duplicated" iff it occurs in ≥ 2 distinct
    *    docs (identity = 60-bit md5 of the space-joined tokens —
    *    [[graft.functions.TextFunctions.hash60]]; 32 bits would
    *    false-match at corpus scale);
    *  - in every doc EXCEPT the window's min-id owner, all L positions
    *    of every duplicated-window occurrence are removed; overlapping
    *    windows merge naturally via the coverage sweep;
    *  - output per doc: token count, removed count, and the cleaned
    *    text rebuilt from surviving tokens (single-space joined — the
    *    same whitespace collapse the token split implies).
    *
    * Scale shape: window hashes are built map-side with the zero-HOF
    * shingle shape (exploded start positions + codegen'd
    * concat_ws(slice) over the token array — no sort, no L× explode);
    * the duplicated-gram aggregate and the removal-start join are
    * wordcount-shaped on uniform 60-bit keys; the coverage sweep is a
    * running max in a per-doc window over the TOUCHED minority; the
    * rebuild is one groupBy(doc). Nothing is ever all-pairs, and no
    * stage holds more than one row per (doc, token position). */
  def spanDedup(docs: DataFrame, spanLen: Int = 5,
                idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    spanDedupOf(docs.select(col(idCol), tokens(col(textCol)).as("ts")), spanLen, idCol)

  /** [[spanDedup]] over a pre-tokenized frame `(idCol, ts:
    * array<string>)` — the shape the query layer memoizes
    * (TextStats.cachedDocTokens) so the regex split + parquet text
    * scan is paid once across the whole text-stats family instead of
    * once per query construction. */
  def spanDedupOf(tokArr: DataFrame, spanLen: Int = 5,
                  idCol: String = "doc_id"): DataFrame = {
    require(spanLen >= 2, s"spanDedup: span length must be at least 2, got $spanLen")
    // gram at each start: the zero-HOF shingle shape (explode the start
    // positions, concat_ws over a top-level slice — the measured-fastest
    // form, TextFunctions.shingleRows) rather than lead windows: the
    // lead form paid a full-corpus per-doc sort BEFORE any filtering,
    // which was the single heaviest stage of the r6 plan. Positions stay
    // 0-based to line up with the posexplode'd token table below; the
    // sequence bound (size - spanLen) keeps short-tail grams out without
    // a null-gate — a doc shorter than spanLen emits no grams at all.
    val grams = tokArr.select(col(idCol), col("ts"),
      explode(when(size(col("ts")) >= spanLen,
        sequence(lit(0), size(col("ts")) - spanLen))
        .otherwise(lit(null).cast("array<int>"))).as("pos"))
      .select(col(idCol), col("pos"),
        hash60(concat_ws(" ", slice(col("ts"), col("pos") + 1, lit(spanLen)))).as("gh"))
    // (gh, doc) grain first: within-doc occurrence positions of each
    // gram, bounded by doc length — never the per-gram corpus-wide list
    // a groupBy(gh).collect_list(doc) would risk on boilerplate grams.
    // repartition(gh) FIRST (r20 optimization): hashpartitioning(gh)
    // satisfies both the (gh, doc) aggregate's clustering AND the
    // dup-gram window's partitionBy(gh) below, so the plan holds ONE
    // exchange on the gram frame where groupBy(gh, doc) + window(gh)
    // paid two back-to-back (the incrementalClassify cands fusion,
    // applied here; `git show f9c6fb8:plans/r20/q_span_dedup_before.txt`
    // shows both).
    // Shuffle bytes are unchanged — collect_list partials carry every
    // position either way — and the per-gh partition bound is the same
    // docs-per-gram the window stage already had.
    val gdoc = grams.repartition(col("gh"))
      .groupBy(col("gh"), col(idCol))
      .agg(collect_list(col("pos")).as("poss"))
    // dup-gram facts (occurrence count, min-id owner) via WINDOW
    // functions over gdoc, not a separate aggregate + self-join: the
    // agg+join shape relied on AQE ReuseExchange to dedupe the
    // Exchange(gh, doc) under its two consumers, but Catalyst prunes
    // `poss` out of the count/min branch, the canonicalized subplans
    // stop matching, and reuse silently never fired (ADVICE r9;
    // verified in the executed plan) — so the gram explode + md5 hash
    // ran TWICE, the heaviest map work in the operator. The window
    // form has ONE gram computation by construction (PlanSpec asserts
    // exactly one gram Generate in the executed plan): gdoc shuffles
    // once more on gh for the window, but that exchange carries the
    // already-aggregated (gh, doc, poss) rows — strictly smaller than
    // re-running the explode — and the per-gh partition is bounded by
    // docs-per-gram exactly like the old dup aggregate was. nd is a
    // plain count because (gh, doc) rows are distinct by construction.
    val wg = Window.partitionBy("gh")
    // removal-start ARRAYS per doc: every non-owner occurrence of a
    // duplicated gram, kept at doc grain. flatten(collect_list) over the
    // per-(gh, doc) position lists is bounded by doc length — a doc
    // contributes at most one start per token position.
    val rsArr = gdoc
      .withColumn("nd", count(lit(1)).over(wg))
      .withColumn("owner", min(col(idCol)).over(wg))
      .filter(col("nd") >= 2 && col(idCol) =!= col("owner"))
      .groupBy(col(idCol))
      .agg(flatten(collect_list(col("poss"))).as("starts"))
    // The sweep + rebuild are per-doc work over the TOUCHED minority
    // (most of the corpus shares no duplicated run): ONE left doc-grain
    // join of the cached token arrays against the removal-start arrays,
    // then a map-side higher-order sweep — token p is removed iff some
    // removal window starting at s ≤ p still covers it (s + L - 1 ≥ p).
    // The HOF predicate is interpreted (non-codegen), but it is guarded
    // by the null test, so it evaluates only on touched docs ×
    // doc-length elements with per-doc start lists. The untouched
    // majority (null `starts` from the left join) is emitted by the
    // conditional's other arm: n_tokens and the whitespace-collapsed
    // text are definitionally what the sweep would produce at zero
    // removals. This used to be an inner-join + anti-join UNION, which
    // consumed rsArr twice — and because the anti branch pruned rsArr
    // to its id column, the two subplans canonicalized differently and
    // exchange reuse could not dedupe them: the whole gram pipeline ran
    // once per branch. The left join has ONE rsArr consumer by
    // construction.
    tokArr.join(rsArr, Seq(idCol), "left")
      .withColumn("keptIdx",
        when(col("starts").isNotNull,
          filter(sequence(lit(0), size(col("ts")) - 1),
            p => !exists(col("starts"),
              s => s <= p && s + lit(spanLen - 1) >= p))))
      .select(col(idCol),
        // coalesce: a NULL-text doc carries a NULL token array — its
        // span-dedup row reads 0 tokens (the oracle's occurrence
        // count), not NULL (hostile sweep r18)
        coalesce(size(col("ts")), lit(0)).cast("long").as("n_tokens"),
        when(col("keptIdx").isNotNull,
          (size(col("ts")) - size(col("keptIdx"))).cast("long"))
          .otherwise(lit(0L)).as("n_removed"),
        when(col("keptIdx").isNotNull,
          concat_ws(" ",
            transform(col("keptIdx"), i => element_at(col("ts"), i + 1))))
          .otherwise(concat_ws(" ", col("ts"))).as("clean_text"))
  }

  /** 32-bit SimHash: per-bit ±1 votes over token hashes, majority sign. */
  def simhash(docs: DataFrame, bits: Int = 32,
              idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    simhashOf(docs.select(col(idCol), explode(tokens(col(textCol))).as("t")), bits, idCol)

  /** [[simhash]] over exploded token rows `(idCol, t)` — lets callers
    * feed the shared memoized token frame instead of re-splitting the
    * corpus (explode from a cached array column is cheap; the regex
    * split is not). */
  def simhashOf(tokRows: DataFrame, bits: Int = 32,
                idCol: String = "doc_id"): DataFrame =
    simhashFromHv(tokRows.withColumn("hv", hash32(col("t"))), bits, idCol)

  /** 60-bit SimHash over exploded token rows — the WIDE variant the
    * round-14 scale curves prescribed: 32-bit signatures saturate
    * around ~50k vocabulary-correlated docs (candidate volume grows
    * quadratically once the fixed 256-bucket band space fills — the
    * measured SCALE_CURVES limit), while 60 bits banded 4×15 give
    * 32,768 buckets per band, pushing the same saturation four orders
    * of magnitude out. Per-token bits come from [[hash60]] (the span-
    * dedup gram-identity hash), so both engines decode ONE md5. */
  def simhashWideOf(tokRows: DataFrame, idCol: String = "doc_id"): DataFrame =
    simhashFromHv(tokRows.withColumn("hv", hash60(col("t"))), 60, idCol)

  /** Shared vote fold behind [[simhashOf]]/[[simhashWideOf]]: per-bit
    * ±1 vote sums over a frame already carrying the per-token hash
    * `hv`, signature bit j set when the vote is positive. */
  private def simhashFromHv(tok: DataFrame, bits: Int,
                            idCol: String): DataFrame = {
    require(bits >= 1 && bits <= 62, s"simhash bits must be in [1, 62], got $bits")
    val votes = tok.groupBy(col(idCol)).agg(
      sum(when(shiftright(col("hv"), 0).bitwiseAND(1) === 1, 1).otherwise(-1)).as("b0"),
      (1 until bits).map(j =>
        sum(when(shiftright(col("hv"), j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$j")): _*)
    votes.select(col(idCol),
      (0 until bits).map(j => when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L)))
        .reduce(_ + _).as("simhash"))
  }

  /** Hamming distance between two simhash longs. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Near-dup pairs by SimHash: bucket on 8-bit sub-bands (distance ≤ 3
    * over 32 bits guarantees one matching band by pigeonhole — 3 bit
    * errors can touch at most 3 of the 4 bands — so banded candidates +
    * Hamming verify equal the exact all-pairs answer, with NO recall
    * loss), verify Hamming. The self-join is pinned shuffle_hash: the
    * band frame is small enough that AQE would broadcast one side and
    * stream the other through its handful of input partitions,
    * serializing the candidate scoring (the q_embedding_neardup grid
    * lesson, Similarity.scala); the pinned shuffle spreads each (band,
    * key) bucket across reducers. */
  def simhashPairs(docs: DataFrame, maxDist: Int = 3,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // the 4×8-bit banding guarantees a shared band only for ≤ 3 bit
    // errors; a larger maxDist would SILENTLY lose recall (4 errors can
    // touch all 4 bands) — fail loudly instead, SQL-reachable via the
    // simhash_dedup TVF
    require(maxDist >= 0 && maxDist <= 3,
      s"simhashPairs: maxDist must be in [0, 3] (got $maxDist) — the 4-band×8-bit " +
        "bucketing guarantees exact recall only up to Hamming distance 3")
    simhashPairsFrom(simhash(docs, 32, idCol, textCol), maxDist, idCol)
  }

  /** [[simhashPairs]] on the WIDE 60-bit signature (4×15-bit bands) —
    * the corpus-scale form the round-14 SCALE_CURVES measurement
    * prescribes past ~50k docs; SQL-reachable as `simhash_wide_dedup`. */
  def simhashPairsWide(docs: DataFrame, maxDist: Int = 3,
                       idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    simhashPairsFrom(
      simhashWideOf(docs.select(col(idCol), explode(tokens(col(textCol))).as("t")), idCol),
      maxDist, idCol, bandBits = 15)

  /** The SAME 60-bit signature banded 3×20 bits — the step past the
    * wide form's measured ~6.4M-doc band-space bound (SCALE.md): 2^20 =
    * 1,048,576 buckets per band pushes collision domination out 32×
    * (~205M similarly-correlated docs by the same occupancy
    * arithmetic), trading one unit of guaranteed radius (3 bands are
    * pigeonhole-exact only to Hamming ≤ 2). The signature, tokenizer,
    * and md5 decode are [[simhashWideOf]]'s unchanged — only the band
    * arithmetic moves, so the brute-force oracle twin shares the
    * signature CTE verbatim. */
  def simhashPairsWide20(docs: DataFrame, maxDist: Int = 2,
                         idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    simhashPairsFrom(
      simhashWideOf(docs.select(col(idCol), explode(tokens(col(textCol))).as("t")), idCol),
      maxDist, idCol, bandBits = 20, nBands = 3)

  /** The banding + verify tail of [[simhashPairs]] over a precomputed
    * `(idCol, simhash)` signature frame (e.g. [[simhashOf]] over the
    * shared token frame). `bandBits` widens the band keys for wide
    * signatures (15 for [[simhashWideOf]]'s 60-bit form); `nBands`
    * trades guaranteed recall radius for band-space size on the SAME
    * signature: by pigeonhole, d bit errors can touch at most d bands,
    * so nBands bands guarantee a shared band exactly up to Hamming
    * distance nBands − 1. Fewer, wider bands push the measured
    * band-space saturation bound out exponentially (each extra band
    * bit doubles the bucket space — SCALE.md's occupancy arithmetic:
    * 4×15 saturates ~6.4M correlated docs, 3×20 ~205M) at the cost of
    * one unit of guaranteed radius. */
  def simhashPairsFrom(sh: DataFrame, maxDist: Int = 3,
                       idCol: String = "doc_id", bandBits: Int = 8,
                       nBands: Int = 4): DataFrame = {
    require(nBands >= 1 && nBands <= 8,
      s"simhashPairsFrom: nBands must be in [1, 8], got $nBands")
    require(maxDist >= 0 && maxDist <= nBands - 1,
      s"simhashPairsFrom: maxDist must be in [0, ${nBands - 1}] (got $maxDist) — the " +
        s"$nBands-band bucketing guarantees exact recall only up to Hamming distance ${nBands - 1}")
    require(bandBits >= 1 && nBands * bandBits <= 62,
      s"simhashPairsFrom: nBands*bandBits must fit a positive long signature " +
        s"(got $nBands x $bandBits = ${nBands * bandBits} > 62)")
    val mask = (1L << bandBits) - 1L
    val bands = sh.select(col(idCol), col("simhash"),
      explode(array((0 until nBands).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("simhash"), b * bandBits).bitwiseAND(mask).as("key"))): _*)).as("bk"))
      .select(col(idCol), col("simhash"), col("bk.band"), col("bk.key"))
    bands.select(col("band"), col("key"), col(idCol).as("a"), col("simhash").as("sa"))
      .hint("shuffle_hash")
      .join(bands.select(col("band"), col("key"), col(idCol).as("b"), col("simhash").as("sb")),
        Seq("band", "key"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"), hamming(col("sa"), col("sb")).as("dist"))
      .distinct()
      .filter(col("dist") <= maxDist)
  }

  /** Directed containment pairs: C(a→b) = |S(a) ∩ S(b)| / |S(a)| ≥
    * `threshold` over n-gram shingle sets, a ≠ b — the asymmetric
    * near-dup signal Jaccard structurally misses: a short document
    * wholly embedded in a long one has J = |a|/|b| (tiny) but
    * C(a→b) = 1, so MinHash-LSH banding (which estimates Jaccard)
    * never proposes the pair. Standard quote/boilerplate/excerpt
    * detection in corpus curation.
    *
    * Scale shape — prefix filtering (the SSJoin/PPJoin family, Xiao et
    * al. 2008), never the all-pairs join: C(a→b) ≥ t needs
    * |∩| ≥ ceil(t·|a|), so by pigeonhole b must contain at least one of
    * a's (|a| − ceil(t·|a|) + 1) RAREST shingles (global doc-frequency
    * order, shingle-string tie-break — both sides must agree on the
    * order, so it is computed once from the corpus-wide doc-frequency
    * aggregate). Candidates = prefix(a) ⋈ allShingles(b) on the shingle
    * — bounded by the doc lists of rare shingles, not by n². The filter
    * is EXACT (no false negatives); the verify stage computes the true
    * intersection over candidates only, the [[jaccardPairs]] cands
    * shape. Stages: shingle explode (map) → doc-frequency wordcount →
    * per-doc rank window (uniform doc keys) → rare-shingle equi-join →
    * candidate-bounded verify. Nothing all-pairs at any corpus size. */
  def containmentPairs(docs: DataFrame, n: Int = 3, threshold: Double = 0.6,
                       idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"containmentPairs: threshold must be in (0, 1] (got $threshold) — " +
        "at 0 the prefix is the whole shingle set and the join degenerates to all-pairs")
    // explode → distinct → PINNED repartition(id), the jaccardPairs
    // boundary recipe applied to this operator's SIX consumers (r21,
    // StageProf evidence): without the pin the distinct's final-merge
    // HashAggregate re-ran once per consumer (six ~60 ms single-task
    // merge stages over the same reused shuffle in the executed plan),
    // and only the raw exchange was shared. The pinned hash exchange on
    // the doc id is canonically identical under every consumer, so the
    // dedup computes ONCE below the reuse boundary — and id-partitioning
    // additionally serves `sizes`' groupBy(id) and `ranked`'s
    // window-partitionBy(id) with no further shuffle (guide §2.4 "two
    // operations keyed the same way share one exchange"). docFreq still
    // pays its own sh-keyed exchange, as it must.
    val sh = shingleRows(docs, n, idCol, textCol).distinct()
      .repartition(col(idCol))
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("na"))
    val docFreq = sh.groupBy("sh").agg(count(lit(1)).as("df"))
    // Exact prefix bound is na - ceil(t*na) + 1 == floor((1-t)*na) + 1, but
    // double arithmetic can land a hair off an exact integer product and
    // ceil/floor then round the prefix SHORT — the classic SSJoin float
    // edge, risking a missed qualifying pair. Nudge up before the floor so
    // any float error lengthens the prefix (a few extra candidates, still
    // exact) instead of shortening it. The nudge must scale with the
    // operand: a fixed 1e-9 is smaller than a double's ulp once (1-t)*na
    // passes ~4M shingles, so combine a relative 1e-12 factor (covers
    // large na, where rounding error is proportional to magnitude) with
    // the absolute 1e-9 floor (covers small na, where 1e-12·x underflows
    // below one ulp of the product).
    val prefixLen =
      (floor((lit(1.0) - lit(threshold)) * col("na") * lit(1.0 + 1e-12) + lit(1e-9))
        + 1).cast("int")
    val ranked = sh.join(docFreq, "sh")
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col(idCol)).orderBy(col("df"), col("sh"))))
      .join(sizes, idCol)
    val prefix = ranked.filter(col("rnk") <= prefixLen).select(col(idCol), col("sh"))
    val cands = prefix.select(col(idCol).as("a"), col("sh"))
      .join(sh.select(col(idCol).as("b"), col("sh")), "sh")
      .filter(col("a") =!= col("b"))
      .select("a", "b").distinct()
    val inter = cands
      .join(sh.select(col(idCol).as("a"), col("sh")), "a")
      .join(sh.select(col(idCol).as("b"), col("sh")), Seq("b", "sh"))
      .groupBy("a", "b").agg(count(lit(1)).as("c"))
    inter
      .join(sizes.select(col(idCol).as("a"), col("na")), "a")
      .withColumn("containment", col("c") / col("na").cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("a"), col("b"), col("containment"))
  }
}
