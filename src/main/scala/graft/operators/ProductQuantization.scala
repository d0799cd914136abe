package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** Product-quantization ANN (Jégou, Douze, Schmid: "Product Quantization
  * for Nearest Neighbor Search", TPAMI 2011) — the compressed-domain tier
  * of the similarity stack, beside brute force, LSH, and IVF
  * (BASELINE.json north star; no counterpart in the reference).
  *
  * The corpus is encoded once: the d-dim embedding splits into `m`
  * subvectors of d/m dims, each quantized to the nearest of `ksub`
  * per-subspace centroids, so a vector becomes `m` small codes
  * (m·log2(ksub) bits — for d=64 floats, m=8, ksub=16 that is 256 bytes →
  * 8 nibbles, a 64× compression). A query then scans CODES, not vectors:
  * it builds an m×ksub lookup table of partial squared distances once
  * (asymmetric distance computation, ADC) and scores each corpus code in
  * m table lookups. The top `rerank` ADC candidates per query — a set
  * bounded by |queries|·rerank, independent of corpus size — are joined
  * back to full-precision vectors for an exact cosine rerank.
  *
  * Scale design (the reason PQ exists at 100 TB):
  *  - fit: m driver-paced KMeans fits on a SAMPLE — same artifact
  *    discipline as [[Similarity.fitQuantizer]]; the model is m·ksub·d/m
  *    floats of driver metadata, broadcast as plan literals.
  *  - encode: pure map-side (argmin over ksub literal centroids through
  *    the codegen'd [[graft.plans.DotProduct]]) — no shuffle; at scale the
  *    codes land beside the vectors as a persisted artifact column.
  *  - ADC scan: BroadcastNestedLoopJoin of the bounded query set against
  *    the CODES-ONLY projection — the scan reads m bytes per row where
  *    brute force reads d floats; the lookup sum is m unrolled
  *    `element_at` terms, no higher-order functions.
  *  - candidate cut: per-query rank over ADC distance plans as
  *    WindowGroupLimit (map-side partial top-k before the exchange), so
  *    the only shuffle in the pipeline carries ≤ |q|·rerank·partitions
  *    pre-pruned rows.
  *  - rerank: the candidate set broadcasts back against the corpus for
  *    full-precision cosine — one hash join, corpus-side scan untouched
  *    by |queries|.
  * IVF-PQ composition (cell-partitioned codes probed via
  * [[Similarity.probeCells]]) is the same two pieces glued on `cell`.
  * One artifact serves every indexed tier: [[writeAnnIndex]] lands the
  * corpus partitioned by IVF cell with `pq_code` beside each vector,
  * and [[readAnnIndex]] checks both the codebook and the quantizer
  * identity before handing back the relation.
  */
object ProductQuantization {

  /** Per-subspace codebooks: `centroids(j)(c)` is the d/m-dim centroid
    * `c` of subspace `j`; `dsub` = d/m. Driver metadata (m·ksub·dsub
    * floats), entered into plans as literals. */
  final case class PqModel(dsub: Int, centroids: Vector[Array[Array[Float]]]) {
    def m: Int = centroids.length
    def ksub: Int = centroids.head.length

    /** md5 over (dsub, every centroid float in order) — the fit's
      * identity. Persisted in the index meta and re-checked on read, so
      * a codes artifact can never be silently consumed with a codebook
      * it was not encoded under (stale ADC distances LOOK fine — recall
      * just collapses — which is why the guard must be loud). */
    def fingerprint: String = md5 { out =>
      out.writeInt(dsub)
      centroids.foreach(_.foreach(_.foreach(out.writeFloat)))
    }
  }

  /** Fit per-subspace codebooks on a BOUNDED in-driver training sample
    * (same sample-then-fit artifact discipline as
    * [[Similarity.fitQuantizer]], taken to its honest conclusion:
    * production PQ systems — FAISS among them — train codebooks on an
    * in-memory sample of at most ~10⁵ vectors regardless of corpus
    * size, because codebook quality saturates long before the corpus is
    * exhausted). ONE distributed pass validates dimensions and collects
    * ≤ `trainCap` sampled vectors; the m seeded Lloyd fits then run in
    * driver memory (m·ksub·dsub centroids over ≤ trainCap points —
    * microseconds-to-milliseconds of arithmetic, where the previous m
    * concurrent Spark-ML KMeans runs paid seconds of per-iteration job
    * scheduling for identical-quality codebooks; RecallProbe re-measured
    * 2026-08-13 after the switch: 0.89/0.90/0.75 across SFs vs
    * 0.90/0.92/0.78 before — the floor moved 0.72 → 0.69 with the
    * 0.06-under-minimum policy). At 100 TB the
    * `sampleFraction` knob keeps the collect bounded BEFORE the cap:
    * sample distributed, cap as the last defense. */
  def fitPq(corpus: DataFrame, m: Int = 8, ksub: Int = 16,
            sampleFraction: Double = 1.0,
            vecCol: String = "embedding", maxIter: Int = 10,
            trainCap: Int = 65536): PqModel = {
    // one aggregate pass both rejects an empty corpus and catches
    // ragged vector lengths (a short row would otherwise encode against
    // a truncated slice and produce a WRONG code, not a failure)
    val dims = corpus.agg(min(size(col(vecCol))).as("lo"), max(size(col(vecCol))).as("hi"),
        count(lit(1)).as("n"))
      .head()
    require(!dims.isNullAt(0), "fitPq: corpus is empty")
    val dim = dims.getInt(0)
    require(dim == dims.getInt(1),
      s"fitPq: ragged embedding lengths [${dims.getInt(0)}, ${dims.getInt(1)}] — " +
        "every vector must share one dimension")
    require(dim % m == 0, s"embedding dim $dim must be divisible by m=$m")
    require(ksub >= 2, s"ksub must be at least 2, got $ksub")
    val dsub = dim / m
    val nRows = dims.getLong(2)
    // capped-draw target: aim the EXPECTED sample a few binomial sigmas
    // UNDER the cap (0.98·cap ≈ cap − 5σ for cap = 65536), so the
    // limit() below is a genuinely never-binding defense. The earlier
    // 1.1·cap OVERsample guaranteed the opposite: the expected sample
    // exceeded the cap, limit() truncated the sampled stream at ~91%,
    // and the trailing region of a time/cluster-ordered corpus was
    // deterministically excluded from training — exactly the
    // clustered-layout bias these branches exist to prevent. Trading a
    // ~2% smaller training sample for unbiasedness is the right side of
    // that bargain (codebook quality saturates well below the cap).
    val capTarget = trainCap * 0.98
    val sampled =
      if (sampleFraction < 1.0) {
        // an explicit sample can STILL exceed trainCap on a big corpus;
        // re-sample it down toward the under-cap target (nRows makes
        // the expected sample size computable)
        val expected = nRows * sampleFraction
        val base = corpus.sample(withReplacement = false, sampleFraction, seed = 42)
        if (expected > capTarget)
          base.sample(withReplacement = false,
            math.min(1.0, capTarget / expected), seed = 43)
        else base
      }
      else if (nRows <= trainCap) corpus
      else {
        // an UNBIASED capped draw, not a scan-order prefix: a corpus laid
        // out by source/time/cluster (the common layout) would otherwise
        // train codebooks on its leading region only and quantize the
        // rest poorly — invisibly, since small fixtures sit under the
        // cap. The count is already paid by the validation aggregate.
        corpus.sample(withReplacement = false,
          math.min(1.0, capTarget / nRows), seed = 42)
      }
    // limit() after the seeded sample is only the hard cap defense
    val train: Array[Array[Float]] = sampled
      .filter(col(vecCol).isNotNull) // NULL vectors train nothing (r18)
      .select(col(vecCol).cast("array<float>").as("__v"))
      .limit(trainCap)
      .collect()
      .map(_.getSeq[Float](0).toArray)
    val fits = (0 until m).map { j =>
      val sub = train.map(v => java.util.Arrays.copyOfRange(v, j * dsub, (j + 1) * dsub))
      lloyd(sub, ksub, maxIter, seed = 42 + j)
    }
    PqModel(dsub, fits.toVector)
  }

  /** Seeded in-driver Lloyd iterations for one subspace: deterministic
    * point-sample init (distinct indices), squared-Euclidean assignment,
    * mean update; an emptied cluster reseeds to the point farthest from
    * its assigned centroid (the standard repair, keeps k clusters
    * without a restart). Bounded by maxIter · n · k · d arithmetic —
    * trivially small for codebook training inputs. */
  private def lloyd(points: Array[Array[Float]], k: Int, maxIter: Int,
                    seed: Long): Array[Array[Float]] = {
    val n = points.length
    val d = points.head.length
    val rng = new scala.util.Random(seed)
    val initIdx = rng.shuffle((0 until n).toVector).take(math.min(k, n))
    // fewer distinct points than k: duplicate-pad (degenerate but legal;
    // encode argmin just never picks the padded copies)
    val cents = Array.tabulate(k)(c => points(initIdx(c % initIdx.size)).clone())
    val assign = new Array[Int](n)
    def d2(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < d) { val x = a(i) - b(i); s += x * x; i += 1 }
      s
    }
    for (_ <- 0 until maxIter) {
      var i = 0
      while (i < n) {
        var best = 0; var bd = Double.MaxValue; var c = 0
        while (c < k) {
          val dd = d2(points(i), cents(c))
          if (dd < bd) { bd = dd; best = c }
          c += 1
        }
        assign(i) = best
        i += 1
      }
      val sums = Array.fill(k)(new Array[Double](d))
      val cnts = new Array[Int](k)
      i = 0
      while (i < n) {
        val c = assign(i); cnts(c) += 1
        var t = 0
        while (t < d) { sums(c)(t) += points(i)(t); t += 1 }
        i += 1
      }
      var c = 0
      while (c < k) {
        if (cnts(c) > 0) {
          var t = 0
          while (t < d) { cents(c)(t) = (sums(c)(t) / cnts(c)).toFloat; t += 1 }
        }
        c += 1
      }
      // reseed EMPTY clusters to the worst-fit points, each to a
      // DIFFERENT point (ranked by descending distance-to-own-centroid):
      // reseeding every empty cluster to the single globally-worst point
      // would ship duplicate centroids when two clusters empty in the
      // same pass, silently shrinking the effective ksub
      val empties = (0 until k).filter(cnts(_) == 0)
      if (empties.nonEmpty) {
        val ranked = (0 until n).sortBy(i => -d2(points(i), cents(assign(i))))
        empties.zipWithIndex.foreach { case (c2, r) =>
          cents(c2) = points(ranked(r % n)).clone()
        }
      }
    }
    cents
  }

  /** Rank-equivalent squared distance from subvector `j` of `vec` to
    * centroid `c`: ‖c‖² − 2·v_j·c. The dropped ‖v_j‖² term is constant
    * across the ksub candidates of one (row, subspace), so the argmin —
    * and any sum over fixed j — is unchanged; the same convention as
    * [[Similarity.probeCells]]. */
  private def partialD2(vec: Column, j: Int, cc: Array[Float], dsub: Int): Column = {
    val cn2 = cc.map(x => x.toDouble * x.toDouble).sum
    lit(cn2) - lit(2.0) * dot(slice(vec, j * dsub + 1, dsub), typedlit(cc.toSeq))
  }

  /** Code of subspace `j`: argmin over the ksub literal centroids,
    * deterministic (ties break toward the lower code). */
  private def codeExpr(vec: Column, j: Int, model: PqModel): Column = {
    val cands = model.centroids(j).zipWithIndex.map { case (cc, c) =>
      struct(partialD2(vec, j, cc, model.dsub).as("d2"), lit(c).as("c"))
    }
    element_at(array_sort(array(cands.toIndexedSeq: _*)), 1).getField("c")
  }

  /** The full m-code array for one vector column (shared by
    * [[pqEncode]] and the single-pass cell+code derivation of
    * [[writeAnnIndex]] and [[ivfPqTopK]]). */
  private def codesExpr(vec: Column, model: PqModel): Column =
    array((0 until model.m).map(j => codeExpr(vec, j, model)): _*)

  /** Map-side PQ encoding: id + `pq_code` array<int> of length m. */
  def pqEncode(corpus: DataFrame, model: PqModel,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    corpus.filter(col(vecCol).isNotNull)
      .select(col(idCol), codesExpr(col(vecCol), model).as("pq_code"))

  /** Write the session's ONE ANN artifact — the cell-partitioned IVF
    * layout with the PQ codes beside each vector, serving the indexed
    * IVF, PQ and IVF-PQ probes alike:
    *  - `<path>/data_<fp8>_<q8>` — PARTITIONED BY cell: (idCol, vecCol,
    *    `cn` norm, `pq_code`), one map-side pass (cell assignment and
    *    encode are projections of the same scanned row), so a probe
    *    reads nprobe/nlist of the files;
    *  - `<path>/model` — one row per (j, c) codebook centroid (m·ksub
    *    rows of driver metadata);
    *  - `<path>/meta` — one row (m, ksub, dsub, fit_hash,
    *    quantizer_hash): [[PqModel.fingerprint]] and
    *    [[quantizerFingerprint]].
    * The data dir is keyed by both identities and written FIRST: a
    * crashed or killed re-write over the same path leaves either the
    * old artifact intact (old meta still names the old data dir) or a
    * model/meta mismatch that [[readAnnIndex]] refuses — it can never
    * pair one fit's codes or cells with another fit's codebooks behind
    * a passing check.
    *
    * WRITE-ONCE PER SESSION per path: the caller memoizes the relation
    * [[readAnnIndex]] resolves, which pins the file listing; rebuild
    * into a fresh path (or a new session), never over a probed one. */
  def writeAnnIndex(corpus: DataFrame, km: org.apache.spark.ml.clustering.KMeansModel,
                    model: PqModel, path: String,
                    idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val fitHash = model.fingerprint
    val qHash = quantizerFingerprint(km)
    indexRows(corpus, km, model, idCol, vecCol)
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$path/data_${fitHash.take(8)}_${qHash.take(8)}")
    model.centroids.zipWithIndex.flatMap { case (cs, j) =>
      cs.zipWithIndex.map { case (cc, c) => (j, c, cc.toSeq) }
    }.toDF("j", "c", "centroid")
      .write.mode("overwrite").parquet(s"$path/model")
    Seq((model.m, model.ksub, model.dsub, fitHash, qHash))
      .toDF("m", "ksub", "dsub", "fit_hash", "quantizer_hash")
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Load a [[writeAnnIndex]] artifact for probing under quantizer `km`:
    * reconstruct the codebooks (driver-side read of m·ksub metadata
    * rows), check shape, the codebook fingerprint AND `km`'s identity
    * against the meta row, and return the model with the resolved
    * cell-partitioned relation. Each mismatch fails here, loudly:
    * stale ADC distances or cells from another quantizer LOOK fine —
    * recall just collapses. */
  def readAnnIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                   km: org.apache.spark.ml.clustering.KMeansModel): (PqModel, DataFrame) = {
    val metaRows = spark.read.parquet(s"$path/meta").collect()
    require(metaRows.length == 1, s"readAnnIndex: expected 1 meta row, got ${metaRows.length}")
    val meta = metaRows(0)
    val (m, ksub, dsub) = (meta.getAs[Int]("m"), meta.getAs[Int]("ksub"), meta.getAs[Int]("dsub"))
    val fitHash = meta.getAs[String]("fit_hash")
    val qHash = meta.getAs[String]("quantizer_hash")
    val rows = spark.read.parquet(s"$path/model").collect()
    require(rows.length == m * ksub,
      s"readAnnIndex: model table has ${rows.length} rows, meta says m*ksub = ${m * ksub}")
    val byJ = rows.map(r => (r.getAs[Int]("j"), r.getAs[Int]("c"),
        r.getAs[scala.collection.Seq[Float]]("centroid").toArray))
      .groupBy(_._1)
    val model = PqModel(dsub, (0 until m).map { j =>
      byJ(j).sortBy(_._2).map(_._3).toArray
    }.toVector)
    require(model.fingerprint == fitHash,
      s"readAnnIndex: codebook fingerprint ${model.fingerprint} != meta fit_hash $fitHash — " +
        "the model and meta tables come from different fits; refusing to serve garbage ADC distances")
    val probeHash = quantizerFingerprint(km)
    require(probeHash == qHash,
      s"readAnnIndex: probe quantizer fingerprint $probeHash != meta quantizer_hash $qHash — " +
        "the index was partitioned under a different coarse quantizer; refusing to probe the wrong cells")
    // the data dir is keyed by the verified identities, so cells or
    // codes from any other fit are unreachable by construction
    (model, spark.read.parquet(s"$path/data_${fitHash.take(8)}_${qHash.take(8)}"))
  }

  /** md5 over the coarse quantizer's shape and every centre coordinate
    * in order — its identity in the [[writeAnnIndex]] meta, the
    * [[PqModel.fingerprint]] discipline applied to the IVF half. */
  def quantizerFingerprint(km: org.apache.spark.ml.clustering.KMeansModel): String = md5 { out =>
    val cs = km.clusterCenters
    out.writeInt(cs.length)
    out.writeInt(cs.headOption.map(_.size).getOrElse(0))
    cs.foreach(_.toArray.foreach(out.writeDouble))
  }

  private def md5(write: java.io.DataOutputStream => Unit): String = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    write(out)
    out.flush()
    java.security.MessageDigest.getInstance("MD5")
      .digest(bos.toByteArray).map("%02x".format(_)).mkString
  }

  /** The [[writeAnnIndex]] row — (idCol, vecCol, cn, cell, pq_code) — in
    * ONE corpus pass: assignment and encode are both scan-local
    * projections of the same row, so deriving them separately and
    * equi-joining would shuffle the corpus against itself for nothing.
    * NULL vectors belong to no cell (the [[Similarity.fitQuantizer]]
    * contract). */
  private def indexRows(corpus: DataFrame,
                        km: org.apache.spark.ml.clustering.KMeansModel, model: PqModel,
                        idCol: String, vecCol: String): DataFrame = {
    import org.apache.spark.ml.functions.array_to_vector
    km.transform(corpus.filter(col(vecCol).isNotNull)
        .withColumn("__features", array_to_vector(col(vecCol))))
      .select(col(idCol), col(vecCol), l2Norm(col(vecCol)).as("cn"),
        col("__cell").as("cell"), codesExpr(col(vecCol), model).as("pq_code"))
  }

  /** ADC lookup table for one query row: `lut(j)(c)` = rank-equivalent
    * partial squared distance of query subvector j to centroid (j, c) —
    * Σ c² − 2·v_j·c, the [[partialD2]] math. m×ksub doubles, built
    * map-side on the (bounded) query side.
    *
    * Built with HOFs over ONE nested centroid literal rather than an
    * unrolled m×ksub tree of dot-product expressions: the unrolled form
    * generated 256 codegen'd dot nodes whose Janino compile dominated
    * the query's COLD rep (~1.3 s of the 2.8 s first execution). The
    * HOF form is interpreted, but it evaluates only on the bounded
    * query side (|q| rows) — the corpus-side ADC scan keeps its
    * codegen'd element_at sum untouched. */
  private def lutExpr(vec: Column, model: PqModel): Column = {
    val dsub = model.dsub
    val cents: Column = typedlit(
      model.centroids.map(_.map(_.map(_.toDouble).toSeq).toSeq).toSeq)
    transform(cents, (subC, j) =>
      transform(subC, cArr =>
        aggregate(
          zip_with(cArr, slice(vec, j * lit(dsub) + 1, lit(dsub)),
            (cc, vv) => cc * cc - lit(2.0) * cc * vv.cast("double")),
          lit(0.0), (acc, x) => acc + x)))
  }

  /** PQ ANN with exact rerank: ADC scan over codes → per-query top
    * `rerank` candidates → full-precision cosine on the candidate set →
    * top k. With `rerank` ≥ corpus size this IS brute force (asserted in
    * SimilaritySpec); smaller rerank trades recall for a codes-only scan.
    * Encodes inline — production callers write the codes beside the
    * vectors ONCE ([[writeAnnIndex]]) and use [[pqTopKFromCodes]] so the
    * scan genuinely reads codes, not vectors. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int, model: PqModel,
             rerank: Int = 20,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    pqTopKFromCodes(corpus, pqEncode(corpus, model, idCol, vecCol),
      queries, k, model, rerank, idCol, vecCol)

  /** [[pqTopK]] against a precomputed/persisted code table
    * (`(idCol, pq_code array<int>)` — the [[pqEncode]] output, or the
    * [[writeAnnIndex]] relation):
    * the artifact path, where the ADC scan touches only the codes and
    * `corpus` is read solely for the bounded candidate rerank. */
  def pqTopKFromCodes(corpus: DataFrame, codeTable: DataFrame,
                      queries: DataFrame, k: Int, model: PqModel,
                      rerank: Int = 20,
                      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(rerank >= k, s"rerank width $rerank must be at least k=$k")
    // ADC scan: codes-only projection × broadcast query LUTs. The code
    // length is guarded IN-PLAN: a codes table encoded under a different
    // m than the passed model would otherwise score on element_at nulls
    // — recall collapses with no error. (A same-m different-fit mismatch
    // is caught earlier by readAnnIndex's fingerprint check; this is the
    // last line of defense for hand-assembled code tables.)
    val codes = codeTable.select(col(idCol).as("neighbor_id"),
      when(size(col("pq_code")) === model.m, col("pq_code"))
        .otherwise(raise_error(concat(
          lit(s"pq_code length != m=${model.m} for id "), col(idCol).cast("string"),
          lit(" — codes were encoded under a different PqModel")))
          .cast("array<int>")).as("pq_code"))
    val qlut = queries.select(col(idCol).as("query_id"),
      lutExpr(col(vecCol), model).as("lut"))
    val cands = codes.crossJoin(broadcast(qlut))
      .transform(adcCandidates(model, rerank))
    rerankExact(cands, queries, corpus, k, idCol, vecCol)
  }

  /** IVF-PQ probe against a cell-keyed code table — `(idCol, cell,
    * pq_code)`, the [[writeAnnIndex]] schema, read back from disk or
    * derived inline: coarse probe prunes to nprobe cells, ADC scores
    * only their codes, shared exact-rerank tail. */
  def ivfPqTopKFromCellCodes(corpus: DataFrame, cellCodes: DataFrame,
                             queries: DataFrame, k: Int,
                             km: org.apache.spark.ml.clustering.KMeansModel, model: PqModel,
                             nprobe: Int = 4, rerank: Int = 20,
                             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(rerank >= k, s"rerank width $rerank must be at least k=$k")
    // probe cells and LUTs broadcast separately: the LUT is built (and
    // shipped) once per QUERY, not once per probed (query, cell) pair
    val cellsOnly = Similarity.probeCells(corpus.sparkSession, queries, km, nprobe,
      idCol, vecCol).select("query_id", "cell")
    val qlut = queries.select(col(idCol).as("query_id"),
      lutExpr(col(vecCol), model).as("lut"))
    val cands = cellCodes.select(col(idCol).as("neighbor_id"), col("cell"), col("pq_code"))
      .join(broadcast(cellsOnly), Seq("cell"))
      .join(broadcast(qlut), Seq("query_id"))
      .transform(adcCandidates(model, rerank))
    rerankExact(cands, queries, corpus, k, idCol, vecCol)
  }

  /** IVF-PQ: the coarse quantizer prunes the scan to nprobe cells
    * ([[Similarity.probeCells]] — the IVF probe path), the ADC lookup
    * scores only the probed cells' CODES, and the exact rerank runs on
    * the bounded survivor set. The two-level composition SCALE.md
    * promises, as an API: at 100 TB the codes live cell-partitioned
    * (the [[writeAnnIndex]] layout, `pq_code` beside the vector), a
    * probe reads nprobe/nlist of the files and 8 bytes per row. With
    * nprobe = nlist and full-width rerank this IS brute force (asserted
    * in SimilaritySpec — both pruning levels pass everything through).
    * Derives the code table inline — serving callers write the index
    * once and use [[ivfPqTopKFromCellCodes]]. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                km: org.apache.spark.ml.clustering.KMeansModel, model: PqModel,
                nprobe: Int = 4, rerank: Int = 20,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    ivfPqTopKFromCellCodes(corpus, indexRows(corpus, km, model, idCol, vecCol),
      queries, k, km, model, nprobe, rerank, idCol, vecCol)

  /** Shared ADC candidate cut: score (pq_code, lut) pairs with the m
    * unrolled lookup terms (stays inside whole-stage codegen) and keep
    * the per-query top `rerank` — plans as WindowGroupLimit. */
  private def adcCandidates(model: PqModel, rerank: Int)(pairs: DataFrame): DataFrame = {
    val adc = (0 until model.m).map { j =>
      element_at(element_at(col("lut"), j + 1), element_at(col("pq_code"), j + 1) + 1)
    }.reduce(_ + _)
    val wCand = Window.partitionBy("query_id").orderBy(col("adc_d2"), col("neighbor_id"))
    pairs
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc_d2", adc)
      .withColumn("crank", row_number().over(wCand))
      .filter(col("crank") <= rerank)
      .select("query_id", "neighbor_id")
  }

  /** Shared exact-rerank tail: candidates (≤ |q|·rerank rows) broadcast
    * back against full-precision vectors; query vectors ride the
    * candidate set. */
  private def rerankExact(cands: DataFrame, queries: DataFrame, corpus: DataFrame,
                          k: Int, idCol: String, vecCol: String): DataFrame = {
    val qvecs = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      l2Norm(col(vecCol)).as("qn"))
    val withQ = cands.join(qvecs, "query_id")
    val wTop = Window.partitionBy("query_id").orderBy(desc("cos"), col("neighbor_id"))
    corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"), l2Norm(col(vecCol)).as("cn"))
      .join(broadcast(withQ), "neighbor_id")
      .withColumn("cos", Similarity.safeCos(col("qv"), col("cv"), col("qn"), col("cn")))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cos", "rank")
  }
}
