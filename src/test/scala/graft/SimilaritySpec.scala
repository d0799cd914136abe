package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.VectorFunctions._
import graft.operators.Similarity

class SimilaritySpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("cosine of identical vectors is 1, orthogonal is 0") {
    val d = Seq((Array(1.0f, 0.0f), Array(1.0f, 0.0f), Array(0.0f, 2.0f)))
      .toDF("a", "b", "c")
    val r = d.select(cosine($"a", $"b"), cosine($"a", $"c")).as[(Double, Double)].head()
    assert(math.abs(r._1 - 1.0) < 1e-12 && math.abs(r._2) < 1e-12)
  }

  test("native DotProduct expression is bit-identical to the composable form") {
    val emb = Tables.embeddings(spark, TestSpark.Sf).filter($"vec_id" < 50)
    val a = emb.select($"vec_id".as("a"), $"embedding".as("va"))
    val b = emb.select($"vec_id".as("b"), $"embedding".as("vb"))
    val diffs = a.join(b, $"a" < $"b")
      .select(dot($"va", $"vb").as("fast"), dotComposable($"va", $"vb").as("ref"))
      .filter($"fast" =!= $"ref")
      .count()
    assert(diffs == 0, s"$diffs pairs diverge between codegen and composable dot")
  }

  test("native HyperplaneBuckets is bit-identical to the composable sign packing") {
    val emb = Tables.embeddings(spark, TestSpark.Sf).limit(200)
    val composable = (0 until 8)
      .map(p => hyperplaneSign($"embedding", p).cast("long") * lit(1L << p))
      .reduce(_ + _)
    val diffs = emb
      .select(Similarity.bucketId("embedding", 8).as("fast"), composable.as("ref"))
      .filter($"fast" =!= $"ref")
      .count()
    assert(diffs == 0, s"$diffs vectors bucket differently")
  }

  test("embeddingDrift: orthogonal batch centroids read cos 0 / shift sqrt(2)") {
    // even ids all [1,0], odd ids all [0,1]: centroids are the axes
    val orth = Seq(
      (0L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f)), (3L, Array(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val r1 = graft.queries.SimilarityQueries
      .embeddingDrift(orth, "vec_id", "embedding").collect()(0)
    assert(r1.getLong(0) == 2L && r1.getLong(1) == 2L && r1.getLong(2) == 2L)
    assert(r1.getDouble(3) == 0.0 && r1.getDouble(4) == 1.414214 &&
      r1.getBoolean(5))
    // identical batches: cos 1, shift 0, not drifted — the negative id
    // lands in batch 1 via pmod (the oracle mirrors with ((x%2)+2)%2)
    val same = Seq(
      (0L, Array(1.0f, 2.0f)), (-1L, Array(1.0f, 2.0f))
    ).toDF("vec_id", "embedding")
    val r2 = graft.queries.SimilarityQueries
      .embeddingDrift(same, "vec_id", "embedding").collect()(0)
    assert(r2.getDouble(3) == 1.0 && r2.getDouble(4) == 0.0 &&
      !r2.getBoolean(5))
  }

  test("zero-norm vectors are nobody's neighbor: NULL cos ranks last, no ANSI throw (hostile r18)") {
    // safeCos: the raw dot/(qn*cn) division ANSI-threw on an all-zero
    // embedding; the nullif'd form reads NULL — dropped by thresholds,
    // ordered last by every DESC ranking (DuckDB's /0 is natively NULL,
    // so the oracles agree without edits)
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 0.0f))).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(emb, emb.filter($"vec_id" === 0L), 2)
      .orderBy("rank").select("neighbor_id", "cos")
      .as[(Long, Option[Double])].collect().toSeq
    assert(top.map(_._1) == Seq(1L, 2L),
      s"zero vector must rank after every real neighbor, got $top")
    assert(top(0)._2.exists(_ > 0.9) && top(1)._2.isEmpty,
      s"zero vector's cos must be NULL, got $top")
    val pairs = Similarity.nearDupPairs(emb, 0.45).collect()
    assert(pairs.forall(r => r.getLong(0) != 2L && r.getLong(1) != 2L),
      "a zero-norm vector must never appear in threshold pairs")
  }

  test("brute force top-k: k rows per query, self excluded, ranked desc") {
    val emb = Tables.embeddings(spark, TestSpark.Sf)
    val res = Similarity.bruteForceTopK(emb, emb.filter($"vec_id" < 5), 3)
    val rows = res.orderBy("query_id", "rank")
      .select("query_id", "neighbor_id", "cos", "rank")
      .as[(Long, Long, Double, Int)].collect()
    assert(rows.groupBy(_._1).forall(_._2.length == 3))
    assert(rows.forall { case (q, n, _, _) => q != n })
    rows.groupBy(_._1).values.foreach { g =>
      val cs = g.sortBy(_._4).map(_._3)
      assert(cs.zip(cs.tail).forall { case (x, y) => x >= y })
    }
  }

  test("ivf top-k: exact scores, plausible recall vs brute force") {
    val emb = Tables.embeddings(spark, TestSpark.Sf)
    val q = emb.filter($"vec_id" < 10)
    val brute = Similarity.bruteForceTopK(emb, q, 5)
      .select("query_id", "neighbor_id", "cos").as[(Long, Long, Double)].collect()
    val ivf = Similarity.ivfTopK(emb, q, 5, nlist = 8, nprobe = 3)
      .select("query_id", "neighbor_id", "cos").as[(Long, Long, Double)].collect()
    assert(ivf.nonEmpty)
    // every IVF score must equal the brute-force cosine for that pair
    val bruteAll = Similarity.bruteForceTopK(emb, q, Int.MaxValue)
      .select("query_id", "neighbor_id", "cos").as[(Long, Long, Double)]
      .collect().map { case (a, b, c) => (a, b) -> c }.toMap
    assert(ivf.forall { case (a, b, c) => math.abs(bruteAll((a, b)) - c) < 1e-12 })
    // recall@5 against brute force is nonzero (probing 3/8 cells)
    val bSet = brute.map(t => (t._1, t._2)).toSet
    val overlap = ivf.count(t => bSet((t._1, t._2)))
    assert(overlap.toDouble / brute.length > 0.2, s"recall ${overlap}/${brute.length}")
  }

  test("ivf quantizer: fit-once artifact save/load round-trips centroids") {
    val emb = Tables.embeddings(spark, TestSpark.Sf)
    val km = Similarity.fitQuantizer(emb, nlist = 4)
    val dir = java.nio.file.Files.createTempDirectory("graft-quant").toString + "/km"
    km.write.overwrite().save(dir)
    val loaded = org.apache.spark.ml.clustering.KMeansModel.load(dir)
    val orig = km.clusterCenters.map(_.toArray.toSeq).toSeq
    val back = loaded.clusterCenters.map(_.toArray.toSeq).toSeq
    assert(orig == back)
    // probing against the loaded artifact gives the same answer
    val q = emb.filter($"vec_id" < 5)
    val a = Similarity.ivfTopK(emb, q, 3, km, 2, "vec_id", "embedding")
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().sorted.toSeq
    val b = Similarity.ivfTopK(emb, q, 3, loaded, 2, "vec_id", "embedding")
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().sorted.toSeq
    assert(a == b)
  }

  test("materialized IVF index: partition-pruned probes, identical results") {
    import graft.operators.ProductQuantization
    val emb = Tables.embeddings(spark, TestSpark.Sf)
    val km = Similarity.fitQuantizer(emb, nlist = 8)
    val idx = java.nio.file.Files.createTempDirectory("graft-ivf").toString + "/idx"
    ProductQuantization.writeAnnIndex(emb, km, ProductQuantization.fitPq(emb, m = 8, ksub = 16), idx)
    val (_, index) = ProductQuantization.readAnnIndex(spark, idx, km)
    val q = emb.filter($"vec_id" < 10)
    val indexed = Similarity.ivfTopKIndexed(index, q, 5, km, nprobe = 3)
    val inMem = Similarity.ivfTopK(emb, q, 5, km, 3, "vec_id", "embedding")
    assert(indexed.select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)]
      .collect().sorted.toSeq ==
      inMem.select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)]
        .collect().sorted.toSeq)
    // the probe filter must prune at partition level, not post-scan
    val plan = indexed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell"), plan.take(1500))
  }

  /** Measured recall per registered query, through the same operator
    * paths the recall certificates aggregate. */
  private lazy val recall =
    queries.SimilarityQueries.recallReport(spark, TestSpark.Sf).map(r => r.query -> r).toMap

  test("ann recall gates: one recall row per query, measured means clear the floors") {
    import queries.SimilarityQueries
    val floors = Seq("q_ann_lsh" -> SimilarityQueries.LshRecallFloor,
      "q_ann_ivf" -> SimilarityQueries.IvfRecallFloor,
      "q_ann_ivf_indexed" -> SimilarityQueries.IvfRecallFloor)
    for ((q, floor) <- floors) {
      val r = recall(q)
      assert(r.queryRows == 20, s"$q measured over ${r.queryRows} queries")
      assert(r.floor == floor)
      assert(r.recall >= 0.0 && r.recall <= 1.0, s"$q mean recall ${r.recall}")
      // a silent recall regression must fail HERE, not only flip the
      // registered certificate's recall_ok cell
      assert(r.recall >= floor, s"$q mean recall ${r.recall} below floor $floor")
    }
    // the indexed path must not lose recall vs the in-memory path
    assert(recall("q_ann_ivf_indexed").recall == recall("q_ann_ivf").recall,
      "indexed IVF recall differs from in-memory IVF")
  }

  test("ANN certificate rows: pinned shape, floors clear, sabotage flips recall_ok") {
    import queries.SimilarityQueries
    import queries.SimilarityQueries._
    val certs = Seq(
      ("lsh", qAnnLshCert(spark, TestSpark.Sf), LshRecallFloor),
      ("ivf", qAnnIvfCert(spark, TestSpark.Sf), IvfRecallFloor),
      ("ivf_indexed", qAnnIvfIndexedCert(spark, TestSpark.Sf), IvfRecallFloor),
      ("pq", qAnnPqCert(spark, TestSpark.Sf), PqRecallFloor),
      ("ivfpq", qAnnIvfPqCert(spark, TestSpark.Sf), IvfPqRecallFloor))
    certs.foreach { case (name, df, floor) =>
      val r = df.collect()
      assert(r.length == 1, s"$name cert must be one row")
      assert(r(0).getLong(0) == 20L, s"$name n_queries ${r(0).getLong(0)}")
      assert(r(0).getLong(1) == math.round(floor * 100), s"$name floor_pct")
      assert(r(0).getBoolean(2), s"$name recall_ok is FALSE")
    }
    // a violated floor must flip the boolean (driver red), never vanish
    // the certificate row — the whole point of the cert vs the gate
    val exact = Seq((1L, 2L), (1L, 3L)).toDF("query_id", "neighbor_id")
    val approx = Seq((1L, 2L)).toDF("query_id", "neighbor_id")
    val bad = SimilarityQueries.recallCert(approx, exact, 0.9).collect()
    assert(bad.length == 1 && !bad(0).getBoolean(2), "sabotaged cert must be FALSE")
    val good = SimilarityQueries.recallCert(approx, exact, 0.4).collect()
    assert(good.length == 1 && good(0).getBoolean(2))
  }

  test("semantic dedup certificate: one all-true row at the registered floor") {
    import queries.SimilarityQueries
    val r = SimilarityQueries.qSemanticDedupCert(spark, TestSpark.Sf).collect()
    assert(r.length == 1)
    assert(r(0).getLong(0) ==
      math.round(SimilarityQueries.SemanticRecallFloor * 100))
    assert(r(0).getBoolean(1), "recall_ok FALSE")
    assert(r(0).getBoolean(2), "coverage_ok FALSE")
    assert(r(0).getBoolean(3), "kept_bounded FALSE")
  }

  test("semantic dedup certificate: an unreachable floor flips only recall_ok") {
    import queries.SimilarityQueries
    val r = SimilarityQueries.semanticDedupCert(spark, TestSpark.Sf, floor = 1.01).collect()
    assert(r.length == 1)
    assert(r(0).getLong(0) == 101L, "floor_pct")
    assert(!r(0).getBoolean(1), "recall_ok TRUE under an unreachable floor")
    assert(r(0).getBoolean(2), "coverage_ok FALSE")
    assert(r(0).getBoolean(3), "kept_bounded FALSE")
  }

  test("blocked near-dup pairs equal the all-pairs baseline exactly") {
    val emb = Tables.embeddings(spark, TestSpark.Sf)
    val brute = Similarity.nearDupPairs(emb, 0.45)
      .select("a", "b", "cos").as[(Long, Long, Double)].collect().sorted
    val blocked = Similarity.nearDupPairsBlocked(emb, 0.45, blocks = 8)
      .select("a", "b", "cos").as[(Long, Long, Double)].collect().sorted
    assert(blocked.toSeq == brute.toSeq)
  }

  test("blocked near-dup plan has no BroadcastNestedLoopJoin") {
    val emb = Tables.embeddings(spark, TestSpark.Sf)
    val plan = Similarity.nearDupPairsBlocked(emb, 0.45)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("lsh near-dup pairs: high recall on planted high-similarity pairs") {
    // 40 base vectors plus a tiny perturbation of each (cos ≥ ~0.99):
    // banded LSH (8 bands × 4 planes) must recover nearly all planted
    // pairs; the exact blocked join is the ground truth.
    val dim = 16
    val rows = (0 until 40).flatMap { i =>
      val base = Array.tabulate(dim)(j => math.sin(i * 31 + j * 7).toFloat)
      val pert = base.zipWithIndex.map { case (v, j) => v + 0.01f * math.cos(i + j).toFloat }
      Seq((i.toLong * 2, base), (i.toLong * 2 + 1, pert))
    }
    val emb = rows.toDF("vec_id", "embedding")
    val exact = Similarity.nearDupPairsBlocked(emb, 0.98, blocks = 4)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val lsh = Similarity.nearDupPairsLsh(emb, 0.98, bands = 8, planesPerBand = 4)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(exact.size >= 40, s"fixture should plant ≥40 pairs, got ${exact.size}")
    assert(lsh.subsetOf(exact), "LSH emitted a pair the exact join did not")
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall (${lsh.size}/${exact.size})")
  }

  test("semantic dedup: finds planted same-cell pairs, gate zeroes on sabotage") {
    // planted near-identical pairs land in the same nearest cells, so
    // semanticDedupPairs must recover them (subset of exact, high recall
    // on cos ≥ 0.98 planted pairs)
    val dim = 16
    val rows = (0 until 40).flatMap { i =>
      val base = Array.tabulate(dim)(j => math.sin(i * 31 + j * 7).toFloat)
      val pert = base.zipWithIndex.map { case (v, j) => v + 0.01f * math.cos(i + j).toFloat }
      Seq((i.toLong * 2, base), (i.toLong * 2 + 1, pert))
    }
    val emb = rows.toDF("vec_id", "embedding")
    val km = Similarity.fitQuantizer(emb, 8)
    val exact = Similarity.nearDupPairsBlocked(emb, 0.98, blocks = 4)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val sem = Similarity.semanticDedupPairs(emb, 0.98, km)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(sem.subsetOf(exact), "semantic emitted a pair the exact join did not")
    assert(sem.size.toDouble / exact.size >= 0.9,
      s"planted-pair recall ${sem.size}/${exact.size}")
    // no duplicate (a,b) rows from pairs sharing both probe cells
    val n = Similarity.semanticDedupPairs(emb, 0.98, km).count()
    assert(n == Similarity.semanticDedupPairs(emb, 0.98, km).select("a", "b").distinct().count())
  }

  test("q_semantic_dedup: per-vector rows carry recall ≥ floor and drop some vectors") {
    import graft.queries.SimilarityQueries
    val out = SimilarityQueries.semanticRows(spark, TestSpark.Sf).cache()
    val nVec = Tables.embeddings(spark, TestSpark.Sf).count()
    assert(out.count() == nVec, "one row per corpus vector")
    val rec = out.select("pair_recall").head().getDouble(0)
    assert(rec >= SimilarityQueries.SemanticRecallFloor,
      s"measured recall $rec under the declared floor")
    // some vectors must actually be dropped (planted near-dups exist)
    assert(out.filter($"kept" === 0).count() > 0)
    out.unpersist()
  }

  test("pq encode: m codes per vector, each in [0, ksub), deterministic") {
    import graft.operators.ProductQuantization
    val emb = Tables.embeddings(spark, TestSpark.Sf)
    val model = ProductQuantization.fitPq(emb, m = 8, ksub = 16)
    assert(model.m == 8 && model.ksub == 16 && model.dsub == 8)
    def encode() = ProductQuantization.pqEncode(emb, model)
      .select($"vec_id", $"pq_code").as[(Long, Seq[Int])].collect().sortBy(_._1).toSeq
    val codes = encode()
    assert(codes.nonEmpty)
    assert(codes.forall(_._2.length == 8), "every vector gets exactly m codes")
    assert(codes.forall(_._2.forall(c => c >= 0 && c < 16)), "codes within [0, ksub)")
    assert(codes == encode(), "encoding is deterministic")
    // a degenerate subspace count must be rejected at fit time
    assertThrows[IllegalArgumentException] {
      ProductQuantization.fitPq(emb, m = 7, ksub = 16) // 64 % 7 != 0
    }
    // an empty corpus is a contract error, not an opaque head() crash
    val emptyErr = intercept[IllegalArgumentException] {
      ProductQuantization.fitPq(emb.filter($"vec_id" < 0), m = 8, ksub = 16)
    }
    assert(emptyErr.getMessage.contains("empty"), emptyErr.getMessage)
  }

  test("pq top-k with full-width rerank IS brute force; plan cuts candidates map-side") {
    import graft.operators.ProductQuantization
    val emb = Tables.embeddings(spark, TestSpark.Sf)
    val q = emb.filter($"vec_id" < 10)
    val model = ProductQuantization.fitPq(emb, m = 8, ksub = 16)
    val n = emb.count().toInt
    // rerank >= corpus: ADC candidate selection passes everything through,
    // so the exact rerank must reproduce brute force bit-for-bit
    val full = ProductQuantization.pqTopK(emb, q, 5, model, rerank = n)
    val brute = Similarity.bruteForceTopK(emb, q, 5)
    assert(full.select($"query_id", $"neighbor_id", $"rank").as[(Long, Long, Int)]
      .collect().sorted.toSeq ==
      brute.select($"query_id", $"neighbor_id", $"rank").as[(Long, Long, Int)]
        .collect().sorted.toSeq)
    // the narrow-rerank candidate cut must plan as WindowGroupLimit
    // (map-side partial top-k before the exchange), not a full window sort
    val plan = ProductQuantization.pqTopK(emb, q, 5, model, rerank = 20)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan.take(1500))
    // rerank below k is a contract violation, not a silent truncation
    assertThrows[IllegalArgumentException] {
      ProductQuantization.pqTopK(emb, q, 5, model, rerank = 3)
    }
  }

  test("ivf-pq: all-cells + full-width rerank IS brute force; narrow probe keeps plausible recall") {
    import graft.operators.ProductQuantization
    val emb = Tables.embeddings(spark, TestSpark.Sf)
    val q = emb.filter($"vec_id" < 10)
    val km = Similarity.fitQuantizer(emb, 8)
    val model = ProductQuantization.fitPq(emb, m = 8, ksub = 16)
    val n = emb.count().toInt
    // both pruning levels wide open ⇒ the two-level composition must
    // reproduce brute force bit-for-bit
    val full = ProductQuantization.ivfPqTopK(emb, q, 5, km, model, nprobe = 8, rerank = n)
    val brute = Similarity.bruteForceTopK(emb, q, 5)
    assert(full.select($"query_id", $"neighbor_id", $"rank").as[(Long, Long, Int)]
      .collect().sorted.toSeq ==
      brute.select($"query_id", $"neighbor_id", $"rank").as[(Long, Long, Int)]
        .collect().sorted.toSeq)
    // narrow probe: k rows per query with contiguous ranks, recall is a
    // subset of IVF's ceiling but must stay plausible
    val narrow = ProductQuantization.ivfPqTopK(emb, q, 5, km, model, nprobe = 3, rerank = 20)
      .select($"query_id", $"neighbor_id", $"rank").as[(Long, Long, Int)].collect()
    assert(narrow.nonEmpty)
    narrow.groupBy(_._1).values.foreach { g =>
      assert(g.map(_._3).sorted.toSeq == (1 to g.length).toSeq)
    }
    val bruteSet = brute.select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val overlap = narrow.count(r => bruteSet.contains((r._1, r._2)))
    assert(overlap.toDouble / bruteSet.size > 0.2,
      s"ivf-pq recall ${overlap}/${bruteSet.size}")
  }

  test("q_ann_pq gate: one recall row per query, measured mean clears the floor") {
    import queries.SimilarityQueries
    val pq = recall("q_ann_pq")
    assert(pq.queryRows == 20, s"pq measured over ${pq.queryRows} queries")
    assert(pq.recall >= 0.0 && pq.recall <= 1.0)
    assert(pq.recall >= SimilarityQueries.PqRecallFloor,
      s"pq mean recall ${pq.recall} below floor")
  }

  test("pq index round-trip: persisted artifact == in-memory exactly; mismatches fail loudly") {
    import graft.operators.ProductQuantization
    import graft.operators.ProductQuantization._
    val emb = Tables.embeddings(spark, TestSpark.Sf)
    val q = emb.filter($"vec_id" < 10)
    val model = fitPq(emb, m = 8, ksub = 16)
    val km = Similarity.fitQuantizer(emb, nlist = 8)
    val tmp = java.nio.file.Files.createTempDirectory("pq-roundtrip").toString + "/idx"
    writeAnnIndex(emb, km, model, tmp)
    val (loaded, index) = readAnnIndex(spark, tmp, km)
    assert(loaded.fingerprint == model.fingerprint && loaded.dsub == model.dsub)
    assert(index.count() == emb.count(), "one index row per corpus vector")
    // the one artifact must reproduce both inline paths bit-for-bit:
    // PQ scores every cell's codes, IVF-PQ only the probed cells'
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select($"query_id", $"neighbor_id", $"cos", $"rank").as[(Long, Long, Double, Int)]
        .collect().sorted.toSeq
    assert(key(pqTopKFromCodes(emb, index, q, 5, loaded, rerank = 20)) ==
      key(pqTopK(emb, q, 5, model, rerank = 20)))
    assert(key(ivfPqTopKFromCellCodes(emb, index, q, 5, km, loaded, nprobe = 3, rerank = 20)) ==
      key(ivfPqTopK(emb, q, 5, km, model, nprobe = 3, rerank = 20)))
    // a probe under another coarse quantizer is refused on read: its
    // cells name different regions of the space, and probing them
    // LOOKS fine (recall just collapses)
    val qErr = intercept[IllegalArgumentException] {
      readAnnIndex(spark, tmp, Similarity.fitQuantizer(emb, nlist = 6))
    }
    assert(qErr.getMessage.contains("quantizer fingerprint"), qErr.getMessage)
    // a model/meta pair from different fits must be refused on read —
    // stale ADC distances LOOK fine (recall just collapses), so the
    // failure must be loud, not statistical
    Seq((model.m, model.ksub, model.dsub, "0" * 32, quantizerFingerprint(km)))
      .toDF("m", "ksub", "dsub", "fit_hash", "quantizer_hash")
      .write.mode("overwrite").parquet(s"$tmp/meta")
    val metaErr = intercept[IllegalArgumentException] {
      readAnnIndex(spark, tmp, km)
    }
    assert(metaErr.getMessage.contains("codebook fingerprint"), metaErr.getMessage)
    // a codes table encoded under a different m than the query-time
    // model trips the in-plan guard, not silent element_at nulls
    val model16 = ProductQuantization.fitPq(emb, m = 16, ksub = 16)
    val stale = ProductQuantization.pqEncode(emb, model) // m=8 codes
    val planErr = intercept[Throwable] {
      ProductQuantization.pqTopKFromCodes(emb, stale, q, 5, model16, rerank = 20).collect()
    }
    def chain(t: Throwable): String =
      if (t == null) "" else t.getMessage + " | " + chain(t.getCause)
    assert(chain(planErr).contains("pq_code length"), chain(planErr))
  }

  test("lsh top-k results are a subset of correct cosine ordering") {
    val emb = Tables.embeddings(spark, TestSpark.Sf)
    val q = emb.filter($"vec_id" < 10)
    val lsh = Similarity.lshTopK(emb, q, 5, planes = 4)
    val rows = lsh.select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall { case (a, b, _) => a != b })
    // same bucket => recall of exact top-1 not guaranteed, but ranks
    // within a query must be contiguous from 1
    rows.groupBy(_._1).values.foreach { g =>
      assert(g.map(_._3).sorted.toSeq == (1 to g.length).toSeq)
    }
  }

  test("annParams: round-9 anchor at n<=500, measured scaling laws, bounded everywhere") {
    import queries.SimilarityQueries.{annParams, AnnParams}
    // the anchor is a cross-round comparability CONTRACT: n <= 500 must
    // reproduce the round-9 fixed settings bit-for-bit so the
    // sf0.001/0.01 recall measurements stay diffable across rounds
    assert(annParams(500) == AnnParams(16, 4, 16, 2, 50))
    assert(annParams(100) == AnnParams(16, 4, 16, 2, 50))
    // the sf0.1 corpus lands on the swept-and-measured configuration
    assert(annParams(2000) == AnnParams(50, 13, 24, 3, 200))
    // scaling laws: IVF holds cell size (~n/40), probe fraction ~1/4;
    // rerank holds ~n/10; semantic grid grows sub-linearly
    val big = annParams(100000)
    assert(big.nlist == 256 && big.semNlist <= 256 && big.rerank == 1000,
      s"caps must bind at large n: $big")
    // the 100 TB regime: row counts past Int.MaxValue·10 must still hit
    // the caps, not wrap negative through an Int narrowing and collapse
    // to the floors (a larger corpus silently getting a COARSER index)
    val huge = annParams(100_000_000_000L)
    assert(huge == AnnParams(256, 64, 256, 3, 1000),
      s"params must saturate at their caps for huge n: $huge")
    // monotone non-decreasing in n — a larger corpus never gets a
    // coarser index
    val seq = Seq(500L, 1000L, 2000L, 10000L, 100000L, 100_000_000_000L).map(annParams)
    seq.sliding(2).foreach { case Seq(a, b) =>
      assert(a.nlist <= b.nlist && a.nprobe <= b.nprobe &&
        a.semNlist <= b.semNlist && a.passign <= b.passign && a.rerank <= b.rerank,
        s"params must be monotone in corpus size: $a -> $b")
    }
  }
}
