package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{ProductQuantization, Similarity}

/** Recall measurement harness for the ANN tiers — the tool behind every
  * "measured mean recall@5, floor sits just under the minimum" note in
  * SimilarityQueries. Run per SF dir:
  *
  *   sbt "runMain graft.RecallProbe /root/testdata/sf0.01"
  *
  * Prints one line per tier: `RECALL <tier> <dir> <mean_recall@5>`.
  * The floors pinned in SimilarityQueries must sit just UNDER the
  * minimum across sf0.001/0.01/0.1, so a quality regression trips the
  * in-plan gate while fixture-to-fixture variance does not.
  *
  * With `--json <path>` as the leading args, instead measures every
  * recall-gated registered query (the q_ann_* tiers and
  * q_semantic_dedup — the list lives in recallReport, one place) per
  * SF dir through the exact operator paths and
  * recall definition their in-plan gates use
  * ([[graft.queries.SimilarityQueries.recallReport]]) and writes one
  * JSON artifact — the per-round `RECALL_r{N}.json` that makes recall
  * drift across rounds diffable:
  *
  *   sbt "runMain graft.RecallProbe --json RECALL_r9.json \
  *        /root/testdata/sf0.001 /root/testdata/sf0.01 /root/testdata/sf0.1"
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val (jsonOut, dirArgs) = args.toSeq match {
      case "--json" +: path +: rest => (Some(path), rest)
      case other                    => (None, other)
    }
    val dirs = if (dirArgs.nonEmpty) dirArgs else Seq("/root/testdata/sf0.01")
    val spark = GraftSession.local()

    // no non-local returns (the --json early exit used to `return` out of
    // a foreach closure — NonLocalReturnControl, deprecated in 2.13 — and
    // skipped spark.stop() on a throw); one match, stop in a finally
    try {
      jsonOut match {
        case Some(path) => writeJsonReport(spark, path, dirs)
        case None if dirs.headOption.contains("--sweep") =>
          printParamSweep(spark, dirs.drop(1))
        case None => printTierSweep(spark, dirs)
      }
    } finally spark.stop()
  }

  /** `--sweep <dirs...>`: grid-measure the IVF (nlist, nprobe) and
    * semantic-dedup (nlist, passign) recall surfaces per dir — the
    * evidence behind [[graft.queries.SimilarityQueries.annParams]]'s
    * scaling constants. */
  private def printParamSweep(spark: SparkSession, dirs: Seq[String]): Unit = {
    def meanRecall(approx: DataFrame, exact: DataFrame): Double =
      graft.queries.SimilarityQueries.perQueryRecall(approx, exact)
        .agg(avg("recall_at_5")).head().getDouble(0)
    for (dir <- dirs) {
      val emb = Tables.embeddings(spark, dir).cache()
      val n = emb.count()
      val q = emb.filter(col("vec_id") < graft.queries.SimilarityQueries.AnnQueryIdBound)
      val brute = Similarity.bruteForceTopK(emb, q, 5).cache()
      brute.count()
      val exactPairs = Similarity.nearDupPairsBlocked(emb, 0.45).cache()
      exactPairs.count()
      val kms = Seq(16, 24, 32, 48).map(nl => nl -> Similarity.fitQuantizer(emb, nl)).toMap
      for (nlist <- Seq(16, 24, 32, 48); nprobe <- Seq(4, 6, 8, 10, 12) if nprobe < nlist) {
        val r = meanRecall(
          Similarity.ivfTopK(emb, q, 5, kms(nlist), nprobe, "vec_id", "embedding"), brute)
        println(f"SWEEP ivf n=$n nlist=$nlist%-3d nprobe=$nprobe%-3d frac=${nprobe.toDouble / nlist}%.2f recall=$r%.4f")
      }
      for (nlist <- Seq(16, 24, 32, 48); passign <- Seq(2, 3, 4) if passign < nlist) {
        val sem = Similarity.semanticDedupPairs(emb, 0.45, kms(nlist), passign = passign)
        val pr = exactPairs.select(col("a"), col("b"))
          .join(sem.select(col("a"), col("b"), lit(1).as("hit")), Seq("a", "b"), "left")
          .agg(coalesce(avg(coalesce(col("hit"), lit(0))), lit(1.0)))
          .head().getDouble(0)
        println(f"SWEEP sem n=$n nlist=$nlist%-3d passign=$passign frac=${passign * passign.toDouble / nlist}%.2f pair_recall=$pr%.4f")
      }
      exactPairs.unpersist(); brute.unpersist(); emb.unpersist()
    }
  }

  /** The per-round RECALL_r{N}.json artifact: every recall-gated
    * registered query measured per SF through the gates' own paths. */
  private def writeJsonReport(spark: SparkSession, path: String,
                              dirs: Seq[String]): Unit = {
    val perDir = dirs.map { dir =>
      val rows = graft.queries.SimilarityQueries.recallReport(spark, dir)
      val sf = dir.replaceAll(".*/", "")
      sf -> rows
    }
    // query → {floor, per_sf: {sfX: {recall, corpus_rows, query_rows}}}
    val names = perDir.head._2.map(_.query)
    val body = names.map { qn =>
      val floor = perDir.head._2.find(_.query == qn).get.floor
      val sfs = perDir.map { case (sf, rows) =>
        val r = rows.find(_.query == qn).get
        s""""$sf":{"recall":${Json.num(r.recall, 4)},"corpus_rows":${r.corpusRows},""" +
          s""""query_rows":${r.queryRows}}"""
      }.mkString(",")
      s""""$qn":{"floor":$floor,"k":5,"per_sf":{$sfs}}"""
    }.mkString(",\n  ")
    val json = s"""{"generated_by":"graft.RecallProbe --json","queries":{\n  $body\n}}\n"""
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"RECALL json written to $path")
  }

  /** Raw tier sweep (the parameter-exploration mode the floor constants
    * were originally probed with). */
  private def printTierSweep(spark: SparkSession, dirs: Seq[String]): Unit = {
    // the gate's own recall definition — measurement and enforcement
    // share one implementation by construction
    def meanRecall(approx: DataFrame, exact: DataFrame): Double =
      graft.queries.SimilarityQueries.perQueryRecall(approx, exact)
        .agg(avg("recall_at_5")).head().getDouble(0)

    for (dir <- dirs) {
      val emb = Tables.embeddings(spark, dir)
      val q = emb.filter(col("vec_id") < graft.queries.SimilarityQueries.AnnQueryIdBound)
      val brute = Similarity.bruteForceTopK(emb, q, 5).cache()
      brute.count()
      val p = graft.queries.SimilarityQueries.annParams(emb.count())
      val km = Similarity.fitQuantizer(emb, p.nlist)
      val pq8 = ProductQuantization.fitPq(emb, m = 8, ksub = 16)
      val pq16 = ProductQuantization.fitPq(emb, m = 16, ksub = 16)
      val tiers = Seq(
        "lsh" -> Similarity.lshTopK(emb, q, 5, planes = 8, multiProbe = 3),
        s"ivf_l${p.nlist}_p${p.nprobe}" ->
          Similarity.ivfTopK(emb, q, 5, km, p.nprobe, "vec_id", "embedding"),
        "pq_m8_r20" -> ProductQuantization.pqTopK(emb, q, 5, pq8, rerank = 20),
        s"pq_m8_r${p.rerank}" -> ProductQuantization.pqTopK(emb, q, 5, pq8, rerank = p.rerank),
        "pq_m16_r20" -> ProductQuantization.pqTopK(emb, q, 5, pq16, rerank = 20),
        s"pq_m16_r${p.rerank}" -> ProductQuantization.pqTopK(emb, q, 5, pq16, rerank = p.rerank),
        s"ivfpq_p${p.nprobe}_r${p.rerank}" -> ProductQuantization.ivfPqTopK(emb, q, 5, km, pq16,
          nprobe = p.nprobe, rerank = p.rerank))
      tiers.foreach { case (tier, approxDf) =>
        println(f"RECALL $tier%-14s $dir ${meanRecall(approxDf, brute)}%.4f")
      }
      brute.unpersist()
    }
  }
}
