package graft

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.feature.{RobustScalerModel, StringIndexerModel}
import org.apache.spark.ml.classification.GBTClassificationModel
import org.apache.spark.ml.regression.GBTRegressionModel
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.functions.{broadcast, col, count, lit, signum}
import org.scalatest.funsuite.AnyFunSuite
import graft.ml.Pipelines

/** ML surface (SURVEY §5.6): leak-free temporal split, bounded metrics,
  * pipeline save/load round trip. */
class MlSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private lazy val features = Pipelines.featureFrame(spark, TestSpark.Sf).cache()
  private lazy val split = Pipelines.temporalSplit(features, 7)

  test("temporal split is leak-free and non-empty") {
    val (train, test) = split
    assert(train.count() > 0 && test.count() > 0)
    assert(Pipelines.splitIsLeakFree(train, test))
  }

  test("classifier: AUC in [0,1], confusion sums to n, accuracy bounded") {
    val (train, test) = split
    val (_, score) = Pipelines.trainClassifier(train, maxIter = 5)
    val m = Pipelines.evalClassifier(score(test)).head()
    val (n, tp, fp, fn, tn) = (m.getAs[Long]("n"), m.getAs[Long]("tp"),
      m.getAs[Long]("fp"), m.getAs[Long]("fn"), m.getAs[Long]("tn"))
    assert(tp + fp + fn + tn == n)
    val auc = m.getAs[Double]("auc")
    val acc = m.getAs[Double]("accuracy")
    assert(auc >= 0.0 && auc <= 1.0)
    assert(acc >= 0.0 && acc <= 1.0)
  }

  test("regressor: metrics finite, directional accuracy bounded") {
    val (train, test) = split
    val model = Pipelines.trainRegressor(train, maxIter = 5)
    val m = Pipelines.evalRegressor(model.transform(test)).head()
    Seq("rmse", "mse", "mae").foreach { k =>
      val v = m.getAs[Double](k)
      assert(!v.isNaN && v >= 0.0, s"$k = $v")
    }
    val da = m.getAs[Double]("dir_accuracy")
    assert(da >= 0.0 && da <= 1.0)
  }

  test("cross-validated tuning searches the grid and picks a best model (M9)") {
    val (train, test) = split
    val cv = Pipelines.tuneRegressor(train, maxIter = 3, numFolds = 2)
    assert(cv.avgMetrics.length == 4) // 2 maxDepth × 2 stepSize
    assert(cv.avgMetrics.forall(m => !m.isNaN && m > 0))
    val scored = cv.bestModel.transform(test)
    assert(scored.count() == test.count())
    val best = cv.getEstimatorParamMaps(cv.avgMetrics.indexOf(cv.avgMetrics.min))
    assert(best.toSeq.nonEmpty)
  }

  test("GBT metrics are seeded-deterministic: retrain reproduces identical numbers") {
    val (train, test) = split
    def classifierMetrics(): (Double, Double) = {
      val (_, score) = Pipelines.trainClassifier(train, maxIter = 5)
      val m = Pipelines.evalClassifier(score(test)).head()
      (m.getAs[Double]("auc"), m.getAs[Double]("accuracy"))
    }
    def regressorMetrics(): (Double, Double) = {
      val model = Pipelines.trainRegressor(train, maxIter = 5)
      val m = Pipelines.evalRegressor(model.transform(test)).head()
      (m.getAs[Double]("rmse"), m.getAs[Double]("r2"))
    }
    assert(classifierMetrics() == classifierMetrics(),
      "classifier retrain with the same seed diverged")
    assert(regressorMetrics() == regressorMetrics(),
      "regressor retrain with the same seed diverged")
  }

  test("label encoding (M7): StringIndexer round-trips via IndexToString, skips unseen") {
    import org.apache.spark.ml.feature.{IndexToString, StringIndexer}
    import org.apache.spark.sql.functions.col
    val (train, test) = split
    val indexer = new StringIndexer().setInputCol("event_type")
      .setOutputCol("event_type_idx").setHandleInvalid("skip").fit(train)
    // inverse transform (ref ml_impl.py:164-169): decode must equal input
    val decoded = new IndexToString().setInputCol("event_type_idx")
      .setOutputCol("event_type_decoded").setLabels(indexer.labelsArray(0))
      .transform(indexer.transform(test))
    assert(decoded.filter(col("event_type") =!= col("event_type_decoded")).count() == 0)
    // drop-unseen (P8): a category absent from training is skipped
    val alien = test.limit(5).withColumn("event_type",
      org.apache.spark.sql.functions.lit("__never_seen__"))
    assert(indexer.transform(alien).count() == 0)
  }

  test("feature importances (M6): named, complete, non-negative, sum ~1") {
    val (train, _) = split
    val (model, _) = Pipelines.trainClassifier(train, maxIter = 5)
    val imp = Pipelines.featureImportances(model)
    assert(imp.map(_._1).toSet == Pipelines.AssembledFeatureNames.toSet)
    assert(imp.forall(_._2 >= 0.0))
    val s = imp.map(_._2).sum
    assert(math.abs(s - 1.0) < 1e-6, s"importances sum to $s")
  }

  test("pipeline save/load round trip scores identically (S9: one artifact)") {
    val (train, test) = split
    val model = Pipelines.trainRegressor(train, maxIter = 3)
    val tmp = java.nio.file.Files.createTempDirectory("graft-model").toString + "/m"
    model.write.overwrite().save(tmp)
    val loaded = PipelineModel.load(tmp)
    val a = model.transform(test).select("event_id", "prediction")
      .as[(Long, Double)].collect().sortBy(_._1).toSeq
    val b = loaded.transform(test).select("event_id", "prediction")
      .as[(Long, Double)].collect().sortBy(_._1).toSeq
    assert(a == b)
  }

  test("ML quality gates: healthy metrics pass, sabotaged metrics yield zero rows") {
    import org.apache.spark.sql.functions.{col, lit}
    val (train, test) = split
    // classifier — healthy model clears the gate, label-flip sabotage
    // (AUC → 1 − AUC, far below the 0.70 floor) kills the metric row
    val (_, score) = Pipelines.trainClassifier(train, maxIter = 10)
    val scored = score(test)
    assert(Pipelines.evalClassifier(scored).filter(Pipelines.classifierGate).count() == 1)
    val flipped = scored.withColumn("label", lit(1.0) - col("label"))
    assert(Pipelines.evalClassifier(flipped).filter(Pipelines.classifierGate).count() == 0)
    // regressor — healthy passes; negated predictions invert directional
    // accuracy (≈ 1 − 0.66, below the 0.60 floor) and kill the row
    val reg = Pipelines.trainRegressor(train, maxIter = 10)
    val rScored = reg.transform(test)
    assert(Pipelines.evalRegressor(rScored).filter(Pipelines.regressorGate).count() == 1)
    val negated = rScored.withColumn("prediction", -col("prediction"))
    assert(Pipelines.evalRegressor(negated).filter(Pipelines.regressorGate).count() == 0)
  }

  test("regressorGate fails a metrics row with an infinite rmse or mae above rmse") {
    val healthy = Seq((100L, 0.7, 0.05, 0.0025, 0.03, -0.5))
      .toDF("n", "dir_accuracy", "rmse", "mse", "mae", "r2")
    assert(healthy.filter(Pipelines.regressorGate).count() == 1)
    val infinite = healthy.withColumn("rmse", lit(Double.PositiveInfinity))
    assert(infinite.filter(Pipelines.regressorGate).count() == 0)
    // the power-mean inequality rules mae > rmse out for one population
    val mixed = healthy.withColumn("mae", lit(0.06))
    assert(mixed.filter(Pipelines.regressorGate).count() == 0)
  }

  test("serving output ranks by predicted return descending") {
    val (train, test) = split
    val model = Pipelines.trainRegressor(train, maxIter = 3)
    val served = Pipelines.servePredictions(model.transform(test), topK = 10)
      .select("predicted_return").as[Double].collect()
    assert(served.nonEmpty)
    assert(served.zip(served.tail).forall { case (x, y) => x >= y })
  }

  /** Runs `f` over an UNCACHED feature frame: the lineage a cold caller
    * hands temporalSplit (scan, window sort). It reads a private copy of
    * the events table, so the suite's cached `features` (same plan over
    * the shared SF dir) cannot stand in for it. */
  private def withLazyFeatures(f: DataFrame => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft-ml-lazy")
    java.nio.file.Files.copy(java.nio.file.Paths.get(TestSpark.Sf, "events.parquet"),
      dir.resolve("events.parquet"))
    try f(Pipelines.featureFrame(spark, dir.toString))
    finally IoUtil.deleteRecursively(dir)
  }

  test("one-read fits equal the lazy-lineage, broadcast-join-weighted fits") {
    // Blind spot: on the fixtures the training side is partitioned the
    // same on every path, so this cannot see a persist() in place of
    // the split's localCheckpoint() (which does change the trees on
    // perfbench's landed panel; see Pipelines)
    withLazyFeatures { feats =>
      // the trainers fit over the split's materialized copy; the
      // references refit over the earlier lazy lineage: the cutoff
      // broadcast-joined in-plan, no copy anywhere
      val (train, _) = Pipelines.temporalSplit(feats, 7)
      val lazyTrain = feats.crossJoin(broadcast(Pipelines.holdoutCutoff(feats, 7)))
        .filter(col("ts") < col("cutoff")).drop("cutoff")
      // the earlier weighting: class counts aggregated over the
      // training frame and joined back as a broadcast, total from its
      // own count()
      def joinWeighted(frame: DataFrame, key: String): DataFrame = {
        val counts = frame.groupBy(key).agg(count(lit(1)).as("n_key"))
        val total = frame.count().toDouble
        frame.join(broadcast(counts), key)
          .withColumn("weight", lit(total) / (lit(2.0) * col("n_key")))
      }
      // refit with the very Pipeline (stages and params) the trainer used
      def refit(model: PipelineModel, weighted: DataFrame): PipelineModel =
        model.parent.asInstanceOf[Pipeline].fit(weighted)
      def assertSameFit(got: PipelineModel, want: PipelineModel): Unit = {
        def parts(m: PipelineModel) = (m.stages(0).asInstanceOf[StringIndexerModel],
          m.stages(2).asInstanceOf[RobustScalerModel], m.stages.last match {
            case g: GBTClassificationModel => (g.treeWeights.toSeq, g.toDebugString)
            case g: GBTRegressionModel => (g.treeWeights.toSeq, g.toDebugString)
          })
        val (gi, gs, gg) = parts(got)
        val (wi, ws, wg) = parts(want)
        assert(gi.labelsArray.map(_.toSeq).toSeq == wi.labelsArray.map(_.toSeq).toSeq)
        assert(gs.median == ws.median && gs.range == ws.range)
        assert(gg == wg)
      }
      val (cls, _) = Pipelines.trainClassifier(train, maxIter = 5)
      assertSameFit(cls, refit(cls, joinWeighted(lazyTrain, "label")))
      val reg = Pipelines.trainRegressor(train, maxIter = 5)
      val nonZero = lazyTrain.filter(signum(col("target")) =!= 0)
        .withColumn("sgn", signum(col("target")))
      assertSameFit(reg, refit(reg, joinWeighted(nonZero, "sgn")))
    }
  }

  /** `f`'s result, with the jobs started and the file-scan stages
    * completed while it runs. */
  private def countDuring[A](f: => A): (A, Int, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val scans = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (e.stageInfo.rddInfos.exists(_.name == "FileScanRDD")) scans.incrementAndGet()
    }
    GraftBridge.flushListeners(sc)
    sc.addSparkListener(listener)
    val result = try {
      val r = f
      GraftBridge.flushListeners(sc)
      r
    } finally sc.removeSparkListener(listener)
    (result, jobs.get(), scans.get())
  }

  test("the ML path reads the feature frame's files once") {
    withLazyFeatures { feats =>
      val (_, _, scans) = countDuring {
        val (train, test) = Pipelines.temporalSplit(feats, 7)
        val (_, score) = Pipelines.trainClassifier(train, maxIter = 3)
        Pipelines.evalClassifier(score(test))
        val reg = Pipelines.trainRegressor(train, maxIter = 3)
        Pipelines.evalRegressor(reg.transform(test))
        Pipelines.servePredictions(reg.transform(test)).collect()
      }
      // 1 = the scan under the split's one materializing job. With the
      // split as a lazy broadcast-join filter, every fit, eval and serve
      // re-derived the features: 10 file-scan stages at sf0.001.
      assert(scans == 1)
    }
  }

  test("constructing q_ml_serve twice in one session builds the split once") {
    import org.apache.spark.sql.execution.LogicalRDD
    def checkpoints(df: DataFrame): Set[Int] =
      df.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd.id }.toSet
    val first = graft.queries.MlQueries.qMlServeCert(spark, TestSpark.Sf)
    val (second, jobs, _) = countDuring(graft.queries.MlQueries.qMlServeCert(spark, TestSpark.Sf))
    // an unmemoized split would checkpoint and collect the cutoff again
    assert(jobs == 0)
    assert(checkpoints(first).nonEmpty && checkpoints(first) == checkpoints(second))
  }

  test("the evaluators keep a caller's cache and release only their own") {
    import org.apache.spark.storage.StorageLevel
    val (train, test) = split
    val (_, score) = Pipelines.trainClassifier(train, maxIter = 3)
    val reg = Pipelines.trainRegressor(train, maxIter = 3)
    val scoredC = score(test).cache()
    val scoredR = reg.transform(test).cache()
    try {
      val levels = (scoredC.storageLevel, scoredR.storageLevel)
      Pipelines.evalClassifier(scoredC)
      Pipelines.evalRegressor(scoredR)
      // an eval that unpersisted these would make the caller's next
      // read (MlAudit's serve after evalRegressor) re-run the transform
      assert((scoredC.storageLevel, scoredR.storageLevel) == levels)
      assert(levels == (StorageLevel.MEMORY_AND_DISK, StorageLevel.MEMORY_AND_DISK))
    } finally { scoredC.unpersist(); scoredR.unpersist() }
    val plain = reg.transform(test)
    Pipelines.evalRegressor(plain)
    assert(plain.storageLevel == StorageLevel.NONE)
  }

  test("a lost checkpoint block fails loudly: temporalSplit and the evaluators' metric rows") {
    import BlockLoss.{sameRowsOrLoud, sortedRows}
    def newPersistentRdds[A](f: => A) = BlockLoss.newPersistentRdds(spark)(f)
    features.count() // the shared cache fills outside the watched calls
    val ((train, test), splitIds) = newPersistentRdds(Pipelines.temporalSplit(features, 7))
    val (_, score) = Pipelines.trainClassifier(train, maxIter = 3)
    val reg = Pipelines.trainRegressor(train, maxIter = 3)
    val (cls, clsIds) = newPersistentRdds(Pipelines.evalClassifier(score(test)))
    val (regm, regIds) = newPersistentRdds(Pipelines.evalRegressor(reg.transform(test)))
    assert(splitIds.nonEmpty && clsIds.nonEmpty && regIds.nonEmpty)
    val frames = Seq(cls, regm, train, test)
    val expected = frames.map(sortedRows)
    assert(expected.forall(_.nonEmpty))
    (splitIds ++ clsIds ++ regIds).foreach(id =>
      spark.sparkContext.getPersistentRDDs(id).unpersist(blocking = true))
    frames.zip(expected).foreach { case (df, rows) => sameRowsOrLoud(df, rows) }
  }
}
