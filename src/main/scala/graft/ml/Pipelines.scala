package graft.ml

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.classification.{GBTClassificationModel, GBTClassifier}
import org.apache.spark.ml.evaluation.{BinaryClassificationEvaluator, RegressionEvaluator}
import org.apache.spark.ml.feature.{RobustScaler, StringIndexer, VectorAssembler}
import org.apache.spark.ml.regression.{GBTRegressionModel, GBTRegressor}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TimeSeries._

/** MLlib surface (SURVEY.md §2.10 M1-M16), kept entirely on executors —
  * the reference funnels everything through toPandas()+sklearn/XGBoost on
  * one process (regression.py:223-224); here feature engineering, scaling,
  * training, and evaluation are all distributed, and the fitted
  * PipelineModel persists as ONE artifact (S9) instead of 8 pickles.
  *
  * The supervised task mirrors the reference's: window features per entity
  * (lags, SMA, volatility, RSI, MACD, momentum, spike), label = next-step
  * direction (classifier, classifier.py:23-24) or next-step return
  * (regressor, regression.py:119-126), temporal — never random — split
  * (M13, regression.py:216-218).
  */
object Pipelines {

  val FeatureCols: Array[String] = Array(
    "lag1", "lag3", "ma5", "volatility14", "rsi14", "mom3", "macd", "spike")

  /** Continuous features that go through the RobustScaler. The binary
    * `spike` flag is deliberately NOT here: RobustScaler maps a
    * zero-IQR feature to constant 0, and a 0/1 flag firing on < 25% of
    * training rows has q1 = q3 = 0 — scaling would silently erase the
    * feature from both GBT models. */
  val ScaledCols: Array[String] = FeatureCols.filterNot(_ == "spike")

  /** Feature-vector slot names in assembly order: the scaled continuous
    * block, then the unscaled binary flag, then the indexed categorical
    * (M7). Importances (M6) report against this ordering. */
  val AssembledFeatureNames: Array[String] = ScaledCols :+ "spike" :+ "event_type"

  /** The shared feature module (M15): one implementation serves training,
    * evaluation, and serving — eliminating the reference's drifting dual
    * pandas/PySpark re-implementations (ml_impl.py:73-104). */
  def featureFrame(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        col("event_type"),
        lagK(col("value"), 1, w).as("lag1"),
        lagK(col("value"), 3, w).as("lag3"),
        smaCents(col("value"), w, -5, -1).as("ma5"),
        volatility(col("value"), w, 14).as("volatility14"),
        rsi(col("value"), 14, w).as("rsi14"),
        momentum(col("value"), 3, w).as("mom3"),
        macd(col("value"), w).as("macd"),
        spikeFlag(col("value"), 5, 1.5, w).cast("double").as("spike"),
        lead1(col("value"), w).as("next_value"))
      // nullif: ANSI-mode Spark throws on /0 (zero-valued events exist at
      // sf0.1); null targets are dropped below
      .withColumn("target",
        (col("next_value") - col("value")) / nullif(col("value"), lit(0)))
      .withColumn("label", when(col("next_value") > col("value"), 1.0).otherwise(0.0))
      .na.drop(FeatureCols ++ Seq("next_value", "target"))
  }

  /** The split boundary of [[temporalSplit]] as its own 1-row frame —
    * max ts − `holdoutDays` days of nanos. Exposed so certificates that
    * check holdout membership (MlQueries.qMlServeCert) test the SAME
    * boundary definition the split uses, instead of duplicating the
    * day-nanos constant and drifting when it changes. */
  def holdoutCutoff(df: DataFrame, holdoutDays: Int): DataFrame =
    df.agg((max(col("ts")) - lit(holdoutDays * 86400e9.toLong)).as("cutoff"))

  /** M13: temporal split at (max ts − `holdoutDays` days of nanos), and
    * the one place a run's features are materialized: `df` is copied
    * once with `localCheckpoint()`, the cutoff is ONE 1-row collect over
    * that copy, and both sides are literal filters over it. Both fits,
    * both evals and serve then read the copy instead of re-running the
    * scan, the per-user window sort and the cutoff aggregate each time.
    *
    * localCheckpoint, not persist: persist() fitted other models
    * (perfbench cold_pipeline, seed 720: AUC 0.7961 → 0.8076, another
    * top-K). A cached plan may keep shuffle partitions that AQE
    * coalesces in the uncached plan (canChangeCachedPlanOutputPartitioning
    * is off by default), and GBT subsamples per partition. The
    * checkpoint keeps the partitioning `df` would execute with (the
    * lazy lineage's AQE-coalesced shuffle partitions, or a cached
    * frame's own partitions), so the models are those of fitting over
    * `df` itself.
    *
    * An empty `df` has a null cutoff: both sides are then empty, and
    * the trainers' empty-input contracts fire. */
  def temporalSplit(df: DataFrame, holdoutDays: Int): (DataFrame, DataFrame) = {
    val mat = df.localCheckpoint()
    val cutoff = lit(holdoutCutoff(mat, holdoutDays).head().get(0)).cast("long")
    (mat.filter(col("ts") < cutoff), mat.filter(col("ts") >= cutoff))
  }

  /** M1+M7+M8 assembly stages shared by both trainers: numeric block
    * assembled and robust-scaled; the categorical `event_type` is
    * label-encoded by a train-fitted StringIndexer (M7,
    * regression.py:265-271) and appended UNscaled — centering a category
    * index is meaningless and GBT splits are scale-invariant.
    * handleInvalid="skip" drops rows whose category was never seen in
    * training — the reference's P8 drop-unseen serving rule. */
  private def featureStages = Array(
    new StringIndexer().setInputCol("event_type").setOutputCol("event_type_idx")
      .setHandleInvalid("skip"),
    new VectorAssembler().setInputCols(ScaledCols).setOutputCol("rawFeatures"),
    new RobustScaler().setInputCol("rawFeatures").setOutputCol("scaledFeatures")
      .setWithCentering(true),
    new VectorAssembler().setInputCols(Array("scaledFeatures", "spike", "event_type_idx"))
      .setOutputCol("features"))

  /** M6: per-feature importances of a fitted GBT pipeline, named by
    * [[AssembledFeatureNames]] (ref classifier.py:96-100 prints the same
    * sorted list from sklearn's feature_importances_). */
  def featureImportances(model: PipelineModel): Seq[(String, Double)] = {
    val imp = model.stages.last match {
      case m: GBTClassificationModel => m.featureImportances
      case m: GBTRegressionModel     => m.featureImportances
      case other => throw new IllegalArgumentException(
        "featureImportances supports pipelines ending in GBTClassificationModel " +
          s"or GBTRegressionModel; got ${other.getClass.getName}")
    }
    AssembledFeatureNames.toSeq.zip(imp.toArray)
  }

  /** Weights a fit's input by class balance: the per-class counts and
    * their total come from ONE aggregate, and `weight` =
    * total/(2·n_class) (classifier.py:62-67, regression.py:351-371) is
    * a literal `when` chain over the collected counts (the same IEEE
    * value the in-plan division gives). No copy is taken here: every
    * MLlib pass of the fit (StringIndexer, RobustScaler, GBT metadata,
    * split finding, binning) re-reads `input`, so the trainers expect
    * a materialized frame — a side of [[temporalSplit]], whose filter
    * over the split's checkpoint is cheap to re-run and keeps its
    * partitioning.
    *
    * Declared loud-failure contract (degenerate sweep r19): a degenerate
    * fixture (one event per user, all-NULL features) leaves ZERO rows
    * after feature derivation + na.drop, and the pipeline would then die
    * in RobustScaler with a cryptic "QuantileSummaries on some features
    * are missing" — `emptyMessage` names the contract here instead. */
  private def classBalanced(input: DataFrame, cls: Column, emptyMessage: String): DataFrame = {
    val counts = input.groupBy(cls).count().collect().map(r => (r.get(0), r.getLong(1)))
    val total = counts.map(_._2).sum.toDouble
    require(total > 0, emptyMessage)
    val weight = counts.tail.foldLeft(when(cls === counts.head._1, total / (2.0 * counts.head._2))) {
      case (w, (c, n)) => w.when(cls === c, total / (2.0 * n))
    }
    input.withColumn("weight", weight)
  }

  /** M2-M6: class-weighted GBT direction classifier ([[classBalanced]]);
    * `train` is read once per MLlib pass, so pass a materialized frame
    * such as [[temporalSplit]]'s training side. */
  def trainClassifier(train: DataFrame, maxIter: Int = 20): (PipelineModel, DataFrame => DataFrame) = {
    val weighted = classBalanced(train, col("label"),
      "trainClassifier: training input is empty after feature derivation " +
        "(lag/rolling features need per-user history; an empty train set " +
        "is a declared loud-failure contract, not a model)")
    val gbt = new GBTClassifier()
      .setFeaturesCol("features").setLabelCol("label").setWeightCol("weight")
      .setMaxIter(maxIter).setMaxDepth(5).setStepSize(0.1)
      .setSubsamplingRate(0.8).setMaxBins(32).setSeed(42)
    val model = new Pipeline().setStages(featureStages :+ gbt).fit(weighted)
    // transform never reads weightCol (it's a fit-time concept) — score
    // plain frames directly
    (model, df => model.transform(df))
  }

  /** M4+M5: AUC, accuracy, and the grouped-count confusion matrix.
    * The scored frame is persisted for the duration: it is the output
    * of a lazy GBT transform, and without caching the AUC evaluator and
    * the confusion aggregate would each re-score the whole holdout. */
  def evalClassifier(scored: DataFrame): DataFrame = {
    scored.persist()
    try {
      val auc = new BinaryClassificationEvaluator()
        .setLabelCol("label").setRawPredictionCol("rawPrediction")
        .setMetricName("areaUnderROC").evaluate(scored)
      val agg = scored.agg(
        count(lit(1)).as("n"),
        sum(when(col("label") === col("prediction"), 1).otherwise(0)).as("n_correct"),
        sum(when(col("label") === 1 && col("prediction") === 1, 1).otherwise(0)).as("tp"),
        sum(when(col("label") === 0 && col("prediction") === 1, 1).otherwise(0)).as("fp"),
        sum(when(col("label") === 1 && col("prediction") === 0, 1).otherwise(0)).as("fn"),
        sum(when(col("label") === 0 && col("prediction") === 0, 1).otherwise(0)).as("tn"))
        .withColumn("accuracy", col("n_correct") / col("n"))
        .withColumn("auc", lit(auc))
      agg.localCheckpoint(true) // materialize before unpersisting the input
    } finally scored.unpersist()
  }

  /** M9-M10: GBT return regressor with direction-balanced sample weights
    * (inverse sign frequency, regression.py:351-371). Zero-return rows
    * are dropped BEFORE weighting, as the reference does
    * (regression.py:182-186): total/(2·n_sign) assumes two sign
    * classes, and a rare third sgn=0 group would receive enormous
    * weights that dominate the loss. `train` is read once per MLlib
    * pass ([[classBalanced]]), so pass a materialized frame such as
    * [[temporalSplit]]'s training side. */
  def trainRegressor(train: DataFrame, maxIter: Int = 20): PipelineModel = {
    val weighted = classBalanced(train.filter(signum(col("target")) =!= 0), signum(col("target")),
      "trainRegressor: training input has no non-zero-return rows — " +
        "an empty train set is a declared loud-failure contract, not a model")
    val gbt = new GBTRegressor()
      .setFeaturesCol("features").setLabelCol("target").setWeightCol("weight")
      .setMaxIter(maxIter).setMaxDepth(5).setStepSize(0.1)
      .setSubsamplingRate(0.8).setMaxBins(32).setSeed(42)
    new Pipeline().setStages(featureStages :+ gbt).fit(weighted)
  }

  /** M9's search component: cross-validated hyperparameter tuning
    * (ParamGridBuilder × CrossValidator) over the GBT regressor — the
    * MLlib analog of the reference's RandomizedSearchCV(50×5-fold,
    * regression.py:399-404), with the folds and fits distributed instead
    * of single-process n_jobs. Grid size × folds is caller-controlled;
    * the reference's 250 fits are a parameter choice, not a code shape. */
  def tuneRegressor(train: DataFrame,
                    maxIter: Int = 10,
                    numFolds: Int = 2): org.apache.spark.ml.tuning.CrossValidatorModel = {
    import org.apache.spark.ml.tuning.{CrossValidator, ParamGridBuilder}
    val gbt = new GBTRegressor()
      .setFeaturesCol("features").setLabelCol("target")
      .setMaxIter(maxIter).setSeed(42)
    val pipeline = new Pipeline().setStages(featureStages :+ gbt)
    val grid = new ParamGridBuilder()
      .addGrid(gbt.maxDepth, Array(3, 5))
      .addGrid(gbt.stepSize, Array(0.1, 0.05))
      .build()
    new CrossValidator()
      .setEstimator(pipeline)
      .setEvaluator(new RegressionEvaluator()
        .setLabelCol("target").setPredictionCol("prediction").setMetricName("rmse"))
      .setEstimatorParamMaps(grid)
      .setNumFolds(numFolds)
      .setParallelism(2)
      .setSeed(42)
      .fit(train)
  }

  /** M11+M12: RMSE/MSE/MAE/R² + directional accuracy and sign confusion.
    * rmse, mae and r2 come from ONE `RegressionMetrics` summary (the
    * object `RegressionEvaluator.evaluate` builds afresh per metric, so
    * the values are bit-identical to three evaluator calls at a third of
    * the passes); mse is rmse² by definition. Persisted for the duration
    * (see [[evalClassifier]]) — the summary and the direction aggregate
    * would otherwise each re-run the GBT transform. */
  def evalRegressor(scored: DataFrame): DataFrame = {
    scored.persist()
    try {
      val metrics = new RegressionEvaluator()
        .setLabelCol("target").setPredictionCol("prediction").getMetrics(scored)
      val rmse = metrics.rootMeanSquaredError
      val dir = scored.agg(
        count(lit(1)).as("n"),
        sum(when(signum(col("target")) === signum(col("prediction")), 1).otherwise(0))
          .as("n_dir_correct"))
        .withColumn("dir_accuracy", col("n_dir_correct") / col("n"))
        .withColumn("rmse", lit(rmse))
        .withColumn("mse", lit(rmse * rmse))
        .withColumn("mae", lit(metrics.meanAbsoluteError))
        .withColumn("r2", lit(metrics.r2))
      dir.localCheckpoint(true) // materialize before unpersisting the input
    } finally scored.unpersist()
  }

  /** In-plan quality gates for the rows-only ML queries, mirroring the
    * ANN recall gates (SimilarityQueries.recallGated): the metric row —
    * and every row cross-joined against it — survives only while the
    * seeded model clears measured floors, so the driver's rows-only
    * CORRECTNESS count is a live quality gate, not a bare count.
    *
    * Floors sit just under the minima measured across sf0.001/0.01/0.1
    * (maxIter=10, temporalSplit(7), probe run 2026-08-12):
    * AUC 0.761/0.816/0.818 → floor 0.70; accuracy 0.726/0.745/0.741 →
    * floor 0.65; directional accuracy 0.665/0.665/0.710 → floor 0.60
    * (chance ≈ 0.5). R² measured NEGATIVE at every SF (−44.9/−11.1/−0.06):
    * next-step returns are heavy-tailed, so squared error rewards the
    * mean-predictor and R² is not a usable quality floor here — the gate
    * instead checks it is finite and ≤ 1 and leans on directional
    * accuracy, the metric the reference itself ranks serving output by.
    * MlSpec asserts the measured metrics clear the floors AND that
    * sabotaged scored frames (flipped labels / negated predictions)
    * produce ZERO gated rows. */
  val AucFloor = 0.70
  val AccuracyFloor = 0.65
  val DirAccuracyFloor = 0.60

  /** Gate over [[evalClassifier]] output: metric floors plus internal
    * consistency (confusion cells partition n; n_correct = tp + tn). */
  def classifierGate: org.apache.spark.sql.Column =
    col("auc") > AucFloor && col("auc") <= 1.0 &&
      col("accuracy") >= AccuracyFloor && col("accuracy") <= 1.0 &&
      col("n") > 0 &&
      (col("tp") + col("fp") + col("fn") + col("tn") === col("n")) &&
      (col("n_correct") === col("tp") + col("tn"))

  /** Gate over [[evalRegressor]] output: directional-accuracy floor plus
    * finite error metrics. rmse/mae are allowed to be exactly 0 — a
    * perfect fit must not read as a failure — and r2 is bounded BELOW by
    * Double.MinValue so a constant-target holdout's r2 = −Infinity fails
    * the finiteness claim instead of sneaking past a NaN-only check.
    * (No mse-vs-rmse² clause: evalRegressor constructs mse AS rmse², so
    * such a check would be tautological dead code, not a safeguard.) */
  def regressorGate: org.apache.spark.sql.Column =
    col("dir_accuracy") >= DirAccuracyFloor && col("dir_accuracy") <= 1.0 &&
      col("n") > 0 &&
      !isnan(col("rmse")) && col("rmse") >= 0 &&
      !isnan(col("mae")) && col("mae") >= 0 &&
      !isnan(col("r2")) && col("r2") <= 1.0 && col("r2") >= lit(Double.MinValue)

  /** M16: serving post-processing — predicted next value from predicted
    * return, next-step timestamp, ranked output (ml_impl.py:146-156,191). */
  def servePredictions(scored: DataFrame, topK: Int = 20): DataFrame =
    scored.select(
      col("event_id"), col("user_id"),
      col("value"),
      col("prediction").as("predicted_return"),
      (col("value") * (lit(1.0) + col("prediction"))).as("predicted_value"))
      .orderBy(desc("predicted_return"), col("event_id"))
      .limit(topK)

  /** Leakage guard used by tests and the verify query: max train ts must
    * precede min test ts. A degenerate split (either side empty — the
    * aggregates come back null) is reported as NOT leak-free rather
    * than NPE-ing. */
  def splitIsLeakFree(train: DataFrame, test: DataFrame): Boolean = {
    val a = train.agg(max("ts")).head()
    val b = test.agg(min("ts")).head()
    !a.isNullAt(0) && !b.isNullAt(0) && a.getLong(0) < b.getLong(0)
  }
}
