package graft

import org.apache.spark.sql.functions._
import org.apache.spark.ml.functions.vector_to_array

/** Dump the ML pipeline's scored frames + emitted metrics for the
  * independent-reference audit (tools/audit/audit_ml.py): the four GBT
  * certificate queries are the one board family whose VALUES the DuckDB
  * oracle cannot check (model internals), so the audit instead
  * re-derives every emitted METRIC — AUC, accuracy, confusion cells,
  * RMSE/MSE/MAE/R², directional accuracy, the serve ranking and the
  * importance invariants — from the scored rows in NumPy and compares
  * against what [[graft.ml.Pipelines.evalClassifier]] /
  * [[graft.ml.Pipelines.evalRegressor]] computed. The TRAINING stays
  * Spark ML (seeded, spec-covered); this closes the metric-formula gap.
  *
  * Usage: MlAudit <sfDir> <outDir> — writes cls_scored/cls_metrics/
  * reg_scored/reg_metrics/serve/importances parquet dirs.
  */
object MlAudit {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: MlAudit <sfDir> <outDir>")
    val sfDir = args(0)
    val outDir = args(1)
    val spark = GraftSession.local()
    import spark.implicits._

    // the exact MlQueries construction: maxIter = 10, temporalSplit(7)
    val feats = ml.Pipelines.featureFrame(spark, sfDir).cache()
    feats.count()
    val (train, test) = ml.Pipelines.temporalSplit(feats, 7)

    val clsModel = ml.Pipelines.trainClassifier(train, maxIter = 10)._1
    val scoredC = clsModel.transform(test).cache()
    scoredC
      .select(col("label").cast("double").as("label"),
        col("prediction").cast("double").as("prediction"),
        // margin score — the ranking BinaryClassificationEvaluator uses
        element_at(vector_to_array(col("rawPrediction")), 2).as("score"))
      .write.mode("overwrite").parquet(s"$outDir/cls_scored")
    ml.Pipelines.evalClassifier(scoredC)
      .write.mode("overwrite").parquet(s"$outDir/cls_metrics")

    ml.Pipelines.featureImportances(clsModel)
      .toDF("feature", "importance")
      .write.mode("overwrite").parquet(s"$outDir/importances")

    val regModel = ml.Pipelines.trainRegressor(train, maxIter = 10)
    val scoredR = regModel.transform(test).cache()
    scoredR.select(col("event_id"), col("value"), col("target"),
        col("prediction"))
      .write.mode("overwrite").parquet(s"$outDir/reg_scored")
    ml.Pipelines.evalRegressor(scoredR)
      .write.mode("overwrite").parquet(s"$outDir/reg_metrics")
    ml.Pipelines.servePredictions(scoredR, topK = 20)
      .write.mode("overwrite").parquet(s"$outDir/serve")

    spark.stop()
  }
}
