package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every declared query runs at sf0.001 and returns a sane schema; the
  * queries with data-dependent output sizes at this SF may be empty, all
  * others must produce rows. */
class QueriesSmokeSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private val mayBeEmpty = Set(
    "q_join_left", "q_filter_isin", "q_except", "q_intersect", "q_union",
    "q_join_semi", "q_join_anti", "q_topk", "q_filter_compound",
    "q_crossover", "q_zscore_anomaly", "q_anomaly_daily", "q_threshold_alert",
    "q_dedup_jaccard", "q_dedup_minhash", "q_ngram_sim", "q_embedding_neardup")

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"$name runs at sf0.001") {
      val df = fn(spark, TestSpark.Sf)
      val n = df.count()
      assert(df.columns.nonEmpty)
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned no rows")
    }
  }

  test("every public q-method of the query objects is registered") {
    import org.apache.spark.sql.{DataFrame, SparkSession}
    // a public `def q…(spark: SparkSession, dir: String): DataFrame` that
    // no `queries` map names is an unregistered twin of a registered query
    val objects = Seq(queries.Relational, queries.TimeSeriesQueries, queries.TextStats,
      queries.TextDedup, queries.SimilarityQueries, queries.MlQueries,
      queries.ScalarQueries, queries.TemporalJoinQueries, queries.TrainingDataQueries,
      queries.MultimodalQueries, queries.SourceQueries, queries.StatQueries)
    val qMethods = objects.flatMap(_.getClass.getMethods.filter { m =>
      m.getName.matches("q[A-Z0-9].*") &&
        m.getParameterTypes.toSeq == Seq(classOf[SparkSession], classOf[String]) &&
        classOf[DataFrame].isAssignableFrom(m.getReturnType)
    }.map(m => s"${m.getDeclaringClass.getSimpleName}.${m.getName}"))
    assert(qMethods.size == SparkEntry.queries.size,
      s"${qMethods.size} q-methods vs ${SparkEntry.queries.size} registered: " +
        qMethods.sorted.mkString(", "))
  }

  test("every query has an oracle or is documented rows-only") {
    // the 4 q_ml_* metric queries moved OFF this list in round 10 and
    // the 6 recall-gated ANN/semantic entries in round 13: their
    // registered forms emit theorem certificates with constant-pinned
    // oracles, so an accidental oracle removal must fail HERE
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(noOracle.subsetOf(
      Set("q_multimodal_decode")), // self-gated on closed-form luma (no PNG codec in DuckDB)
      s"undocumented rows-only: $noOracle")
  }

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
