package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SQL exposure of the graft engine:
  *  - scalar expressions `graft_dot(a, b)` and
  *    `graft_hyperplane_bucket(vec, planeOffset, planeCount)`;
  *  - the [[AsOfJoinStrategy]] planner rule for the native as-of join;
  *  - table functions — `asof_join(l, r, key, ts, value[, out])` plans
  *    the native [[AsOfJoinExec]], and `sessionize` / `dedup_exact` /
  *    `minhash_dedup` reach the composed operators — each backed by a
  *    resolution rule ([[ResolveAsOfJoin]], [[ResolveGraftOp]]).
  *
  * Two registration paths:
  *  - [[GraftExtensions]] for session construction
  *    (`.withExtensions(new GraftExtensions)`) or
  *    `spark.sql.extensions=graft.plans.GraftExtensions` cluster config;
  *  - [[GraftFunctions.register]] for an already-running session —
  *    scalar functions only: resolution rules cannot be added to a live
  *    session, so the table functions require the extensions path.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftFunctions.{buildBucket, buildDot}

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => AsOfJoinStrategy)
    e.injectResolutionRule(_ => ResolveAsOfJoin)
    e.injectResolutionRule(s => ResolveGraftOp(s))
    // composed-operator TVFs: SQL reaches the DataFrame-only operators
    // (sessionize / exact dedup / MinHash-LSH dedup) through one shared
    // placeholder + resolution-rule recipe — see ResolveGraftOp
    GraftFunctions.composedTvfs.foreach { case (name, (usage, nArgs)) =>
      e.injectTableFunction((
        org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new ExpressionInfo(classOf[UnresolvedGraftOp].getName, name),
        GraftFunctions.buildGraftOp(name, usage, nArgs)))
    }
    GraftFunctions.composedTvfs2.foreach { case (name, (usage, nArgs)) =>
      e.injectTableFunction((
        org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new ExpressionInfo(classOf[UnresolvedGraftOp2].getName, name),
        GraftFunctions.buildGraftOp2(name, usage, nArgs)))
    }
    // SQL-callable as-of join: SELECT * FROM asof_join('l','r','k','ts','v')
    // — the one operator a SQL-only client couldn't reach before. Needs a
    // session built with these extensions (the resolution rule cannot be
    // added to a live session), the standard contract for Spark extension
    // modules.
    e.injectTableFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("asof_join"),
      new ExpressionInfo(classOf[AsOfJoinNode].getName, "asof_join"),
      GraftFunctions.buildAsOfJoin))
    e.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      buildDot))
    e.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("graft_hyperplane_bucket"),
      new ExpressionInfo(classOf[HyperplaneBuckets].getName, "graft_hyperplane_bucket"),
      buildBucket))
  }
}

/** SQL-surface placeholder for the COMPOSED graft operators (sessionize,
  * dedup): carries the op name and already-extracted literal arguments;
  * [[ResolveGraftOp]] applies the real DataFrame operator once the table
  * resolves. One node serves every composed TVF — unlike the as-of join
  * there is no custom physical operator underneath, so the rewrite can
  * delegate to the public operator API instead of hand-building plans. */
case class UnresolvedGraftOp(
    child: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
    op: String, args: Seq[Any])
  extends org.apache.spark.sql.catalyst.plans.logical.UnaryNode {
  import org.apache.spark.sql.catalyst.expressions.Attribute
  override lazy val resolved: Boolean = false
  override def output: Seq[Attribute] = Nil
  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): UnresolvedGraftOp =
    copy(child = newChild)
}

/** Two-table sibling of [[UnresolvedGraftOp]] for composed operators
  * that consume a pair of frames (incremental dedup: corpus × batch) —
  * same placeholder + resolution-rule recipe, binary child. */
case class UnresolvedGraftOp2(
    left: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
    right: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
    op: String, args: Seq[Any])
  extends org.apache.spark.sql.catalyst.plans.logical.BinaryNode {
  import org.apache.spark.sql.catalyst.expressions.Attribute
  override lazy val resolved: Boolean = false
  override def output: Seq[Attribute] = Nil
  override protected def withNewChildrenInternal(
      newLeft: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      newRight: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): UnresolvedGraftOp2 =
    copy(left = newLeft, right = newRight)
}

/** Resolves [[UnresolvedGraftOp]] by wrapping the resolved child in a
  * DataFrame (GraftBridge.ofRows) and applying the corresponding operator
  * from graft.operators — the composed plan is analyzed and spliced
  * back; the surrounding fixpoint then resolves any parent references
  * against its output. */
case class ResolveGraftOp(spark: org.apache.spark.sql.SparkSession)
  extends org.apache.spark.sql.catalyst.rules.Rule[
    org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
  import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
  import org.apache.spark.sql.functions.col

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsUp {
    case u: UnresolvedGraftOp if u.childrenResolved =>
      splice(u.op, u.args,
        Seq(org.apache.spark.sql.GraftBridge.ofRows(spark, u.child)))
    case u: UnresolvedGraftOp2 if u.childrenResolved =>
      splice(u.op, u.args,
        Seq(org.apache.spark.sql.GraftBridge.ofRows(spark, u.left),
          org.apache.spark.sql.GraftBridge.ofRows(spark, u.right)))
  }

  /** Shared splice path for the one- and two-table placeholders: build
    * the composed operator frame, run the (re-entrant) nested analysis,
    * and assert no graft placeholder survives. */
  private def splice(op: String, args: Seq[Any],
                     dfs: Seq[org.apache.spark.sql.DataFrame]): LogicalPlan = {
    // arg-extraction failures are ALREADY op-prefixed and must pass
    // through unwrapped; a plain IllegalArgumentException is NOT a
    // reliable marker — operator bodies throw it too (scala require()),
    // and those need the op/usage wrapping — hence the private subtype
    def argError(msg: String) = new ResolveGraftOp.GraftTvfArgException(msg)
    def str(i: Int): String = args(i) match {
      case s: String => s
      case other => throw argError(
        s"$op: scalar argument ${i + 1} must be a string literal, got $other")
    }
    def lng(i: Int): Long = args(i) match {
      case l: Long => l
      case n: Int => n.toLong
      case other => throw argError(
        s"$op: scalar argument ${i + 1} must be an integer literal, got $other")
    }
    def dbl(i: Int): Double = args(i) match {
      case d: Double => d
      case l: Long => l.toDouble
      case n: Int => n.toDouble
      case other => throw argError(
        s"$op: scalar argument ${i + 1} must be a numeric literal, got $other")
    }
    // this nested analysis is re-entrant (a full QueryExecution from
    // inside an analyzer rule); guard it so (a) an operator-construction
    // failure surfaces with the TVF name + usage instead of an opaque
    // mid-analysis stack, and (b) a composed operator that ever emitted
    // another graft placeholder fails fast instead of looping (ADVICE r4)
    val spliced = try {
      val out = op match {
        case "sessionize" => // (key, ts, gapNanos, idCol)
          graft.operators.Sessionize.withSessionIdx(
            dfs(0), str(0), str(1), lng(2), Seq(col(str(1)), col(str(3))))
        case "dedup_exact" => // (idCol, textCol)
          graft.operators.Dedup.exactDedup(dfs(0), str(0), str(1))
        case "minhash_dedup" => // (idCol, textCol, threshold)
          graft.operators.Dedup.minhashDedupPairs(
            dfs(0), idCol = str(0), textCol = str(1), threshold = dbl(2))
        case "repetition_filter" => // (idCol, textCol)
          graft.queries.TextStats.repetitionStats(dfs(0), str(0), str(1))
        case "dedup_incremental" => // corpus, batch, (idCol, textCol, threshold)
          graft.operators.Dedup.incrementalDedup(
            dfs(0), dfs(1), threshold = dbl(2), idCol = str(0), textCol = str(1))
        case "pii_redact" => // (idCol, textCol)
          graft.queries.TextStats.piiRedact(dfs(0), str(0), str(1))
        case "span_dedup" => // (idCol, textCol, spanLen)
          graft.operators.Dedup.spanDedup(
            dfs(0), spanLen = lng(2).toInt, idCol = str(0), textCol = str(1))
        case "containment_pairs" => // (idCol, textCol, n, threshold)
          graft.operators.Dedup.containmentPairs(
            dfs(0), n = lng(2).toInt, threshold = dbl(3),
            idCol = str(0), textCol = str(1))
        case "simhash_dedup" => // (idCol, textCol, maxDist)
          graft.operators.Dedup.simhashPairs(
            dfs(0), maxDist = lng(2).toInt, idCol = str(0), textCol = str(1))
        case "simhash_wide_dedup" => // (idCol, textCol, maxDist)
          graft.operators.Dedup.simhashPairsWide(
            dfs(0), maxDist = lng(2).toInt, idCol = str(0), textCol = str(1))
        case "simhash_wide20_dedup" => // (idCol, textCol, maxDist)
          graft.operators.Dedup.simhashPairsWide20(
            dfs(0), maxDist = lng(2).toInt, idCol = str(0), textCol = str(1))
        case "crossdoc_ngram" => // (idCol, textCol, n)
          graft.queries.TextStats.crossdocNgramStats(
            dfs(0), n = lng(2).toInt, idCol = str(0), textCol = str(1))
        case "sample_per_group" => // (groupCol, idCol, k)
          graft.queries.TrainingDataQueries.samplePerGroup(
            dfs(0), str(0), str(1), lng(2).toInt)
        case "top_ngrams" => // (idCol, textCol, n, k)
          graft.queries.TextStats.topNgrams(
            dfs(0), n = lng(2).toInt, k = lng(3).toInt,
            idCol = str(0), textCol = str(1))
        case "outlier_mad" => // (groupCol, valueCol, idCol)
          graft.queries.TrainingDataQueries.outlierMad(
            dfs(0), str(0), str(1), str(2))
        case "cluster_sample" => // (idCol, vecCol, dims, k)
          graft.queries.SimilarityQueries.clusterSample(
            dfs(0), str(0), str(1), lng(2).toInt, lng(3).toInt)
        case "filter_funnel" => // (textCol, langCol, charsCol)
          graft.queries.TextStats.filterFunnel(dfs(0), str(0), str(1), str(2))
        case "token_estimate" => // (idCol, textCol)
          graft.queries.TextStats.tokenEstimate(dfs(0), str(0), str(1))
        case "upsample_repeat" => // (langCol, idCol)
          graft.queries.TrainingDataQueries.upsampleRepeat(dfs(0), str(0), str(1))
        case "pmi_bigrams" => // (idCol, textCol, k)
          graft.queries.TextStats.pmiBigrams(
            dfs(0), k = lng(2).toInt, idCol = str(0), textCol = str(1))
        case "editdist_pairs" => // (idCol, textCol, prefix, maxDist)
          graft.queries.TextDedup.editdistPairs(
            dfs(0), prefix = lng(2).toInt, maxDist = lng(3).toInt,
            idCol = str(0), textCol = str(1))
        case "epoch_shuffle" => // (idCol, seed, shards)
          graft.queries.TrainingDataQueries.epochShuffle(
            dfs(0), str(0), str(1), lng(2).toInt)
        case "cohort_retention" => // (userCol, tsCol)
          graft.queries.TimeSeriesQueries.cohortRetention(dfs(0), str(0), str(1))
        case "transition_matrix" => // (userCol, typeCol, tsCol, idCol)
          graft.queries.TimeSeriesQueries.transitionMatrix(
            dfs(0), str(0), str(1), str(2), str(3))
        case "funnel_steps" => // (userCol, typeCol, tsCol, s1, s2, s3)
          graft.queries.TimeSeriesQueries.funnelSequence(
            dfs(0), str(0), str(1), str(2), Seq(str(3), str(4), str(5)))
        case "dataset_card" => // (langCol, textCol)
          graft.queries.TextStats.datasetCard(dfs(0), str(0), str(1))
        case "interpolate_hourly" => // (typeCol, tsCol, valCol, idCol)
          graft.queries.TimeSeriesQueries.interpolateHourly(
            dfs(0), str(0), str(1), str(2), str(3))
        case "seasonal_baseline" => // (typeCol, tsCol, valCol)
          graft.queries.TimeSeriesQueries.seasonalBaseline(
            dfs(0), str(0), str(1), str(2))
        case "psi_drift" => // (typeCol, tsCol, valCol, splitDay)
          graft.queries.TrainingDataQueries.psiDrift(
            dfs(0), str(0), str(1), str(2), lng(3).toInt)
        case "ab_test" => // (typeCol, tsCol, valCol, splitDay)
          graft.queries.TrainingDataQueries.abTest(
            dfs(0), str(0), str(1), str(2), lng(3).toInt)
        case "quantile_buckets" => // (typeCol, valCol, idCol, k)
          graft.queries.ScalarQueries.quantileBuckets(
            dfs(0), str(0), str(1), str(2), lng(3).toInt)
        case "bigram_logprob" => // (idCol, textCol)
          graft.queries.TextStats.bigramLogprob(dfs(0), str(0), str(1))
        case "group_split" => // (idCol, textCol)
          graft.queries.TextDedup.groupSplit(dfs(0), str(0), str(1))
        case "token_entropy" => // (idCol, textCol)
          graft.queries.TextStats.tokenEntropy(dfs(0), str(0), str(1))
        case "lift_pairs" => // (userCol, tsCol, typeCol)
          graft.queries.TimeSeriesQueries.liftPairs(
            dfs(0), str(0), str(1), str(2))
        case "feature_hash" => // (idCol, textCol, dim)
          graft.queries.TextStats.featureHash(
            dfs(0), str(0), str(1), lng(2).toInt)
        case "bm25" => // (idCol, textCol, commaSeparatedTerms)
          graft.queries.TextStats.bm25(dfs(0), str(0), str(1), str(2))
        case "salted_rolling" => // (key, ts, valCol, frameNs, chunkNs)
          graft.operators.SaltedWindow.saltedRollingSum(
            dfs(0), str(0), str(1), str(2), lng(3), lng(4))
        case "roc_auc" => // (typeCol, tsCol, valCol, posType, negType)
          graft.queries.StatQueries.rocAuc(
            dfs(0), str(0), str(1), str(2), str(3), str(4))
        case "linreg_closed" => // (typeCol, tsCol, valCol)
          graft.queries.StatQueries.linregClosed(dfs(0), str(0), str(1), str(2))
        case "ks_test" => // (typeCol, tsCol, valCol, splitDay)
          graft.queries.StatQueries.ksTest(
            dfs(0), str(0), str(1), str(2), lng(3).toInt)
        case "cusum_shift" => // (typeCol, tsCol)
          graft.queries.StatQueries.cusumShift(dfs(0), str(0), str(1))
        case "gini" => // (typeCol, userCol)
          graft.queries.StatQueries.giniConcentration(dfs(0), str(0), str(1))
        case "spearman" => // (typeCol, tsCol, valCol)
          graft.queries.StatQueries.spearman(dfs(0), str(0), str(1), str(2))
        case "mann_kendall" => // (typeCol, tsCol)
          graft.queries.StatQueries.mannKendall(dfs(0), str(0), str(1))
        case "kruskal_wallis" => // (typeCol, valCol)
          graft.queries.StatQueries.kruskalWallis(dfs(0), str(0), str(1))
        case "theil_sen" => // (typeCol, tsCol)
          graft.queries.StatQueries.theilSen(dfs(0), str(0), str(1))
        case "cramers_v" => // (typeCol, tsCol)
          graft.queries.StatQueries.cramersV(dfs(0), str(0), str(1))
        case "mutual_info" => // (typeCol, tsCol)
          graft.queries.StatQueries.mutualInfo(dfs(0), str(0), str(1))
        case "kaplan_meier" => // (userCol, tsCol, typeCol, eventType)
          graft.queries.StatQueries.kaplanMeier(
            dfs(0), str(0), str(1), str(2), str(3))
        case "brown_forsythe" => // (typeCol, valCol)
          graft.queries.StatQueries.brownForsythe(dfs(0), str(0), str(1))
        case "embedding_drift" => // (idCol, vecCol)
          graft.queries.SimilarityQueries.embeddingDrift(
            dfs(0), str(0), str(1))
        case "changepoint" => // (typeCol, tsCol)
          graft.queries.StatQueries.changepoint(dfs(0), str(0), str(1))
        case "runs_test" => // (typeCol, tsCol)
          graft.queries.StatQueries.runsTest(dfs(0), str(0), str(1))
        case "key_skew" => // (keyCol)
          graft.queries.ScalarQueries.keySkew(dfs(0), str(0))
        case "hill_tail" => // (typeCol, valCol)
          graft.queries.StatQueries.hillTail(dfs(0), str(0), str(1))
        case "outlier_iqr" => // (typeCol, valCol)
          graft.queries.StatQueries.outlierIqr(dfs(0), str(0), str(1))
        case "dispersion_index" => // (typeCol, tsCol)
          graft.queries.StatQueries.dispersionIndex(dfs(0), str(0), str(1))
        case "anova_f" => // (typeCol, valCol)
          graft.queries.StatQueries.anovaF(dfs(0), str(0), str(1))
        case "moment_profile" => // (typeCol, valCol)
          graft.queries.StatQueries.momentProfile(dfs(0), str(0), str(1))
        case "markov_entropy" => // (userCol, typeCol, tsCol, idCol)
          graft.queries.StatQueries.markovEntropy(
            dfs(0), str(0), str(1), str(2), str(3))
        case "peak_detection" => // (typeCol, tsCol)
          graft.queries.StatQueries.peakDetection(dfs(0), str(0), str(1))
        case "rank_fractions" => // (typeCol, valCol, idCol)
          graft.queries.ScalarQueries.rankFractions(
            dfs(0), str(0), str(1), str(2))
        case "trimmed_mean" => // (typeCol, valCol, idCol, pct)
          graft.queries.ScalarQueries.trimmedMean(
            dfs(0), str(0), str(1), str(2), lng(3).toInt)
        case "kendall_tau" => // (typeCol, tsCol)
          graft.queries.StatQueries.kendallTau(dfs(0), str(0), str(1))
        case "weekly_power" => // (typeCol, tsCol)
          graft.queries.StatQueries.weeklyPower(dfs(0), str(0), str(1))
        case "day_corr_matrix" => // (typeCol, tsCol)
          graft.queries.StatQueries.dayCorrMatrix(dfs(0), str(0), str(1))
        case "lexical_diversity" => // (idCol, textCol)
          graft.queries.TextStats.lexicalDiversityDocs(
            dfs(0), str(0), str(1))
        case "dedup_sweep" => // (idCol, textCol)
          graft.queries.TextDedup.dedupSweep(dfs(0), str(0), str(1))
        case "vocab_drift" => // (idCol, textCol)
          graft.queries.TextStats.vocabDrift(dfs(0), str(0), str(1))
        case "effect_size" => // (typeCol, tsCol, valCol, splitDay)
          graft.queries.StatQueries.effectSize(
            dfs(0), str(0), str(1), str(2), lng(3).toInt)
        case "crosscorr" => // (typeCol, tsCol, typeA, typeB, maxLag)
          graft.queries.StatQueries.crossCorr(
            dfs(0), str(0), str(1), str(2), str(3), lng(4).toInt)
        case "jsd_drift" => // (typeCol, tsCol, valCol, splitDay)
          graft.queries.TrainingDataQueries.jsdDrift(
            dfs(0), str(0), str(1), str(2), lng(3).toInt)
        case "hellinger" => // (typeCol, tsCol, valCol, splitDay)
          graft.queries.TrainingDataQueries.hellingerDrift(
            dfs(0), str(0), str(1), str(2), lng(3).toInt)
        case "mode_value" => // (typeCol, valCol)
          graft.queries.ScalarQueries.modeValue(dfs(0), str(0), str(1))
        case "temperature_mix" => // (langCol, textCol)
          graft.queries.TrainingDataQueries.temperatureMix(
            dfs(0), str(0), str(1))
        case "curriculum" => // (textCol)
          graft.queries.TextStats.curriculum(dfs(0), str(0))
        case "zipf_fit" => // (idCol, textCol, k)
          graft.queries.TextStats.zipfFit(dfs(0), str(0), str(1), lng(2).toInt)
        case "interarrival" => // (typeCol, tsCol, idCol)
          graft.queries.TimeSeriesQueries.interarrival(
            dfs(0), str(0), str(1), str(2))
        case "completeness" => // (typeCol, tsCol)
          graft.queries.TimeSeriesQueries.completeness(dfs(0), str(0), str(1))
        case "value_entropy" => // (typeCol, valCol)
          graft.queries.StatQueries.valueEntropy(dfs(0), str(0), str(1))
        case "power_analysis" => // (typeCol, tsCol, valCol, splitDay)
          graft.queries.TrainingDataQueries.powerAnalysis(
            dfs(0), str(0), str(1), str(2), lng(3).toInt)
        case "readability" => // (idCol, textCol)
          graft.queries.TextStats.readability(dfs(0), str(0), str(1))
        case "quantile_drift" => // (typeCol, tsCol, valCol, splitDay)
          graft.queries.TrainingDataQueries.quantileDrift(
            dfs(0), str(0), str(1), str(2), lng(3).toInt)
        case "token_gini" => // (idCol, textCol)
          graft.queries.TextStats.tokenGiniDocs(dfs(0), str(0), str(1))
        case "bpe_pairs" => // (idCol, textCol, k)
          graft.queries.TextStats.bpePairs(
            dfs(0), str(0), str(1), lng(2).toInt)
        case "rake_keywords" => // (idCol, textCol, k)
          graft.queries.TextStats.rakeKeywords(
            dfs(0), str(0), str(1), lng(2).toInt)
        case "autocorr" => // (typeCol, tsCol, maxLag)
          graft.queries.StatQueries.autocorr(
            dfs(0), str(0), str(1), lng(2).toInt)
        case "benford" => // (typeCol, valCol)
          graft.queries.StatQueries.benfordAudit(dfs(0), str(0), str(1))
        case "chi_square" => // (typeCol, tsCol)
          graft.queries.StatQueries.chiSquare(dfs(0), str(0), str(1))
        case "twap" => // (typeCol, tsCol, valCol, idCol)
          graft.queries.TimeSeriesQueries.twap(
            dfs(0), str(0), str(1), str(2), str(3))
        case "streaks" => // (userCol, tsCol, k)
          graft.queries.TimeSeriesQueries.streaks(
            dfs(0), str(0), str(1), lng(2).toInt)
        case "funnel_timebound" => // (userCol, typeCol, tsCol, s1, s2, s3, gapNs)
          graft.queries.TimeSeriesQueries.funnelTimebound(
            dfs(0), str(0), str(1), str(2),
            Seq(str(3), str(4), str(5)), lng(6))
        case "rfm" => // (userCol, tsCol, valCol)
          graft.queries.TimeSeriesQueries.rfm(dfs(0), str(0), str(1), str(2))
        case "vocab_coverage" => // (idCol, textCol, k)
          graft.queries.TextStats.vocabCoverage(
            dfs(0), str(0), str(1), lng(2).toInt)
        case "attribution" => // (userCol, typeCol, tsCol, idCol, valCol, purchaseType)
          graft.queries.TemporalJoinQueries.attribution(
            dfs(0), str(0), str(1), str(2), str(3), str(4), str(5))
        case "session_paths" => // (userCol, typeCol, tsCol, idCol, gapNs, depth, k)
          graft.queries.TemporalJoinQueries.sessionPaths(
            dfs(0), str(0), str(1), str(2), str(3), lng(4),
            lng(5).toInt, lng(6).toInt)
        case "seasonality_strength" => // (typeCol, tsCol, valCol)
          graft.queries.StatQueries.seasonalityStrength(
            dfs(0), str(0), str(1), str(2))
        case "embedding_quantize" => // (idCol, vecCol)
          graft.queries.SimilarityQueries.embeddingQuantize(
            dfs(0), str(0), str(1))
        case "cohort_ltv" => // (userCol, tsCol, valCol)
          graft.queries.TimeSeriesQueries.cohortLtv(
            dfs(0), str(0), str(1), str(2))
        case "ngram_novelty" => // (idCol, textCol, n)
          graft.queries.TextStats.ngramNovelty(
            dfs(0), str(0), str(1), lng(2).toInt)
        case "decontaminate" => // corpus, bench, (idCol, textCol)
          graft.queries.TextDedup.decontaminate(
            dfs(0), dfs(1), idCol = str(0), textCol = str(1))
        case "band_join" => // left, right, (key, lts, rts, tol)
          graft.operators.BandJoin.bandJoin(
            dfs(0), dfs(1), str(0), str(1), str(2), lng(3))
        case "scd2_merge" => // current, changes, (keyCol, batchDate)
          graft.operators.Scd2.merge(
            dfs(0), dfs(1), Seq(str(0)),
            org.apache.spark.sql.functions.to_date(
              org.apache.spark.sql.functions.lit(str(1))))
        case other => throw argError(s"unknown graft op $other")
      }
      out.queryExecution.analyzed
    } catch {
      case e: ResolveGraftOp.GraftTvfArgException => throw e // already op-prefixed
      case scala.util.control.NonFatal(e) =>
        val usage = GraftFunctions.composedTvfs.get(op).map(_._1)
          .orElse(GraftFunctions.composedTvfs2.get(op).map(_._1)).getOrElse(op)
        throw new IllegalArgumentException(
          s"$op: failed to build the composed operator plan (usage: $usage): ${e.getMessage}", e)
    }
    require(!spliced.exists(p =>
        p.isInstanceOf[UnresolvedGraftOp] || p.isInstanceOf[UnresolvedGraftOp2]),
      s"$op: composed operator plan still contains a graft placeholder — " +
        "nested graft TVF resolution is not supported from inside an operator body")
    spliced
  }
}

object ResolveGraftOp {
  /** Marker for TVF-argument errors raised by [[ResolveGraftOp]] itself
    * (already op-prefixed); everything else thrown during operator
    * construction — including require()'s IllegalArgumentException from
    * operator bodies — gets wrapped with the op name and usage. */
  private[plans] final class GraftTvfArgException(msg: String)
    extends IllegalArgumentException(msg)
}

object GraftFunctions {
  private[plans] def litInt(e: org.apache.spark.sql.catalyst.expressions.Expression): Int =
    e match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"graft_hyperplane_bucket expects integer literals for the plane arguments, got $other")
    }

  private def requireArity(
      exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      n: Int, usage: String): Unit =
    if (exprs.length != n) throw new IllegalArgumentException(
      s"$usage expects $n arguments, got ${exprs.length}")

  private[plans] val buildDot:
      Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.expressions.Expression =
    exprs => {
      requireArity(exprs, 2, "graft_dot(a, b)")
      DotProduct(exprs(0), exprs(1))
    }

  private[plans] val buildBucket:
      Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.expressions.Expression =
    exprs => {
      requireArity(exprs, 3, "graft_hyperplane_bucket(vec, planeOffset, planeCount)")
      HyperplaneBuckets(exprs(0), litInt(exprs(1)), litInt(exprs(2)))
    }

  /** TVF builder: asof_join(leftTable, rightTable, key, ts, value[, outName]).
    * Each table argument is a name string literal or TABLE(...) — see
    * [[tableArg]]; returns the pre-resolution placeholder that
    * [[ResolveAsOfJoin]] finishes. */
  private[plans] val buildAsOfJoin:
      Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = exprs => {
    import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
    import org.apache.spark.sql.types.StringType
    val usage = "asof_join(leftTable, rightTable, key, ts, value[, outName])"
    if (exprs.length < 5 || exprs.length > 6)
      throw new IllegalArgumentException(s"$usage expects 5 or 6 arguments, got ${exprs.length}")
    def litStr(e: Expression): String = e match {
      case Literal(s: org.apache.spark.unsafe.types.UTF8String, StringType) if s != null =>
        s.toString
      case other => throw new IllegalArgumentException(
        s"$usage expects non-null string literals, got $other")
    }
    val scalars = exprs.drop(2).map(litStr)
    UnresolvedAsOfJoin(
      tableArg(exprs(0), usage),
      tableArg(exprs(1), usage),
      scalars(0), scalars(1), scalars(2),
      if (scalars.length == 4) scalars(3) else "asof_value")
  }

  /** Multipart-identifier parse for TVF table arguments: a naive
    * split('.') would shred backticked names that legitimately contain
    * dots (`my.view`) into db/table parts. */
  private[plans] def tableName(raw: String): Seq[String] =
    org.apache.spark.sql.catalyst.parser.CatalystSqlParser
      .parseMultipartIdentifier(raw)

  /** A graft TVF table argument is either a table-name string literal
    * (round-4 surface, kept for compatibility) or a standard SQL
    * `TABLE(...)` argument — `TABLE(t)`, `TABLE(SELECT ...)`, and
    * therefore `TABLE(SELECT * FROM another_graft_tvf(...))`: the parser
    * wraps the query in a [[FunctionTableSubqueryArgumentExpression]]
    * whose plan we splice as the operator child, which is what makes the
    * SQL surface COMPOSE (VERDICT r4 item 3). PARTITION BY / ORDER BY /
    * WITH SINGLE PARTITION clauses on the argument are rejected: graft
    * operators define their own partitioning semantics. */
  private[plans] def tableArg(
      e: org.apache.spark.sql.catalyst.expressions.Expression,
      usage: String): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
    import org.apache.spark.sql.catalyst.expressions.{FunctionTableSubqueryArgumentExpression, Literal}
    import org.apache.spark.sql.types.StringType
    e match {
      case f: FunctionTableSubqueryArgumentExpression =>
        if (f.partitionByExpressions.nonEmpty || f.orderByExpressions.nonEmpty ||
            f.withSinglePartition)
          throw new IllegalArgumentException(
            s"$usage: PARTITION BY / ORDER BY / WITH SINGLE PARTITION are not supported " +
              "on graft TVF table arguments — the operator defines its own partitioning")
        f.plan
      case Literal(s: org.apache.spark.unsafe.types.UTF8String, StringType) if s != null =>
        UnresolvedRelation(tableName(s.toString))
      case other => throw new IllegalArgumentException(
        s"$usage: table arguments must be a table-name string literal or TABLE(...), got $other")
    }
  }

  /** Composed-operator TVF registry: name → (usage, arg count AFTER the
    * table argument). */
  private[plans] val composedTvfs: Map[String, (String, Int)] = Map(
    "sessionize" -> ("sessionize(table, key, ts, gapNanos, idCol)", 4),
    "dedup_exact" -> ("dedup_exact(table, idCol, textCol)", 2),
    "minhash_dedup" -> ("minhash_dedup(table, idCol, textCol, threshold)", 3),
    "repetition_filter" -> ("repetition_filter(table, idCol, textCol)", 2),
    "pii_redact" -> ("pii_redact(table, idCol, textCol)", 2),
    "containment_pairs" ->
      ("containment_pairs(table, idCol, textCol, n, threshold)", 4),
    "simhash_dedup" -> ("simhash_dedup(table, idCol, textCol, maxDist)", 3),
    "simhash_wide_dedup" ->
      ("simhash_wide_dedup(table, idCol, textCol, maxDist)", 3),
    "simhash_wide20_dedup" ->
      ("simhash_wide20_dedup(table, idCol, textCol, maxDist)", 3),
    "span_dedup" -> ("span_dedup(table, idCol, textCol, spanLen)", 3),
    "crossdoc_ngram" -> ("crossdoc_ngram(table, idCol, textCol, n)", 3),
    "sample_per_group" -> ("sample_per_group(table, groupCol, idCol, k)", 3),
    "top_ngrams" -> ("top_ngrams(table, idCol, textCol, n, k)", 4),
    "outlier_mad" -> ("outlier_mad(table, groupCol, valueCol, idCol)", 3),
    "cluster_sample" -> ("cluster_sample(table, idCol, vecCol, dims, k)", 4),
    "filter_funnel" -> ("filter_funnel(table, textCol, langCol, charsCol)", 3),
    "token_estimate" -> ("token_estimate(table, idCol, textCol)", 2),
    "upsample_repeat" -> ("upsample_repeat(table, langCol, idCol)", 2),
    "pmi_bigrams" -> ("pmi_bigrams(table, idCol, textCol, k)", 3),
    "editdist_pairs" ->
      ("editdist_pairs(table, idCol, textCol, prefix, maxDist)", 4),
    "epoch_shuffle" -> ("epoch_shuffle(table, idCol, seed, shards)", 3),
    "cohort_retention" -> ("cohort_retention(table, userCol, tsCol)", 2),
    "transition_matrix" ->
      ("transition_matrix(table, userCol, typeCol, tsCol, idCol)", 4),
    "funnel_steps" ->
      ("funnel_steps(table, userCol, typeCol, tsCol, stage1, stage2, stage3)", 6),
    "dataset_card" -> ("dataset_card(table, langCol, textCol)", 2),
    "interpolate_hourly" ->
      ("interpolate_hourly(table, typeCol, tsCol, valCol, idCol)", 4),
    "seasonal_baseline" ->
      ("seasonal_baseline(table, typeCol, tsCol, valCol)", 3),
    "psi_drift" -> ("psi_drift(table, typeCol, tsCol, valCol, splitDay)", 4),
    "ab_test" -> ("ab_test(table, typeCol, tsCol, valCol, splitDay)", 4),
    "quantile_buckets" ->
      ("quantile_buckets(table, typeCol, valCol, idCol, k)", 4),
    "bigram_logprob" -> ("bigram_logprob(table, idCol, textCol)", 2),
    "group_split" -> ("group_split(table, idCol, textCol)", 2),
    "token_entropy" -> ("token_entropy(table, idCol, textCol)", 2),
    "lift_pairs" -> ("lift_pairs(table, userCol, tsCol, typeCol)", 3),
    "feature_hash" -> ("feature_hash(table, idCol, textCol, dim)", 3),
    "bm25" -> ("bm25(table, idCol, textCol, commaSeparatedTerms)", 3),
    "salted_rolling" ->
      ("salted_rolling(table, key, ts, valCol, frameNs, chunkNs)", 5),
    "roc_auc" ->
      ("roc_auc(table, typeCol, tsCol, valCol, posType, negType)", 5),
    "linreg_closed" -> ("linreg_closed(table, typeCol, tsCol, valCol)", 3),
    "ks_test" -> ("ks_test(table, typeCol, tsCol, valCol, splitDay)", 4),
    "cusum_shift" -> ("cusum_shift(table, typeCol, tsCol)", 2),
    "gini" -> ("gini(table, typeCol, userCol)", 2),
    "bpe_pairs" -> ("bpe_pairs(table, idCol, textCol, k)", 3),
    "rake_keywords" -> ("rake_keywords(table, idCol, textCol, k)", 3),
    "autocorr" -> ("autocorr(table, typeCol, tsCol, maxLag)", 3),
    "benford" -> ("benford(table, typeCol, valCol)", 2),
    "chi_square" -> ("chi_square(table, typeCol, tsCol)", 2),
    "twap" -> ("twap(table, typeCol, tsCol, valCol, idCol)", 4),
    "streaks" -> ("streaks(table, userCol, tsCol, k)", 3),
    "funnel_timebound" ->
      ("funnel_timebound(table, userCol, typeCol, tsCol, s1, s2, s3, gapNs)", 7),
    "rfm" -> ("rfm(table, userCol, tsCol, valCol)", 3),
    "vocab_coverage" -> ("vocab_coverage(table, idCol, textCol, k)", 3),
    "attribution" ->
      ("attribution(table, userCol, typeCol, tsCol, idCol, valCol, purchaseType)", 6),
    "session_paths" ->
      ("session_paths(table, userCol, typeCol, tsCol, idCol, gapNs, depth, k)", 7),
    "seasonality_strength" ->
      ("seasonality_strength(table, typeCol, tsCol, valCol)", 3),
    "embedding_quantize" -> ("embedding_quantize(table, idCol, vecCol)", 2),
    "cohort_ltv" -> ("cohort_ltv(table, userCol, tsCol, valCol)", 3),
    "ngram_novelty" -> ("ngram_novelty(table, idCol, textCol, n)", 3),
    "spearman" -> ("spearman(table, typeCol, tsCol, valCol)", 3),
    "mann_kendall" -> ("mann_kendall(table, typeCol, tsCol)", 2),
    "kruskal_wallis" -> ("kruskal_wallis(table, typeCol, valCol)", 2),
    "theil_sen" -> ("theil_sen(table, typeCol, tsCol)", 2),
    "cramers_v" -> ("cramers_v(table, typeCol, tsCol)", 2),
    "mutual_info" -> ("mutual_info(table, typeCol, tsCol)", 2),
    "hellinger" -> ("hellinger(table, typeCol, tsCol, valCol, splitDay)", 4),
    "completeness" -> ("completeness(table, typeCol, tsCol)", 2),
    "kaplan_meier" ->
      ("kaplan_meier(table, userCol, tsCol, typeCol, eventType)", 4),
    "brown_forsythe" -> ("brown_forsythe(table, typeCol, valCol)", 2),
    "embedding_drift" -> ("embedding_drift(table, idCol, vecCol)", 2),
    "changepoint" -> ("changepoint(table, typeCol, tsCol)", 2),
    "runs_test" -> ("runs_test(table, typeCol, tsCol)", 2),
    "key_skew" -> ("key_skew(table, keyCol)", 1),
    "hill_tail" -> ("hill_tail(table, typeCol, valCol)", 2),
    "outlier_iqr" -> ("outlier_iqr(table, typeCol, valCol)", 2),
    "dispersion_index" -> ("dispersion_index(table, typeCol, tsCol)", 2),
    "anova_f" -> ("anova_f(table, typeCol, valCol)", 2),
    "moment_profile" -> ("moment_profile(table, typeCol, valCol)", 2),
    "markov_entropy" ->
      ("markov_entropy(table, userCol, typeCol, tsCol, idCol)", 4),
    "peak_detection" -> ("peak_detection(table, typeCol, tsCol)", 2),
    "rank_fractions" -> ("rank_fractions(table, typeCol, valCol, idCol)", 3),
    "trimmed_mean" -> ("trimmed_mean(table, typeCol, valCol, idCol, pct)", 4),
    "kendall_tau" -> ("kendall_tau(table, typeCol, tsCol)", 2),
    "weekly_power" -> ("weekly_power(table, typeCol, tsCol)", 2),
    "day_corr_matrix" -> ("day_corr_matrix(table, typeCol, tsCol)", 2),
    "lexical_diversity" -> ("lexical_diversity(table, idCol, textCol)", 2),
    "dedup_sweep" -> ("dedup_sweep(table, idCol, textCol)", 2),
    "vocab_drift" -> ("vocab_drift(table, idCol, textCol)", 2),
    "effect_size" ->
      ("effect_size(table, typeCol, tsCol, valCol, splitDay)", 4),
    "crosscorr" ->
      ("crosscorr(table, typeCol, tsCol, typeA, typeB, maxLag)", 5),
    "jsd_drift" -> ("jsd_drift(table, typeCol, tsCol, valCol, splitDay)", 4),
    "mode_value" -> ("mode_value(table, typeCol, valCol)", 2),
    "temperature_mix" -> ("temperature_mix(table, langCol, textCol)", 2),
    "curriculum" -> ("curriculum(table, textCol)", 1),
    "zipf_fit" -> ("zipf_fit(table, idCol, textCol, k)", 3),
    "interarrival" -> ("interarrival(table, typeCol, tsCol, idCol)", 3),
    "value_entropy" -> ("value_entropy(table, typeCol, valCol)", 2),
    "power_analysis" ->
      ("power_analysis(table, typeCol, tsCol, valCol, splitDay)", 4),
    "readability" -> ("readability(table, idCol, textCol)", 2),
    "quantile_drift" ->
      ("quantile_drift(table, typeCol, tsCol, valCol, splitDay)", 4),
    "token_gini" -> ("token_gini(table, idCol, textCol)", 2))

  /** Two-table composed-operator TVF registry: name → (usage, scalar
    * arg count AFTER the two table arguments). */
  private[plans] val composedTvfs2: Map[String, (String, Int)] = Map(
    "dedup_incremental" ->
      ("dedup_incremental(corpusTable, batchTable, idCol, textCol, threshold) " +
        "— corpus and batch id spaces must be disjoint (enforced in-plan)", 3),
    "decontaminate" ->
      ("decontaminate(corpusTable, benchTable, idCol, textCol)", 2),
    "band_join" -> ("band_join(leftTable, rightTable, key, lts, rts, tol)", 4),
    "scd2_merge" ->
      ("scd2_merge(currentTable, changesTable, keyCol, batchDate 'yyyy-MM-dd') " +
        "— currentTable must carry valid_from/valid_to/is_current; " +
        "changesTable exactly key + tracked attributes", 2))

  /** Literal-scalar extraction shared by the one- and two-table TVF
    * builders — ONE definition so the accepted literal set cannot drift
    * between the surfaces. */
  private def litAny(usage: String)(
      e: org.apache.spark.sql.catalyst.expressions.Expression): Any = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{StringType, IntegerType, LongType, DoubleType}
    e match {
      case Literal(s: org.apache.spark.unsafe.types.UTF8String, StringType) if s != null =>
        s.toString
      case Literal(v: Int, IntegerType) => v
      case Literal(v: Long, LongType) => v
      case Literal(v: Double, DoubleType) => v
      case Literal(d: org.apache.spark.sql.types.Decimal, _) => d.toDouble
      case other => throw new IllegalArgumentException(
        s"$usage expects literal arguments, got $other")
    }
  }

  /** Builder for a composed-operator TVF: first argument is the table
    * (name string literal or TABLE(...) — see [[tableArg]]); the rest
    * are literal scalars passed through to [[ResolveGraftOp]]. */
  private[plans] def buildGraftOp(op: String, usage: String, nArgs: Int):
      Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = exprs => {
    requireArity(exprs, nArgs + 1, usage)
    UnresolvedGraftOp(tableArg(exprs.head, usage), op, exprs.tail.map(litAny(usage)))
  }

  /** Builder for a TWO-table composed-operator TVF: first two arguments
    * are tables (name string literals or TABLE(...)), the rest literal
    * scalars. */
  private[plans] def buildGraftOp2(op: String, usage: String, nArgs: Int):
      Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = exprs => {
    requireArity(exprs, nArgs + 2, usage)
    UnresolvedGraftOp2(
      tableArg(exprs(0), usage), tableArg(exprs(1), usage),
      op, exprs.drop(2).map(litAny(usage)))
  }

  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_dot",
      buildDot,
      "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_hyperplane_bucket",
      buildBucket,
      "scala_udf")
  }
}
