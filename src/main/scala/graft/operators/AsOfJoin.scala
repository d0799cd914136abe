package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Backward as-of join: for every left row, attach the right side's value
  * at the greatest right timestamp ≤ the left timestamp within the same
  * key — THE temporal-alignment operator of time-series engines (the
  * reference approximates it with lag() chains; SURVEY §2.3 notes the
  * absence).
  *
  * Implementation (SURVEY §7.3 path (a) — composed from built-ins, no
  * custom physical operator needed): tag and union both sides, then one
  * `last(value, ignoreNulls)` window per key ordered by (ts, side) —
  * right-before-left on timestamp ties so "at or equal" matches. This is
  * a single hash-partition shuffle + one sort over |L|+|R| rows: at
  * 100 TB it scales exactly like any windowed aggregation, with no
  * pairwise or range-join blowup, and inherits AQE skew handling.
  *
  * Right-side (key, ts) duplicates are pre-aggregated (max) so the result
  * is deterministic — mirroring DuckDB's ASOF JOIN requirement of a
  * unique right frame.
  */
object AsOfJoin {

  private val Reserved = Set("__k", "__ts", "__r", "__rv", "__payload")

  def asofBackward(left: DataFrame, right: DataFrame,
                   key: String, ts: String, rightVal: String,
                   outCol: String = "asof_value"): DataFrame = {
    val clash = (left.columns ++ right.columns).filter(Reserved) ++
      (if (Reserved(outCol)) Seq(outCol) else Nil)
    require(clash.isEmpty, s"asofBackward reserves column names ${Reserved.mkString(", ")}; " +
      s"rename: ${clash.distinct.mkString(", ")}")
    val rvType = right.schema(rightVal).dataType
    // The right value rides inside a single-field struct: the struct is
    // non-null for every right row even when the VALUE is null, so
    // last(_, ignoreNulls) matches the most recent right ROW (DuckDB/
    // pandas ASOF semantics) rather than skipping to an older non-null
    // value.
    val l2 = left.select(
      col(key).as("__k"), col(ts).as("__ts"),
      lit(0).as("__r"),
      lit(null).cast(s"struct<v:${rvType.sql}>").as("__rv"),
      struct(left.columns.toIndexedSeq.map(col): _*).as("__payload"))
    val payloadType = l2.schema("__payload").dataType
    val r2 = right
      .groupBy(col(key).as("__k"), col(ts).as("__ts"))
      .agg(max(col(rightVal)).as("__v"))
      .select(col("__k"), col("__ts"), lit(1).as("__r"),
        struct(col("__v").as("v")).as("__rv"),
        lit(null).cast(payloadType).as("__payload"))
    val w = Window.partitionBy("__k")
      .orderBy(col("__ts").asc, col("__r").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l2.unionByName(r2)
      .withColumn(outCol, last(col("__rv"), ignoreNulls = true).over(w).getField("v"))
      .filter(col("__r") === 0)
      .select((left.columns.toIndexedSeq.map(c => col(s"__payload.$c")) :+ col(outCol)): _*)
  }

  /** The NATIVE form: plans into graft.plans.AsOfJoinExec — a custom
    * logical node + strategy + physical two-pointer merge over
    * co-partitioned, co-sorted children (see AsOfJoinPlan.scala for why
    * it beats the composed union+window). Identical semantics and
    * output schema to [[asofBackward]]; oracle-checked via q_asof_join
    * and cross-checked against the composed form in PlanSpec.
    *
    * The one binding of both surfaces (the SQL `asof_join` table
    * function calls this method): names bind through the session
    * resolver, an output name that collides with a left column and a
    * key or timestamp type mismatch fail with named errors.
    *
    * The strategy self-installs on the calling session (public
    * `spark.experimental.extraStrategies`), so driver-owned sessions
    * built without [[graft.plans.GraftExtensions]] still plan it. */
  def asofBackwardNative(left: DataFrame, right: DataFrame,
                         key: String, ts: String, rightVal: String,
                         outCol: String = "asof_value"): DataFrame = {
    import graft.plans.{AsOfJoinNode, AsOfJoinStrategy}
    import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference}
    import org.apache.spark.sql.catalyst.expressions.aggregate.Max
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
    import org.apache.spark.sql.catalyst.types.DataTypeUtils
    val spark = left.sparkSession
    if (!spark.experimental.extraStrategies.contains(AsOfJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsOfJoinStrategy
    val resolver = spark.sessionState.conf.resolver
    val lPlan = left.queryExecution.analyzed
    val rPlan = right.queryExecution.analyzed
    def attr(plan: LogicalPlan, name: String, side: String): Attribute =
      plan.output.filter(a => resolver(a.name, name)) match {
        case Seq(a) => a
        case Seq() => throw new IllegalArgumentException(
          s"column `$name` not found on the $side side " +
            s"(has: ${plan.output.map(_.name).mkString(", ")})")
        case many => throw new IllegalArgumentException(
          // first-match would silently bind the wrong side of a post-join
          // frame; fail like col(name) does on the composed path
          s"column `$name` is ambiguous on the $side side (${many.size} matches)")
      }
    // a colliding output name would leave two columns of that name, and
    // downstream references (and SQL star expansion) die on ambiguity
    if (lPlan.output.exists(a => resolver(a.name, outCol)))
      throw new IllegalArgumentException(
        s"output column `$outCol` collides with a left-side column; pass a distinct name")
    val lk = attr(lPlan, key, "left")
    val lt = attr(lPlan, ts, "left")
    val rk = attr(rPlan, key, "right")
    val rt = attr(rPlan, ts, "right")
    val rv = attr(rPlan, rightVal, "right")
    // a left int key vs a right long key would otherwise leave
    // AsOfJoinNode unresolved (its `resolved` requires sameType) and die
    // later as an opaque unresolved-operator failure
    def requireSameType(l: Attribute, r: Attribute, what: String): Unit =
      if (!DataTypeUtils.sameType(l.dataType, r.dataType))
        throw new IllegalArgumentException(
          s"$what column `${l.name}` is ${l.dataType.simpleString} on the left but " +
            s"${r.dataType.simpleString} on the right; cast one side so the types match")
    requireSameType(lk, rk, "key")
    requireSameType(lt, rt, "timestamp")
    // deterministic right frame, as in the composed form: max(value)
    // per (key, ts) — DuckDB ASOF equally requires a unique right frame.
    // The aggregate's outputs are fresh Aliases, which is load-bearing:
    // when both sides derive from the SAME scan the analyzer's relation
    // dedup re-ids the right subtree's attributes, and refs to alias
    // expr ids at the subtree root survive that rewrite.
    val kAlias = Alias(rk, key)()
    val tAlias = Alias(rt, ts)()
    val vAlias = Alias(Max(rv).toAggregateExpression(), rightVal)()
    val dedupedRight = Aggregate(Seq(rk, rt), Seq(kAlias, tAlias, vAlias), rPlan)
    val node = AsOfJoinNode(lPlan, dedupedRight, lk, lt,
      kAlias.toAttribute, tAlias.toAttribute, vAlias.toAttribute,
      AttributeReference(outCol, rv.dataType, nullable = true)())
    org.apache.spark.sql.GraftBridge.ofRows(spark, node)
  }
}
