package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col

/** Plan-shape assertions (SURVEY §5.5): the physical properties the
  * 100 TB design depends on — broadcast for dimension joins, filter/column
  * pushdown into the parquet scan, and CollapseWindow folding the whole
  * feature block into one WindowExec (one shuffle + sort). */
class PlanSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def physical(name: String): String =
    SparkEntry.queries(name)(spark, TestSpark.Sf)
      .queryExecution.executedPlan.toString

  test("q_join_left broadcasts the customer dimension") {
    assert(physical("q_join_left").contains("BroadcastHashJoin"))
  }

  test("q_join_star broadcasts all three dimensions") {
    val p = physical("q_join_star")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3)
  }

  test("q_projection pushes the shipdate filter and prunes columns") {
    val p = physical("q_projection")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate"))
    assert(p.contains("ReadSchema") &&
      !p.contains("l_comment") && !p.contains("l_tax"))
  }

  test("q_ml_features: one shuffle + one sort for the whole feature block") {
    // Nested window expressions (RSI consumes lag output) legitimately
    // split into chained WindowExec nodes, but they must share ONE
    // hash-partition exchange and ONE sort — that is what makes a
    // 30-feature block a single pass at 100 TB.
    // (string-matched: AQE wraps the plan so collect() can't reach the
    // nodes; the final rangepartitioning exchange is presentation-only)
    val p = physical("q_ml_features")
    val hashShuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    val windowSorts = "Sort \\[user_id[^\\n]*ts".r.findAllIn(p).size
    assert(hashShuffles == 1, s"expected 1 hash shuffle, got $hashShuffles:\n$p")
    assert(windowSorts == 1, s"expected 1 window sort, got $windowSorts:\n$p")
  }

  test("q_embedding_neardup plans the pinned shuffled grid join") {
    val p = physical("q_embedding_neardup")
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // the grid join must stay SHUFFLED: an AQE broadcast rewrite streams
    // the raw (single-partition) scan and serializes all pair scoring
    // into one task (r5 find: 1.9 s -> ~0.5 s at sf0.1)
    assert(p.contains("ShuffledHashJoin"), p.take(2000))
    assert(!p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("q_pit_join: validity predicate rides the hash join, never a nested loop") {
    val p = physical("q_pit_join")
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("q_decontam_bloom: codegen'd might_contain prefilter feeds the broadcast verify") {
    val p = physical("q_decontam_bloom")
    // the bloom probe must appear as a Filter predicate (map-side, before
    // the join), and the exact verify must stay a broadcast join
    assert(p.contains("might_contain"), p.take(2000))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    // prefilter adds no shuffle: same exchange count as the plain path
    val shufflesBloom = "Exchange hashpartitioning".r.findAllIn(p).size
    val shufflesPlain =
      "Exchange hashpartitioning".r.findAllIn(physical("q_decontaminate")).size
    assert(shufflesBloom == shufflesPlain,
      s"bloom path shuffles $shufflesBloom vs plain $shufflesPlain:\n$p")
  }

  test("q_semantic_dedup: intra-cell join stays pinned shuffled-hash") {
    val p = physical("q_semantic_dedup")
    // the centroid fan-out and the gate scalar are broadcast nested
    // loops over ≤16-row build sides (the intended map-side pattern);
    // what must NEVER appear is an unbroadcast cartesian, and the
    // pair-scoring join itself must stay the pinned shuffled-hash shape
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("ShuffledHashJoin"), p.take(2000))
  }

  test("q_content_filter is scan-parallel: no exchange before the sort") {
    // presentation ORDER BY adds one range exchange at the end; the
    // filter/flag computation itself must not shuffle
    val p = physical("q_content_filter")
    val hashShuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashShuffles == 0, s"content filter should not hash-shuffle:\n$p")
  }

  test("q_keyset_page pushes the seek predicate and plans TakeOrdered") {
    val p = physical("q_keyset_page")
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))
    assert(p.contains("PushedFilters: [IsNotNull(o_orderkey), GreaterThan(o_orderkey"),
      p.take(1500))
  }

  test("q_asof_join plans the native AsOfJoinExec with co-partitioned sorted children") {
    val p = physical("q_asof_join")
    assert(p.contains("AsOfJoin "), p.take(1500)) // AsOfJoinExec renders sans Exec
    // the merge relies on EnsureRequirements inserting both sorts
    assert("Sort \\[".r.findAllIn(p).size >= 2, p.take(1500))
  }

  test("AsOfJoinExec compiles under whole-stage codegen and matches interpreted output") {
    // primitive key/ts/value → the codegen fast path must engage: the
    // node renders inside a WholeStageCodegen span. Fallback is disabled
    // so a generated-code compile error fails HERE instead of silently
    // reverting to the interpreted path.
    val prevFallback = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val df = SparkEntry.queries("q_asof_join")(spark, TestSpark.Sf)
      val compiled = df.collect()
      // AQE finalizes (and codegen-collapses) the plan only at execution —
      // inspect the executed plan AFTER the collect
      val p = df.queryExecution.executedPlan.toString
      assert("\\*\\(\\d+\\) AsOfJoin ".r.findFirstIn(p).nonEmpty,
        s"AsOfJoinExec not inside a WholeStageCodegen span:\n${p.take(3000)}")
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      val interpreted = try SparkEntry.queries("q_asof_join")(spark, TestSpark.Sf).collect()
      finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
      assert(compiled.toSeq == interpreted.toSeq)
      assert(compiled.nonEmpty)
    } finally spark.conf.set("spark.sql.codegen.fallback", prevFallback)
  }

  /** Extensions apply at session construction; build a sibling session
    * on the SAME SparkContext (never stop it), then restore the shared
    * one regardless of outcome. */
  private def withExtensionsSession(f: org.apache.spark.sql.SparkSession => Unit): Unit = {
    import org.apache.spark.sql.SparkSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      f(SparkSession.builder()
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .withExtensions(new graft.plans.GraftExtensions)
        .getOrCreate())
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.setActiveSession(spark)
      SparkSession.setDefaultSession(spark)
    }
  }

  test("asof_join TVF: spark.sql reaches the native AsOfJoinExec") {
    import org.apache.spark.sql.functions.col
    withExtensionsSession { s2 =>
      val e = Tables.events(s2, TestSpark.Sf)
      e.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
        .createOrReplaceTempView("purchases")
      e.filter(col("event_type") === "signup")
        .select("user_id", "ts", "value")
        .createOrReplaceTempView("signups")
      val df = s2.sql(
        "SELECT event_id, user_id, value, asof_value " +
          "FROM asof_join('purchases', 'signups', 'user_id', 'ts', 'value')")
      assert(df.queryExecution.executedPlan.toString.contains("AsOfJoin "),
        df.queryExecution.executedPlan.toString.take(2000))
      // same rows as the DataFrame-API native path
      val viaSql = df.orderBy("event_id").collect().toSeq
      val viaApi = graft.operators.AsOfJoin.asofBackwardNative(
        e.filter(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts", "value"),
        e.filter(col("event_type") === "signup").select("user_id", "ts", "value"),
        "user_id", "ts", "value")
        .select("event_id", "user_id", "value", "asof_value")
        .orderBy("event_id").collect().toSeq
      assert(viaSql.nonEmpty && viaSql == viaApi)
      // named-output + error-path UX
      val named = s2.sql(
        "SELECT last_signup FROM asof_join('purchases', 'signups', 'user_id', 'ts', 'value', 'last_signup')")
      assert(named.columns.toSeq == Seq("last_signup"))
      val err = intercept[Exception] {
        s2.sql("SELECT * FROM asof_join('purchases', 'signups', 'no_such_col', 'ts', 'value')").collect()
      }
      assert(err.getMessage.contains("no_such_col"))
      // out-name colliding with a left column is rejected up front
      val clash = intercept[Exception] {
        s2.sql("SELECT * FROM asof_join('purchases', 'signups', 'user_id', 'ts', 'value', 'value')").collect()
      }
      assert(clash.getMessage.contains("collides"))
      // mismatched key types fail with a NAMED error (ADVICE r4), not an
      // opaque unresolved-operator failure or a mid-query ClassCastException
      s2.sql("SELECT event_id, CAST(user_id AS INT) AS user_id, ts, value FROM purchases")
        .createOrReplaceTempView("purchases_intkey")
      val typeErr = intercept[Exception] {
        s2.sql("SELECT * FROM asof_join('purchases_intkey', 'signups', 'user_id', 'ts', 'value')")
          .collect()
      }
      assert(typeErr.getMessage.contains("asof_join") &&
        typeErr.getMessage.contains("cast one side"), typeErr.getMessage)
    }
  }

  test("composed-operator TVFs: sessionize / dedup_exact / minhash_dedup from SQL") {
    import org.apache.spark.sql.functions.col
    withExtensionsSession { s2 =>
      Tables.events(s2, TestSpark.Sf).createOrReplaceTempView("evts")
      Tables.documents(s2, TestSpark.Sf).filter(col("doc_id") < 100)
        .createOrReplaceTempView("docs")
      // sessionize: SQL rows == DataFrame-path rows
      val viaSql = s2.sql(
        "SELECT user_id, event_id, session_idx " +
          "FROM sessionize('evts', 'user_id', 'ts', 21600000000000, 'event_id') " +
          "ORDER BY user_id, event_id").collect().toSeq
      val viaApi = graft.operators.Sessionize.withSessionIdx(
        Tables.events(s2, TestSpark.Sf), "user_id", "ts",
        21600000000000L, Seq(col("ts"), col("event_id")))
        .select("user_id", "event_id", "session_idx")
        .orderBy("user_id", "event_id").collect().toSeq
      assert(viaSql.nonEmpty && viaSql == viaApi)
      // minhash_dedup: pair set parity with the operator
      val pairsSql = s2.sql(
        "SELECT a, b FROM minhash_dedup('docs', 'doc_id', 'text', 0.8) ORDER BY a, b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val pairsApi = graft.operators.Dedup.minhashDedupPairs(
        Tables.documents(s2, TestSpark.Sf).filter(col("doc_id") < 100), threshold = 0.8)
        .select("a", "b").orderBy("a", "b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(pairsSql.nonEmpty && pairsSql == pairsApi)
      // dedup_exact keeps one representative per fingerprint
      val kept = s2.sql("SELECT * FROM dedup_exact('docs', 'doc_id', 'text')")
      assert(kept.count() ==
        graft.operators.Dedup.exactDedup(
          Tables.documents(s2, TestSpark.Sf).filter(col("doc_id") < 100)).count())
      // repetition_filter: per-doc stats parity with the operator
      val repSql = s2.sql(
        "SELECT * FROM repetition_filter('docs', 'doc_id', 'text') ORDER BY doc_id")
        .collect().toSeq
      val repApi = graft.queries.TextStats.repetitionStats(
        Tables.documents(s2, TestSpark.Sf).filter(col("doc_id") < 100))
        .orderBy("doc_id").collect().toSeq
      assert(repSql.nonEmpty && repSql == repApi)
      // dedup_incremental: TWO-table TVF (corpus × batch), parity with
      // the operator — including TABLE(subquery) on both positions
      val incSql = s2.sql(
        "SELECT * FROM dedup_incremental(" +
          "TABLE(SELECT * FROM docs WHERE doc_id < 60), " +
          "TABLE(SELECT * FROM docs WHERE doc_id >= 60), " +
          "'doc_id', 'text', 0.8) ORDER BY doc_id").collect().toSeq
      val incApi = graft.operators.Dedup.incrementalDedup(
        Tables.documents(s2, TestSpark.Sf).filter(col("doc_id") < 60),
        Tables.documents(s2, TestSpark.Sf)
          .filter(col("doc_id") >= 60 && col("doc_id") < 100))
        .orderBy("doc_id").collect().toSeq
      assert(incSql.nonEmpty && incSql == incApi)
      // scd2_merge: TWO-table TVF, parity with the operator (current
      // slice synthesized from docs; the change batch relabels lang)
      val cur = Tables.documents(s2, TestSpark.Sf).filter(col("doc_id") < 40)
        .select(col("doc_id"), col("lang"),
          org.apache.spark.sql.functions.to_date(
            org.apache.spark.sql.functions.lit("2024-01-01")).as("valid_from"),
          org.apache.spark.sql.functions.expr("CAST(NULL AS DATE)").as("valid_to"),
          org.apache.spark.sql.functions.lit(true).as("is_current"))
      val chg = Tables.documents(s2, TestSpark.Sf)
        .filter(col("doc_id") < 40 && col("doc_id") % 5 === 0)
        .select(col("doc_id"), org.apache.spark.sql.functions.lit("xx").as("lang"))
      cur.createOrReplaceTempView("scd_cur")
      chg.createOrReplaceTempView("scd_chg")
      val scdSql = s2.sql(
        "SELECT * FROM scd2_merge('scd_cur', 'scd_chg', 'doc_id', '2024-06-01') " +
          "ORDER BY doc_id, valid_from").collect().toSeq
      val scdApi = graft.operators.Scd2.merge(cur, chg, Seq("doc_id"),
          org.apache.spark.sql.functions.to_date(
            org.apache.spark.sql.functions.lit("2024-06-01")))
        .orderBy("doc_id", "valid_from").collect().toSeq
      assert(scdSql.nonEmpty && scdSql == scdApi)
    }
  }

  test("TVF TABLE arguments: subqueries compose graft TVFs in one SQL string") {
    import org.apache.spark.sql.functions.{col, concat_ws}
    withExtensionsSession { s2 =>
      Tables.events(s2, TestSpark.Sf).createOrReplaceTempView("evts")
      Tables.documents(s2, TestSpark.Sf).filter(col("doc_id") < 100)
        .createOrReplaceTempView("docs")
      // TABLE(identifier) and TABLE(subquery) both feed the TVF the same
      // rows as the round-4 string-literal surface
      val viaLit = s2.sql("SELECT * FROM dedup_exact('docs', 'doc_id', 'text')")
        .orderBy("doc_id").collect().toSeq
      val viaIdent = s2.sql("SELECT * FROM dedup_exact(TABLE(docs), 'doc_id', 'text')")
        .orderBy("doc_id").collect().toSeq
      val viaSubq = s2.sql(
        "SELECT * FROM dedup_exact(TABLE(SELECT * FROM docs), 'doc_id', 'text')")
        .orderBy("doc_id").collect().toSeq
      assert(viaLit.nonEmpty && viaIdent == viaLit && viaSubq == viaLit)
      // the r4 gap: two graft TVFs COMPOSED in one SQL string — dedup
      // repeated (user, event_type) rows, then sessionize the survivors
      val composedSql = s2.sql(
        """SELECT user_id, event_id, session_idx FROM sessionize(
          |  TABLE(SELECT * FROM dedup_exact(
          |    TABLE(SELECT user_id, event_id, ts,
          |          concat_ws('-', user_id, event_type) AS txt FROM evts),
          |    'event_id', 'txt')),
          |  'user_id', 'ts', 21600000000000, 'event_id')
          |ORDER BY user_id, event_id""".stripMargin).collect().toSeq
      val deduped = graft.operators.Dedup.exactDedup(
        Tables.events(s2, TestSpark.Sf)
          .select(col("user_id"), col("event_id"), col("ts"),
            concat_ws("-", col("user_id"), col("event_type")).as("txt")),
        "event_id", "txt")
      val composedApi = graft.operators.Sessionize.withSessionIdx(
        deduped, "user_id", "ts", 21600000000000L, Seq(col("ts"), col("event_id")))
        .select("user_id", "event_id", "session_idx")
        .orderBy("user_id", "event_id").collect().toSeq
      assert(composedSql.nonEmpty && composedSql == composedApi)
      // asof_join takes TABLE arguments too
      val e = Tables.events(s2, TestSpark.Sf)
      e.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value").createOrReplaceTempView("purchases")
      e.filter(col("event_type") === "signup")
        .select("user_id", "ts", "value").createOrReplaceTempView("signups")
      val asofTable = s2.sql(
        "SELECT event_id, asof_value FROM asof_join(TABLE(purchases), " +
          "TABLE(SELECT * FROM signups), 'user_id', 'ts', 'value') ORDER BY event_id")
        .collect().toSeq
      val asofLit = s2.sql(
        "SELECT event_id, asof_value FROM asof_join('purchases', 'signups', " +
          "'user_id', 'ts', 'value') ORDER BY event_id").collect().toSeq
      assert(asofTable.nonEmpty && asofTable == asofLit)
      // partitioning clauses on the table argument are rejected: the
      // operator owns its partitioning semantics
      val err = intercept[Exception] {
        s2.sql("SELECT * FROM dedup_exact(TABLE(docs) PARTITION BY lang, 'doc_id', 'text')")
          .collect()
      }
      assert(err.getMessage.contains("PARTITION BY") ||
        err.getMessage.toLowerCase.contains("partition"), err.getMessage)
    }
  }

  test("round-6 TVFs: pii_redact / salted_rolling / decontaminate / band_join from SQL") {
    import org.apache.spark.sql.functions.col
    withExtensionsSession { s2 =>
      val docs = Tables.documents(s2, TestSpark.Sf)
      docs.createOrReplaceTempView("docs_all")
      Tables.events(s2, TestSpark.Sf).select("event_id", "user_id", "ts", "value")
        .createOrReplaceTempView("evts_slim")
      // pii_redact: SQL rows == DataFrame-path rows
      val piiSql = s2.sql(
        "SELECT * FROM pii_redact('docs_all', 'doc_id', 'text') ORDER BY doc_id")
        .collect().toSeq
      val piiApi = graft.queries.TextStats.piiRedact(docs)
        .orderBy("doc_id").collect().toSeq
      assert(piiSql.nonEmpty && piiSql == piiApi)
      // salted_rolling: SQL == operator (which itself equals the
      // unsalted window per TemporalOpsSpec)
      val frame = 3600L * 1000000000L
      val chunk = 86400L * 1000000000L
      val srSql = s2.sql(
        s"SELECT event_id, rolling_sum FROM salted_rolling(" +
          s"'evts_slim', 'user_id', 'ts', 'value', $frame, $chunk) ORDER BY event_id")
        .collect().toSeq
      val srApi = graft.operators.SaltedWindow.saltedRollingSum(
        Tables.events(s2, TestSpark.Sf).select("event_id", "user_id", "ts", "value"),
        "user_id", "ts", "value", frameNs = frame, chunkNs = chunk)
        .select("event_id", "rolling_sum").orderBy("event_id").collect().toSeq
      assert(srSql.nonEmpty && srSql == srApi)
      // decontaminate: TWO-table TVF with TABLE(subquery) args, parity
      // with the q_decontaminate body
      val deSql = s2.sql(
        "SELECT * FROM decontaminate(" +
          "TABLE(SELECT * FROM docs_all WHERE doc_id >= 10), " +
          "TABLE(SELECT * FROM docs_all WHERE doc_id < 10), " +
          "'doc_id', 'text') ORDER BY doc_id").collect().toSeq
      val deApi = graft.queries.TextDedup.decontaminate(
        docs.filter(col("doc_id") >= 10), docs.filter(col("doc_id") < 10))
        .orderBy("doc_id").collect().toSeq
      assert(deSql.nonEmpty && deSql == deApi)
      // band_join: TWO-table TVF, parity with the operator
      val e = Tables.events(s2, TestSpark.Sf).filter(col("user_id") < 30)
      val errors = e.filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id").as("error_id"), col("ts").as("error_ts"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
      errors.createOrReplaceTempView("errs")
      purchases.createOrReplaceTempView("purch")
      val tol = 3600L * 1000000000L
      val bjSql = s2.sql(
        s"SELECT user_id, error_id, purchase_id FROM band_join(" +
          s"'errs', 'purch', 'user_id', 'error_ts', 'purchase_ts', $tol) " +
          "ORDER BY user_id, error_id, purchase_id").collect().toSeq
      val bjApi = graft.operators.BandJoin.bandJoin(
        errors, purchases, "user_id", "error_ts", "purchase_ts", tol)
        .select("user_id", "error_id", "purchase_id")
        .orderBy("user_id", "error_id", "purchase_id").collect().toSeq
      assert(bjSql.nonEmpty && bjSql == bjApi)
    }
  }

  test("round-10 TVFs: pmi_bigrams / editdist_pairs / epoch_shuffle from SQL") {
    withExtensionsSession { s2 =>
      val docs = Tables.documents(s2, TestSpark.Sf)
      docs.createOrReplaceTempView("docs_r10")
      val pmiSql = s2.sql(
        "SELECT * FROM pmi_bigrams('docs_r10', 'doc_id', 'text', 5)")
        .collect().toSeq
      val pmiApi = graft.queries.TextStats.pmiBigrams(docs, 5)
        .collect().toSeq
      assert(pmiSql.nonEmpty && pmiSql == pmiApi)
      val edSql = s2.sql(
        "SELECT * FROM editdist_pairs('docs_r10', 'doc_id', 'text', 250, 50) " +
          "ORDER BY a, b").collect().toSeq
      val edApi = graft.queries.TextDedup.editdistPairs(docs)
        .orderBy("a", "b").collect().toSeq
      assert(edSql.nonEmpty && edSql == edApi)
      val esSql = s2.sql(
        "SELECT * FROM epoch_shuffle('docs_r10', 'doc_id', 'epoch1', 8) " +
          "ORDER BY doc_id").collect().toSeq
      val esApi = graft.queries.TrainingDataQueries.epochShuffle(
        docs.select("doc_id"), "doc_id", "epoch1", 8)
        .orderBy("doc_id").collect().toSeq
      assert(esSql.nonEmpty && esSql == esApi)
    }
  }

  test("analytics TVFs: cohort_retention / transition_matrix / funnel_steps / dataset_card from SQL") {
    withExtensionsSession { s2 =>
      Tables.events(s2, TestSpark.Sf).createOrReplaceTempView("ev_r10b")
      Tables.documents(s2, TestSpark.Sf).createOrReplaceTempView("docs_r10b")
      val coSql = s2.sql(
        "SELECT * FROM cohort_retention('ev_r10b', 'user_id', 'ts') " +
          "ORDER BY cohort, day_offset").collect().toSeq
      val coApi = graft.queries.TimeSeriesQueries.cohortRetention(
        Tables.events(s2, TestSpark.Sf), "user_id", "ts")
        .orderBy("cohort", "day_offset").collect().toSeq
      assert(coSql.nonEmpty && coSql == coApi)
      val tmSql = s2.sql(
        "SELECT * FROM transition_matrix('ev_r10b', 'user_id', 'event_type', 'ts', 'event_id') " +
          "ORDER BY prev, next").collect().toSeq
      val tmApi = graft.queries.TimeSeriesQueries.transitionMatrix(
        Tables.events(s2, TestSpark.Sf), "user_id", "event_type", "ts", "event_id")
        .orderBy("prev", "next").collect().toSeq
      assert(tmSql.nonEmpty && tmSql == tmApi)
      val fsSql = s2.sql(
        "SELECT * FROM funnel_steps('ev_r10b', 'user_id', 'event_type', 'ts', " +
          "'click', 'view', 'purchase') ORDER BY stage").collect().toSeq
      val fsApi = graft.queries.TimeSeriesQueries.funnelSequence(
        Tables.events(s2, TestSpark.Sf).select("user_id", "event_type", "ts"),
        "user_id", "event_type", "ts", Seq("click", "view", "purchase"))
        .orderBy("stage").collect().toSeq
      assert(fsSql.nonEmpty && fsSql == fsApi)
      val dcSql = s2.sql(
        "SELECT * FROM dataset_card('docs_r10b', 'lang', 'text') ORDER BY lang")
        .collect().toSeq
      val dcApi = graft.queries.TextStats.datasetCard(
        Tables.documents(s2, TestSpark.Sf)).orderBy("lang").collect().toSeq
      assert(dcSql.nonEmpty && dcSql == dcApi)
    }
  }

  test("q3_shipping_priority: pushed scan filters, broadcast joins, top-k without a global sort") {
    val df = graft.queries.Relational.q3ShippingPriority(spark, TestSpark.Sf)
    df.queryExecution.toRdd.count()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      "top-10 must plan as TakeOrderedAndProject, not a global sort")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 1,
      "the filtered customer dim must broadcast")
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(formatted.contains("GreaterThan(l_shipdate"),
      "the lineitem date cutoff must reach the parquet scan")
    assert(formatted.contains("EqualTo(c_mktsegment,BUILDING)"),
      "the segment filter must reach the customer scan")
  }

  test("round-11 TVFs: interpolate/seasonal/psi/quantile/bigram/group_split from SQL") {
    withExtensionsSession { s2 =>
      Tables.events(s2, TestSpark.Sf).createOrReplaceTempView("ev_r11")
      Tables.documents(s2, TestSpark.Sf).filter(col("doc_id") < 100)
        .createOrReplaceTempView("docs_r11")
      def pair(sql: String, api: org.apache.spark.sql.DataFrame,
               ord: Seq[String]): Unit = {
        val a = s2.sql(sql).orderBy(ord.map(col): _*).collect().toSeq
        val b = api.orderBy(ord.map(col): _*).collect().toSeq
        assert(a.nonEmpty && a == b, sql)
      }
      val ev = Tables.events(s2, TestSpark.Sf)
      pair("SELECT * FROM interpolate_hourly('ev_r11', 'event_type', 'ts', 'value', 'event_id')",
        graft.queries.TimeSeriesQueries.interpolateHourly(
          ev, "event_type", "ts", "value", "event_id"),
        Seq("event_type", "bucket_hour"))
      pair("SELECT * FROM seasonal_baseline('ev_r11', 'event_type', 'ts', 'value')",
        graft.queries.TimeSeriesQueries.seasonalBaseline(
          ev, "event_type", "ts", "value"),
        Seq("event_type", "dow", "hod"))
      pair("SELECT * FROM psi_drift('ev_r11', 'event_type', 'ts', 'value', 15)",
        graft.queries.TrainingDataQueries.psiDrift(
          ev, "event_type", "ts", "value", 15),
        Seq("event_type"))
      pair("SELECT * FROM quantile_buckets('ev_r11', 'event_type', 'value', 'event_id', 10)",
        graft.queries.ScalarQueries.quantileBuckets(
          ev, "event_type", "value", "event_id", 10),
        Seq("event_type", "bucket"))
      val docs = Tables.documents(s2, TestSpark.Sf).filter(col("doc_id") < 100)
      pair("SELECT * FROM bigram_logprob('docs_r11', 'doc_id', 'text')",
        graft.queries.TextStats.bigramLogprob(docs, "doc_id", "text"),
        Seq("doc_id"))
      pair("SELECT * FROM group_split('docs_r11', 'doc_id', 'text')",
        graft.queries.TextDedup.groupSplit(docs, "doc_id", "text"),
        Seq("doc_id"))
      pair("SELECT * FROM token_entropy('docs_r11', 'doc_id', 'text')",
        graft.queries.TextStats.tokenEntropy(docs, "doc_id", "text"),
        Seq("doc_id"))
      pair("SELECT * FROM lift_pairs('ev_r11', 'user_id', 'ts', 'event_type')",
        graft.queries.TimeSeriesQueries.liftPairs(
          ev, "user_id", "ts", "event_type"),
        Seq("type_a", "type_b"))
      pair("SELECT * FROM feature_hash('docs_r11', 'doc_id', 'text', 64)",
        graft.queries.TextStats.featureHash(docs, "doc_id", "text", 64),
        Seq("doc_id", "bucket"))
      pair("SELECT * FROM ab_test('ev_r11', 'event_type', 'ts', 'value', 15)",
        graft.queries.TrainingDataQueries.abTest(
          ev, "event_type", "ts", "value", 15),
        Seq("event_type"))
      pair("SELECT * FROM bm25('docs_r11', 'doc_id', 'text', 'query,join,data')",
        graft.queries.TextStats.bm25(docs, "doc_id", "text", "query,join,data"),
        Seq("doc_id"))
    }
  }

  test("round-12 TVFs: roc_auc/linreg/ks_test/cusum/gini from SQL") {
    withExtensionsSession { s2 =>
      Tables.events(s2, TestSpark.Sf).createOrReplaceTempView("ev_r12")
      def pair(sql: String, api: org.apache.spark.sql.DataFrame,
               ord: Seq[String]): Unit = {
        val a = s2.sql(sql).orderBy(ord.map(col): _*).collect().toSeq
        val b = api.orderBy(ord.map(col): _*).collect().toSeq
        assert(a.nonEmpty && a == b, sql)
      }
      val ev = Tables.events(s2, TestSpark.Sf)
      pair("SELECT * FROM roc_auc('ev_r12', 'event_type', 'ts', 'value', 'purchase', 'click')",
        graft.queries.StatQueries.rocAuc(
          ev, "event_type", "ts", "value", "purchase", "click"),
        Seq("day"))
      pair("SELECT * FROM linreg_closed('ev_r12', 'event_type', 'ts', 'value')",
        graft.queries.StatQueries.linregClosed(ev, "event_type", "ts", "value"),
        Seq("event_type"))
      pair("SELECT * FROM ks_test('ev_r12', 'event_type', 'ts', 'value', 15)",
        graft.queries.StatQueries.ksTest(ev, "event_type", "ts", "value", 15),
        Seq("event_type"))
      pair("SELECT * FROM cusum_shift('ev_r12', 'event_type', 'ts')",
        graft.queries.StatQueries.cusumShift(ev, "event_type", "ts"),
        Seq("event_type", "day"))
      pair("SELECT * FROM gini('ev_r12', 'event_type', 'user_id')",
        graft.queries.StatQueries.giniConcentration(ev, "event_type", "user_id"),
        Seq("event_type"))
      Tables.documents(s2, TestSpark.Sf).filter(col("doc_id") < 100)
        .createOrReplaceTempView("docs_r12")
      val docs = Tables.documents(s2, TestSpark.Sf).filter(col("doc_id") < 100)
      pair("SELECT * FROM bpe_pairs('docs_r12', 'doc_id', 'text', 20)",
        graft.queries.TextStats.bpePairs(docs, "doc_id", "text", 20),
        Seq("pair"))
      pair("SELECT * FROM rake_keywords('docs_r12', 'doc_id', 'text', 20)",
        graft.queries.TextStats.rakeKeywords(docs, "doc_id", "text", 20),
        Seq("word"))
      pair("SELECT * FROM autocorr('ev_r12', 'event_type', 'ts', 3)",
        graft.queries.StatQueries.autocorr(ev, "event_type", "ts", 3),
        Seq("event_type", "lag"))
      pair("SELECT * FROM benford('ev_r12', 'event_type', 'value')",
        graft.queries.StatQueries.benfordAudit(ev, "event_type", "value"),
        Seq("event_type", "digit"))
      pair("SELECT * FROM chi_square('ev_r12', 'event_type', 'ts')",
        graft.queries.StatQueries.chiSquare(ev, "event_type", "ts"),
        Seq("event_type"))
      pair("SELECT * FROM twap('ev_r12', 'event_type', 'ts', 'value', 'event_id')",
        graft.queries.TimeSeriesQueries.twap(
          ev, "event_type", "ts", "value", "event_id"),
        Seq("event_type", "day"))
      pair("SELECT * FROM streaks('ev_r12', 'user_id', 'ts', 20)",
        graft.queries.TimeSeriesQueries.streaks(ev, "user_id", "ts", 20),
        Seq("user"))
      pair(s"SELECT * FROM funnel_timebound('ev_r12', 'user_id', 'event_type', 'ts', " +
        s"'signup', 'click', 'purchase', ${graft.queries.TimeSeriesQueries.FunnelGapNs})",
        graft.queries.TimeSeriesQueries.funnelTimebound(
          ev, "user_id", "event_type", "ts",
          Seq("signup", "click", "purchase"),
          graft.queries.TimeSeriesQueries.FunnelGapNs),
        Seq("stage"))
      pair("SELECT * FROM rfm('ev_r12', 'user_id', 'ts', 'value')",
        graft.queries.TimeSeriesQueries.rfm(ev, "user_id", "ts", "value"),
        Seq("r_score", "f_score", "m_score"))
      pair("SELECT * FROM vocab_coverage('docs_r12', 'doc_id', 'text', 100)",
        graft.queries.TextStats.vocabCoverage(docs, "doc_id", "text", 100),
        Seq("doc_id"))
      pair("SELECT * FROM attribution('ev_r12', 'user_id', 'event_type', 'ts', " +
        "'event_id', 'value', 'purchase')",
        graft.queries.TemporalJoinQueries.attribution(
          ev, "user_id", "event_type", "ts", "event_id", "value", "purchase"),
        Seq("channel"))
      pair("SELECT * FROM session_paths('ev_r12', 'user_id', 'event_type', 'ts', " +
        "'event_id', 21600000000000, 3, 10)",
        graft.queries.TemporalJoinQueries.sessionPaths(
          ev, "user_id", "event_type", "ts", "event_id",
          21600000000000L, 3, 10),
        Seq("path"))
      pair("SELECT * FROM seasonality_strength('ev_r12', 'event_type', 'ts', 'value')",
        graft.queries.StatQueries.seasonalityStrength(
          ev, "event_type", "ts", "value"),
        Seq("event_type"))
      val emb = Tables.embeddings(s2, TestSpark.Sf).filter(col("vec_id") < 50)
      emb.createOrReplaceTempView("emb_r12")
      pair("SELECT * FROM embedding_quantize('emb_r12', 'vec_id', 'embedding')",
        graft.queries.SimilarityQueries.embeddingQuantize(emb),
        Seq("vec_id"))
      pair("SELECT * FROM embedding_drift('emb_r12', 'vec_id', 'embedding')",
        graft.queries.SimilarityQueries.embeddingDrift(
          emb, "vec_id", "embedding"),
        Seq("dim"))
      pair("SELECT * FROM cohort_ltv('ev_r12', 'user_id', 'ts', 'value')",
        graft.queries.TimeSeriesQueries.cohortLtv(ev, "user_id", "ts", "value"),
        Seq("cohort_week", "age_week"))
      pair("SELECT * FROM ngram_novelty('docs_r12', 'doc_id', 'text', 5)",
        graft.queries.TextStats.ngramNovelty(docs, "doc_id", "text", 5),
        Seq("doc_id"))
      // round-13 additions
      pair("SELECT * FROM spearman('ev_r12', 'event_type', 'ts', 'value')",
        graft.queries.StatQueries.spearman(ev, "event_type", "ts", "value"),
        Seq("event_type"))
      pair("SELECT * FROM mann_kendall('ev_r12', 'event_type', 'ts')",
        graft.queries.StatQueries.mannKendall(ev, "event_type", "ts"),
        Seq("event_type"))
      pair("SELECT * FROM kruskal_wallis('ev_r12', 'event_type', 'value')",
        graft.queries.StatQueries.kruskalWallis(ev, "event_type", "value"),
        Seq("n"))
      pair("SELECT * FROM effect_size('ev_r12', 'event_type', 'ts', 'value', 15)",
        graft.queries.StatQueries.effectSize(ev, "event_type", "ts", "value", 15),
        Seq("event_type"))
      pair("SELECT * FROM crosscorr('ev_r12', 'event_type', 'ts', 'click', 'purchase', 3)",
        graft.queries.StatQueries.crossCorr(
          ev, "event_type", "ts", "click", "purchase", 3),
        Seq("lag"))
      pair("SELECT * FROM jsd_drift('ev_r12', 'event_type', 'ts', 'value', 15)",
        graft.queries.TrainingDataQueries.jsdDrift(
          ev, "event_type", "ts", "value", 15),
        Seq("event_type"))
      pair("SELECT * FROM mode_value('ev_r12', 'event_type', 'value')",
        graft.queries.ScalarQueries.modeValue(ev, "event_type", "value"),
        Seq("event_type"))
      pair("SELECT * FROM temperature_mix('docs_r12', 'lang', 'text')",
        graft.queries.TrainingDataQueries.temperatureMix(docs, "lang", "text"),
        Seq("lang"))
      pair("SELECT * FROM curriculum('docs_r12', 'text')",
        graft.queries.TextStats.curriculum(docs, "text"),
        Seq("band"))
      pair("SELECT * FROM zipf_fit('docs_r12', 'doc_id', 'text', 100)",
        graft.queries.TextStats.zipfFit(docs, "doc_id", "text", 100),
        Seq("n_types"))
      pair("SELECT * FROM interarrival('ev_r12', 'event_type', 'ts', 'event_id')",
        graft.queries.TimeSeriesQueries.interarrival(
          ev, "event_type", "ts", "event_id"),
        Seq("event_type"))
      pair("SELECT * FROM value_entropy('ev_r12', 'event_type', 'value')",
        graft.queries.StatQueries.valueEntropy(ev, "event_type", "value"),
        Seq("event_type"))
      pair("SELECT * FROM power_analysis('ev_r12', 'event_type', 'ts', 'value', 15)",
        graft.queries.TrainingDataQueries.powerAnalysis(
          ev, "event_type", "ts", "value", 15),
        Seq("event_type"))
      pair("SELECT * FROM readability('docs_r12', 'doc_id', 'text')",
        graft.queries.TextStats.readability(docs, "doc_id", "text"),
        Seq("doc_id"))
      pair("SELECT * FROM quantile_drift('ev_r12', 'event_type', 'ts', 'value', 15)",
        graft.queries.TrainingDataQueries.quantileDrift(
          ev, "event_type", "ts", "value", 15),
        Seq("event_type"))
      pair("SELECT * FROM token_gini('docs_r12', 'doc_id', 'text')",
        graft.queries.TextStats.tokenGiniDocs(docs, "doc_id", "text"),
        Seq("n_types"))
      pair("SELECT * FROM theil_sen('ev_r12', 'event_type', 'ts')",
        graft.queries.StatQueries.theilSen(ev, "event_type", "ts"),
        Seq("event_type"))
      pair("SELECT * FROM cramers_v('ev_r12', 'event_type', 'ts')",
        graft.queries.StatQueries.cramersV(ev, "event_type", "ts"),
        Seq("n"))
      pair("SELECT * FROM mutual_info('ev_r12', 'event_type', 'ts')",
        graft.queries.StatQueries.mutualInfo(ev, "event_type", "ts"),
        Seq("n"))
      pair("SELECT * FROM hellinger('ev_r12', 'event_type', 'ts', 'value', 15)",
        graft.queries.TrainingDataQueries.hellingerDrift(
          ev, "event_type", "ts", "value", 15),
        Seq("event_type"))
      pair("SELECT * FROM completeness('ev_r12', 'event_type', 'ts')",
        graft.queries.TimeSeriesQueries.completeness(ev, "event_type", "ts"),
        Seq("event_type"))
      pair("SELECT * FROM kaplan_meier('ev_r12', 'user_id', 'ts', " +
        "'event_type', 'purchase')",
        graft.queries.StatQueries.kaplanMeier(
          ev, "user_id", "ts", "event_type", "purchase"),
        Seq("duration_days"))
      pair("SELECT * FROM changepoint('ev_r12', 'event_type', 'ts')",
        graft.queries.StatQueries.changepoint(ev, "event_type", "ts"),
        Seq("event_type"))
      pair("SELECT * FROM runs_test('ev_r12', 'event_type', 'ts')",
        graft.queries.StatQueries.runsTest(ev, "event_type", "ts"),
        Seq("event_type"))
      pair("SELECT * FROM key_skew('ev_r12', 'user_id')",
        graft.queries.ScalarQueries.keySkew(ev, "user_id"),
        Seq("n_keys"))
      pair("SELECT * FROM hill_tail('ev_r12', 'event_type', 'value')",
        graft.queries.StatQueries.hillTail(ev, "event_type", "value"),
        Seq("event_type"))
      pair("SELECT * FROM outlier_iqr('ev_r12', 'event_type', 'value')",
        graft.queries.StatQueries.outlierIqr(ev, "event_type", "value"),
        Seq("event_type"))
      pair("SELECT * FROM dispersion_index('ev_r12', 'event_type', 'ts')",
        graft.queries.StatQueries.dispersionIndex(ev, "event_type", "ts"),
        Seq("event_type"))
      pair("SELECT * FROM dedup_sweep('docs_r12', 'doc_id', 'text')",
        graft.queries.TextDedup.dedupSweep(docs, "doc_id", "text"),
        Seq("threshold"))
      pair("SELECT * FROM vocab_drift('docs_r12', 'doc_id', 'text')",
        graft.queries.TextStats.vocabDrift(docs, "doc_id", "text"),
        Seq("v_a"))
      pair("SELECT * FROM brown_forsythe('ev_r12', 'event_type', 'value')",
        graft.queries.StatQueries.brownForsythe(ev, "event_type", "value"),
        Seq("n"))
      // round-14 additions
      pair("SELECT * FROM anova_f('ev_r12', 'event_type', 'value')",
        graft.queries.StatQueries.anovaF(ev, "event_type", "value"),
        Seq("n"))
      pair("SELECT * FROM moment_profile('ev_r12', 'event_type', 'value')",
        graft.queries.StatQueries.momentProfile(ev, "event_type", "value"),
        Seq("event_type"))
      pair("SELECT * FROM markov_entropy('ev_r12', 'user_id', 'event_type', " +
        "'ts', 'event_id')",
        graft.queries.StatQueries.markovEntropy(
          ev, "user_id", "event_type", "ts", "event_id"),
        Seq("prev"))
      pair("SELECT * FROM peak_detection('ev_r12', 'event_type', 'ts')",
        graft.queries.StatQueries.peakDetection(ev, "event_type", "ts"),
        Seq("event_type"))
      pair("SELECT * FROM rank_fractions('ev_r12', 'event_type', 'value', " +
        "'event_id')",
        graft.queries.ScalarQueries.rankFractions(
          ev, "event_type", "value", "event_id"),
        Seq("event_type", "event_id"))
      pair("SELECT * FROM trimmed_mean('ev_r12', 'event_type', 'value', " +
        "'event_id', 5)",
        graft.queries.ScalarQueries.trimmedMean(
          ev, "event_type", "value", "event_id", 5),
        Seq("event_type"))
      pair("SELECT * FROM kendall_tau('ev_r12', 'event_type', 'ts')",
        graft.queries.StatQueries.kendallTau(ev, "event_type", "ts"),
        Seq("event_type"))
      pair("SELECT * FROM weekly_power('ev_r12', 'event_type', 'ts')",
        graft.queries.StatQueries.weeklyPower(ev, "event_type", "ts"),
        Seq("event_type"))
      pair("SELECT * FROM day_corr_matrix('ev_r12', 'event_type', 'ts')",
        graft.queries.StatQueries.dayCorrMatrix(ev, "event_type", "ts"),
        Seq("type_a", "type_b"))
      pair("SELECT * FROM lexical_diversity('docs_r12', 'doc_id', 'text')",
        graft.queries.TextStats.lexicalDiversityDocs(docs, "doc_id", "text"),
        Seq("n_tokens"))
      pair("SELECT * FROM simhash_wide_dedup('docs_r12', 'doc_id', 'text', 3)",
        graft.operators.Dedup.simhashPairsWide(docs, 3, "doc_id", "text"),
        Seq("a", "b"))
      pair("SELECT * FROM simhash_wide20_dedup('docs_r12', 'doc_id', 'text', 2)",
        graft.operators.Dedup.simhashPairsWide20(docs, 2, "doc_id", "text"),
        Seq("a", "b"))
    }
  }

  test("q_mann_kendall executed plan reuses the self-join exchange, two scans") {
    // the pair self-join's b-side must reuse the a-side's daily
    // exchange (AQE ReuseExchange — visible only in the FINAL plan),
    // and the whole plan carries exactly TWO day-grain rollup scans
    // (join + tie rollup, the documented shape), never three
    val df = SparkEntry.queries("q_mann_kendall")(spark, TestSpark.Sf)
    df.queryExecution.toRdd.count()
    val plan = df.queryExecution.executedPlan.toString
    val finalPlan = plan.split("Initial Plan")(0)
    assert(finalPlan.contains("ReusedExchange"), finalPlan.take(2000))
    assert("Scan parquet".r.findAllIn(finalPlan).length == 2,
      finalPlan.take(2000))
  }

  test("round-13 multi-consumer stats: scan counts pinned in executed plans") {
    // the kruskal/crosscorr grids feed multiple bounded rollups — pin
    // the fact-scan count so a plan regression to extra passes lands
    // here (the q_mann_kendall discipline; counts are the MEASURED
    // shapes, documented in the operators' Scaladoc)
    def executedScans(name: String): Int = {
      val df = SparkEntry.queries(name)(spark, TestSpark.Sf)
      df.queryExecution.toRdd.count()
      val finalPlan = df.queryExecution.executedPlan.toString
        .split("Initial Plan")(0)
      "Scan parquet".r.findAllIn(finalPlan).length
    }
    assert(executedScans("q_kruskal_wallis") <= 2)
    assert(executedScans("q_crosscorr") <= 3)
    assert(executedScans("q_effect_size") == 1)
    assert(executedScans("q_spearman") == 1)
    // second-leg pins: the single-scan grid/window shapes, and the
    // documented two-scan self-join/scalar-join shapes
    assert(executedScans("q_brown_forsythe") == 1)
    assert(executedScans("q_hill_tail") == 1)
    assert(executedScans("q_cramers_v") == 1)
    assert(executedScans("q_mutual_info") == 1)
    assert(executedScans("q_chi_square") == 1)
    assert(executedScans("q_completeness") == 1)
    // r16: changepoint moved onto the zeroFilledDaily spine (dark days
    // are the shift), which is the documented two-scan shape (bounds
    // agg + fill join re-derive the daily rollup — the dispersionIndex
    // trade; at corpus scale the daily rollup is the materialize-once
    // artifact, see zeroFilledDaily's Scaladoc)
    assert(executedScans("q_changepoint") <= 2)
    assert(executedScans("q_theil_sen") <= 2)
    assert(executedScans("q_runs_test") <= 2)
    assert(executedScans("q_key_skew") <= 2)
    assert(executedScans("q_kaplan_meier") <= 2)
    assert(executedScans("q_vocab_drift") == 1)
    assert(executedScans("q_embedding_drift") == 1)
    assert(executedScans("q_outlier_iqr") <= 2)
    assert(executedScans("q_dispersion_index") <= 2)
  }

  test("q_span_dedup executed plan computes the gram explode exactly once") {
    // the r9 shape relied on AQE ReuseExchange to dedupe the gram
    // pipeline under its consumers, but column pruning de-canonicalized
    // the subplans and reuse never fired — the explode+hash ran once per
    // consumer (ADVICE r9). The window + left-join rewrite has ONE gram
    // Generate by construction; this pins it so a refactor (or a Spark
    // upgrade changing pruning) that silently reintroduces a second
    // gram pass fails here instead of only showing up in the bench.
    val df = SparkEntry.queries("q_span_dedup")(spark, TestSpark.Sf)
    df.queryExecution.toRdd.count() // finalize the AQE plan
    // walk the adaptive plan TREE (not its printed text): the r20
    // repartition(gh) fusion moved the gram Generate inside an earlier
    // materialized ShuffleQueryStage, which the final-plan printout
    // renders as a stage reference — a text match would read 0 while
    // the explode still executes exactly once. QueryStage subtrees are
    // entered; ReusedExchange is a leaf (a reused stage is NOT a
    // second execution).
    import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def countGenerates(p: SparkPlan): Int = {
      val self = p match { case _: GenerateExec => 1; case _ => 0 }
      val extra = p match {
        case q: QueryStageExec => Seq(q.plan)
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case _ => Seq.empty[SparkPlan]
      }
      self + (p.children ++ extra).map(countGenerates).sum
    }
    val nGenerate = countGenerates(df.queryExecution.executedPlan)
    assert(nGenerate == 1,
      s"expected exactly 1 gram Generate across the executed plan's stages, found $nGenerate:\n" +
        df.queryExecution.executedPlan.toString.take(3000))
  }

  test("q_bucketed_join: SMJ consumes the bucket layout — no shuffle on the join keys") {
    val df = SparkEntry.queries("q_bucketed_join")(spark, TestSpark.Sf)
    df.queryExecution.toRdd.count() // finalize the AQE plan
    val plan = df.queryExecution.executedPlan.toString.split("Initial Plan")(0)
    assert(plan.contains("SortMergeJoin"), plan.take(3000))
    // both scans must report the bucket layout they were written with
    assert("Bucketed: true".r.findAllIn(plan).size == 2, plan.take(3000))
    // the only exchanges are the rollup's (mktsegment hash + final sort):
    // a shuffle on either join key means the layout was NOT consumed
    assert(!plan.contains("Exchange hashpartitioning(o_custkey") &&
      !plan.contains("Exchange hashpartitioning(c_custkey"),
      s"bucketed join must not re-shuffle its join keys:\n${plan.take(3000)}")
  }

  test("q_editdist_neardup: broadcast verify joins over the range boundary, local sort tail") {
    // the total-order contract = rangepartitioning(a, b) + LOCAL sort;
    // it survives only while the prefix joins broadcast (an SMJ would
    // re-shuffle on a/b) — pin all three properties (review r10 find)
    val df = SparkEntry.queries("q_editdist_neardup")(spark, TestSpark.Sf)
    df.queryExecution.toRdd.count() // finalize the AQE plan
    val plan = df.queryExecution.executedPlan.toString.split("Initial Plan")(0)
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2, plan.take(3000))
    assert("Exchange rangepartitioning\\(a#".r.findFirstIn(plan).isDefined,
      s"candidate range boundary missing:\n${plan.take(3000)}")
    assert("Sort \\[[^\\]]*\\], true".r.findFirstIn(plan).isEmpty,
      s"tail sort must stay LOCAL (no global sort node):\n${plan.take(3000)}")
  }

  test("q_dedup_indexed executed plan reuses the candidate-pair exchange") {
    // the r10 fix: the band-join+distinct candidate subtree feeds three
    // consumers (verify join + both semi-join sides) and at bench scale
    // AQE deletes the distinct's own Exchange (single-partition input),
    // so without the explicit repartition boundary every consumer
    // rebuilt the subtree (measured 2x on q_dedup_indexed). This pins
    // that the boundary exists AND that reuse actually fires — the
    // span-dedup lesson was that assuming reuse without asserting it
    // lets a Spark upgrade silently regress the plan.
    val df = SparkEntry.queries("q_dedup_indexed")(spark, TestSpark.Sf)
    df.queryExecution.toRdd.count() // finalize the AQE plan
    val finalPlan = df.queryExecution.executedPlan.toString.split("Initial Plan")(0)
    val nByCol = "REPARTITION_BY_COL".r.findAllIn(finalPlan).size
    val nReused = "ReusedExchange".r.findAllIn(finalPlan).size
    assert(nByCol >= 1, s"expected the candidate repartition boundary:\n${finalPlan.take(3000)}")
    assert(nReused >= 2,
      s"expected >=2 ReusedExchange (candidate subtree shared across consumers), found $nReused")
  }

  test("span_dedup TVF: SQL == DataFrame path") {
    withExtensionsSession { s2 =>
      val docs = Tables.documents(s2, TestSpark.Sf).filter(
        org.apache.spark.sql.functions.col("doc_id") < 120)
      docs.createOrReplaceTempView("docs_span")
      val sql = s2.sql(
        "SELECT * FROM span_dedup('docs_span', 'doc_id', 'text', 5) ORDER BY doc_id")
        .collect().toSeq
      val api = graft.operators.Dedup.spanDedup(docs, 5)
        .orderBy("doc_id").collect().toSeq
      assert(sql.nonEmpty && sql == api)
    }
  }

  test("sample_per_group TVF: SQL == DataFrame, rank cut plans as WindowGroupLimit") {
    withExtensionsSession { s2 =>
      Tables.documents(s2, TestSpark.Sf).createOrReplaceTempView("docs_spg")
      val sql = s2.sql(
        "SELECT * FROM sample_per_group('docs_spg', 'source', 'doc_id', 5) " +
          "ORDER BY source, draw_rank").collect().toSeq
      val api = graft.queries.TrainingDataQueries.samplePerGroup(
        Tables.documents(s2, TestSpark.Sf), "source", "doc_id", 5)
        .orderBy("source", "draw_rank").collect().toSeq
      assert(sql.nonEmpty && sql == api)
      // every group draws exactly min(k, group size) rows — the
      // operator's contract, not a fixture-size assumption
      val groupSizes = Tables.documents(s2, TestSpark.Sf)
        .groupBy("source").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val drawn = api.groupBy(_.getString(0)).view.mapValues(_.length).toMap
      assert(drawn.keySet == groupSizes.keySet, "a group vanished from the draw")
      drawn.foreach { case (g, n) =>
        assert(n == math.min(5L, groupSizes(g)),
          s"group $g drew $n of ${groupSizes(g)} (k=5)")
      }
      // the rank filter must cut candidates BEFORE the exchange
      val plan = graft.queries.TrainingDataQueries.qSamplePerGroup(s2, TestSpark.Sf)
        .queryExecution.executedPlan.toString
      assert(plan.contains("WindowGroupLimit"), plan.take(1500))
    }
  }

  test("top_ngrams TVF: SQL == DataFrame, top-k plans as TakeOrderedAndProject") {
    withExtensionsSession { s2 =>
      Tables.documents(s2, TestSpark.Sf).createOrReplaceTempView("docs_tng")
      val sql = s2.sql(
        "SELECT * FROM top_ngrams('docs_tng', 'doc_id', 'text', 3, 15)")
        .collect().toSeq
      val api = graft.queries.TextStats.topNgrams(
        Tables.documents(s2, TestSpark.Sf), 3, 15).collect().toSeq
      assert(sql.nonEmpty && sql == api)
      // the global top-k must merge per-partition local top-ks, never
      // globally sort the gram table
      val plan = graft.queries.TextStats.topNgrams(
        Tables.documents(s2, TestSpark.Sf), 3, 15)
        .queryExecution.executedPlan.toString
      assert(plan.contains("TakeOrderedAndProject"), plan.take(1500))
    }
  }

  test("containment_pairs TVF: SQL == DataFrame") {
    withExtensionsSession { s2 =>
      Tables.documents(s2, TestSpark.Sf).filter(col("doc_id") < 60)
        .createOrReplaceTempView("docs_cp")
      val sql = s2.sql(
        "SELECT * FROM containment_pairs('docs_cp', 'doc_id', 'text', 3, 0.2) " +
          "ORDER BY a, b, containment").collect().toSeq
      val api = graft.operators.Dedup.containmentPairs(
        Tables.documents(s2, TestSpark.Sf).filter(col("doc_id") < 60), 3, 0.2)
        .orderBy("a", "b", "containment").collect().toSeq
      assert(sql.nonEmpty && sql == api)
    }
  }

  test("outlier_mad TVF: SQL == DataFrame, broadcast stats joins") {
    withExtensionsSession { s2 =>
      Tables.documents(s2, TestSpark.Sf).createOrReplaceTempView("docs_mad")
      val sql = s2.sql(
        "SELECT * FROM outlier_mad('docs_mad', 'source', 'n_chars', 'doc_id') " +
          "ORDER BY doc_id").collect().toSeq
      val api = graft.queries.TrainingDataQueries.outlierMad(
        Tables.documents(s2, TestSpark.Sf), "source", "n_chars", "doc_id")
        .orderBy("doc_id").collect().toSeq
      assert(sql.nonEmpty && sql == api)
      // both stats joins broadcast the tiny per-group aggregates — the
      // fact side must never shuffle on source
      val plan = graft.queries.TrainingDataQueries.outlierMad(
        Tables.documents(s2, TestSpark.Sf), "source", "n_chars", "doc_id")
        .queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
      assert(!plan.contains("SortMergeJoin"), plan.take(1500))
    }
  }

  test("cluster_sample TVF: SQL == DataFrame, rank cut plans as WindowGroupLimit") {
    withExtensionsSession { s2 =>
      Tables.embeddings(s2, TestSpark.Sf).createOrReplaceTempView("emb_cs")
      val sql = s2.sql(
        "SELECT * FROM cluster_sample('emb_cs', 'vec_id', 'embedding', 4, 6) " +
          "ORDER BY cell, draw_rank").collect().toSeq
      val api = graft.queries.SimilarityQueries.clusterSample(
        Tables.embeddings(s2, TestSpark.Sf), "vec_id", "embedding", 4, 6)
        .orderBy("cell", "draw_rank").collect().toSeq
      assert(sql.nonEmpty && sql == api)
      val plan = graft.queries.SimilarityQueries.clusterSample(
        Tables.embeddings(s2, TestSpark.Sf), "vec_id", "embedding", 4, 6)
        .queryExecution.executedPlan.toString
      assert(plan.contains("WindowGroupLimit"), plan.take(1500))
    }
  }

  test("embedding_quantize TVF: an id column named like a staging helper keeps its ids") {
    withExtensionsSession { s2 =>
      val emb = Tables.embeddings(s2, TestSpark.Sf).filter(col("vec_id") < 50)
      val expected = graft.queries.SimilarityQueries.embeddingQuantize(emb)
        .orderBy("vec_id").collect().toSeq
      Seq("__sc", "__e", "__mn", "__mx").foreach { id =>
        emb.withColumnRenamed("vec_id", id).createOrReplaceTempView("emb_helper_id")
        val got = s2.sql(s"SELECT * FROM embedding_quantize('emb_helper_id', '$id', 'embedding') " +
          s"ORDER BY `$id`").collect().toSeq
        assert(got.map(_.getLong(0)) == expected.map(_.getLong(0)), s"idCol $id")
        assert(got == expected, s"idCol $id")
      }
    }
  }

  test("filter_funnel TVF: SQL == DataFrame, one global agg, no window/join") {
    withExtensionsSession { s2 =>
      Tables.documents(s2, TestSpark.Sf).createOrReplaceTempView("docs_fn")
      val sql = s2.sql(
        "SELECT * FROM filter_funnel('docs_fn', 'text', 'lang', 'n_chars') " +
          "ORDER BY stage").collect().toSeq
      val api = graft.queries.TextStats.filterFunnel(
        Tables.documents(s2, TestSpark.Sf)).orderBy("stage").collect().toSeq
      assert(sql.nonEmpty && sql == api)
      // the attrition report must fold to ONE row map-side: no window,
      // no join — the only exchange is the single-row agg merge
      val plan = graft.queries.TextStats.filterFunnel(
        Tables.documents(s2, TestSpark.Sf))
        .queryExecution.executedPlan.toString
      assert(plan.contains("HashAggregate"), plan.take(1500))
      assert(!plan.contains("Window") && !plan.contains("SortMergeJoin"),
        plan.take(1500))
    }
  }

  test("token_estimate TVF: SQL == DataFrame, zero exchanges (pure map-side)") {
    withExtensionsSession { s2 =>
      Tables.documents(s2, TestSpark.Sf).createOrReplaceTempView("docs_te")
      val sql = s2.sql(
        "SELECT * FROM token_estimate('docs_te', 'doc_id', 'text') ORDER BY doc_id")
        .collect().toSeq
      val api = graft.queries.TextStats.tokenEstimate(
        Tables.documents(s2, TestSpark.Sf)).orderBy("doc_id").collect().toSeq
      assert(sql.nonEmpty && sql == api)
      val plan = graft.queries.TextStats.tokenEstimate(
        Tables.documents(s2, TestSpark.Sf))
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan.take(1500))
    }
  }

  test("upsample_repeat TVF: SQL == DataFrame, zero exchanges (pure map-side)") {
    withExtensionsSession { s2 =>
      Tables.documents(s2, TestSpark.Sf).createOrReplaceTempView("docs_ur")
      val sql = s2.sql(
        "SELECT doc_id, lang, repeat_idx FROM upsample_repeat('docs_ur', 'lang', 'doc_id') " +
          "ORDER BY doc_id, repeat_idx").collect().toSeq
      val api = graft.queries.TrainingDataQueries.upsampleRepeat(
        Tables.documents(s2, TestSpark.Sf), "lang", "doc_id")
        .select("doc_id", "lang", "repeat_idx")
        .orderBy("doc_id", "repeat_idx").collect().toSeq
      assert(sql.nonEmpty && sql == api)
      // the repetition itself must never shuffle: epoch lookup, hash,
      // bounded explode — all inside the scan's stage
      val plan = graft.queries.TrainingDataQueries.upsampleRepeat(
        Tables.documents(s2, TestSpark.Sf), "lang", "doc_id")
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan.take(1500))
    }
  }

  test("simhash_dedup TVF: SQL == DataFrame path, pinned shuffled band join") {
    import org.apache.spark.sql.functions.col
    withExtensionsSession { s2 =>
      val docs = Tables.documents(s2, TestSpark.Sf).filter(col("doc_id") < 100)
      docs.createOrReplaceTempView("docs_sh")
      val sql = s2.sql(
        "SELECT a, b, dist FROM simhash_dedup('docs_sh', 'doc_id', 'text', 3) " +
          "ORDER BY a, b").collect().toSeq
      val api = graft.operators.Dedup.simhashPairs(docs, maxDist = 3)
        .select("a", "b", "dist").orderBy("a", "b").collect().toSeq
      assert(sql.nonEmpty && sql == api)
      // the band self-join must stay a shuffled hash join — AQE would
      // broadcast the tiny band frame and serialize candidate scoring
      val df = graft.operators.Dedup.simhashPairs(docs, maxDist = 3)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("ShuffledHashJoin"), plan.take(2000))
      assert(!plan.contains("BroadcastHashJoin"), plan.take(2000))
    }
  }

  test("crossdoc_ngram TVF: SQL == DataFrame path, bad n rejected with usage") {
    import org.apache.spark.sql.functions.col
    withExtensionsSession { s2 =>
      val docs = Tables.documents(s2, TestSpark.Sf).filter(col("doc_id") < 200)
      docs.createOrReplaceTempView("docs_cd")
      val sql = s2.sql(
        "SELECT * FROM crossdoc_ngram('docs_cd', 'doc_id', 'text', 5) ORDER BY doc_id")
        .collect().toSeq
      val api = graft.queries.TextStats.crossdocNgramStats(docs)
        .orderBy("doc_id").collect().toSeq
      assert(sql.nonEmpty && sql == api)
      // the n >= 1 guard surfaces through the TVF with the op name
      val err = intercept[Exception] {
        s2.sql("SELECT * FROM crossdoc_ngram('docs_cd', 'doc_id', 'text', 0)").collect()
      }
      assert(err.getMessage.contains("crossdoc_ngram") &&
        err.getMessage.contains("n must be >= 1"), err.getMessage)
    }
  }

  test("every registered TVF rejects one argument too many with its usage string") {
    val tvfs = graft.plans.GraftFunctions.tvfs
    assert(tvfs.size == 105 && tvfs.map(_.name).distinct.size == tvfs.size)
    withExtensionsSession { s2 =>
      tvfs.foreach { t =>
        val args = Seq.fill(t.tables + t.arity.max + 1)("'x'").mkString(", ")
        val err = intercept[Exception](s2.sql(s"SELECT * FROM ${t.name}($args)").collect())
        assert(err.getMessage.contains(t.usage), s"${t.name}: ${err.getMessage}")
      }
    }
  }

  test("q_skew_join plans the salted shape: replicated right, shuffled join on (key, salt)") {
    val p = physical("q_skew_join")
    assert(p.contains("Generate explode"), p.take(2000)) // right side × buckets
    assert(p.contains("__salt"), p.take(2000))           // salt in the join keys
    assert(p.contains("ShuffledHashJoin"), p.take(2000)) // pinned shuffle shape
    assert(!p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("q_topk plans as TakeOrderedAndProject (no global sort)") {
    assert(physical("q_topk").contains("TakeOrderedAndProject"))
  }

  test("q1_pricing_summary uses partial (map-side) aggregation") {
    val p = physical("q1_pricing_summary")
    assert(p.contains("HashAggregate"))
    assert(p.contains("partial_"))
  }

  test("round-12 scale-shape pins: broadcast vocab, top-k cuts, partial grids") {
    // vocab membership joins as a BROADCAST hash join (a shuffled join
    // over the token grain would dwarf the k-row vocab)
    val v = physical("q_vocab_coverage")
    assert(v.contains("BroadcastHashJoin"), v.take(2000))
    // the BPE/RAKE top-k cuts plan as TakeOrderedAndProject, never a
    // global sort of the full pair/word frame
    assert(physical("q_bpe_pairs").contains("TakeOrderedAndProject"))
    assert(physical("q_rake_keywords").contains("TakeOrderedAndProject"))
    // the KS grid and chi-square fold aggregate map-side (partial_)
    assert(physical("q_ks_test").contains("partial_"))
    assert(physical("q_chi_square").contains("partial_"))
    // benford's single-scan restructure: exactly ONE parquet scan
    val b = physical("q_benford")
    assert("Scan parquet".r.findAllIn(b).length == 1, b.take(2000))
    // dataset card's one-consumer restructure (VERDICT r12 ask #3): the
    // dup flag is a window over the tokenize frame, not an aggregate +
    // self-join — exactly ONE scan of documents, tokenize runs once
    val dc = physical("q_dataset_card")
    assert("Scan parquet".r.findAllIn(dc).length == 1, dc.take(2000))
    // the round-13 single-scan reports: temperature mix and curriculum
    // fold their normalizing totals as windows over bounded grids
    assert("Scan parquet".r.findAllIn(physical("q_temperature_mix")).length == 1)
    assert("Scan parquet".r.findAllIn(physical("q_curriculum")).length == 1)
    assert("Scan parquet".r.findAllIn(physical("q_mode")).length == 1)
  }

  test("integer TVF arguments outside the 32-bit range fail with the op name") {
    withExtensionsSession { s2 =>
      Tables.documents(s2, TestSpark.Sf).createOrReplaceTempView("docs_cd32")
      Seq("4294967301", "-2147483649").foreach { n =>
        val err = intercept[Exception] {
          s2.sql(s"SELECT * FROM crossdoc_ngram('docs_cd32', 'doc_id', 'text', $n)").collect()
        }
        assert(err.getMessage.contains("crossdoc_ngram") &&
          err.getMessage.contains("must be a 32-bit integer literal"), err.getMessage)
      }
    }
  }
}
