package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SQL-surface tier (the GraftExtensions table functions): each TVF
  * calls a graft API operator, so its results and its plan equal the
  * DataFrame form's; bad arguments fail before anything runs. */
class TvfSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import graft.api.syntax._

  private def events = graft.core.Tables.events(spark, TestSpark.sfSmoke)

  test("resample TVF result equals the api.resample DataFrame form") {
    events.createOrReplaceTempView("tvf_spec_ev")
    val viaSql = spark.sql(
      "SELECT * FROM resample('tvf_spec_ev', 'ts', 'hour', 'value') ORDER BY bucket")
      .collect()
    val viaApi = events
      .resample("hour", "ts", "bucket")(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .orderBy("bucket")
      .collect()
    assert(viaSql.length == viaApi.length && viaSql.length > 0)
    viaSql.zip(viaApi).foreach { case (a, b) => assert(a == b, s"$a vs $b") }
  }

  test("sessionize TVF result equals the api.sessionize DataFrame form") {
    val ev = events.filter(col("user_id") < 5)
    ev.createOrReplaceTempView("tvf_spec_sess")
    val viaSql = spark.sql(
      "SELECT * FROM sessionize('tvf_spec_sess', 'ts', 'event_id', 'user_id', 1800000000)")
      .select("event_id", "user_id", "session_id")
      .orderBy("event_id").collect()
    val viaApi = ev
      .sessionize(1800000000L, "ts", "event_id", Seq("user_id"))
      .select("event_id", "user_id", "session_id")
      .orderBy("event_id").collect()
    assert(viaSql.length == viaApi.length && viaSql.length > 0)
    viaSql.zip(viaApi).foreach { case (a, b) => assert(a == b, s"$a vs $b") }
  }

  test("sessionize TVF keeps every input column and appends session_id last") {
    events.limit(10).createOrReplaceTempView("tvf_spec_cols")
    val out = spark.sql(
      "SELECT * FROM sessionize('tvf_spec_cols', 'ts', 'event_id', 'user_id', 60000000)")
    assert(out.columns.toSeq == events.columns.toSeq :+ "session_id",
      out.columns.mkString(","))
  }

  test("resample TVF plan is a hash aggregate over the scan — ordinary Catalyst, codegen'd") {
    events.createOrReplaceTempView("tvf_spec_plan")
    val p = spark.sql(
      "SELECT * FROM resample('tvf_spec_plan', 'ts', 'day', 'value')")
      .queryExecution.executedPlan.toString
    // partial+final hash agg and a column-pruned scan — the plan shows
    // the TVF expansion is ordinary Catalyst (AQE wraps it pre-codegen,
    // so assert the agg/pruning facts rather than codegen span text)
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial_count"), p)
    assert(p.contains("ReadSchema: struct<ts:"), p)
  }

  test("TVF arguments are validated before any SQL text splice") {
    events.createOrReplaceTempView("tvf_spec_val")
    // non-identifier view/column names and unknown units must throw,
    // not parse — the guard against quoting tricks in the expansion
    for (bad <- Seq(
        "SELECT * FROM resample('tvf_spec_val; DROP TABLE x', 'ts', 'hour', 'value')",
        "SELECT * FROM resample('tvf_spec_val', 'ts`--', 'hour', 'value')",
        "SELECT * FROM resample('tvf_spec_val', 'ts', 'fortnight', 'value')",
        "SELECT * FROM sessionize('tvf_spec_val', 'ts', 'event_id', 'user_id', -1)",
        // origin form: garbage origin text and calendar units must throw
        "SELECT * FROM resample('tvf_spec_val', 'ts', '7h', 'value', 'not-a-time')",
        "SELECT * FROM resample('tvf_spec_val', 'ts', 'hour', 'value', '2024-01-01 00:00:00')"))
      assertThrows[Exception](spark.sql(bad).collect())
  }

  test("resample TVF with explicit origin equals the api.resampleOrigin DataFrame form") {
    events.createOrReplaceTempView("tvf_spec_ro")
    val viaSql = spark.sql(
      """SELECT * FROM resample('tvf_spec_ro', 'ts', '7h', 'value',
        |                       '2024-01-01 00:00:00') ORDER BY bucket""".stripMargin)
      .collect().map(r => (r.get(0).toString, r.getLong(1), r.getDouble(2))).toSeq
    val viaApi = events
      .resampleOrigin("7h", java.time.LocalDateTime.of(2024, 1, 1, 0, 0), "ts", "bucket")(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .orderBy("bucket")
      .collect().map(r => (r.get(0).toString, r.getLong(1), r.getDouble(2))).toSeq
    assert(viaSql.nonEmpty && viaSql === viaApi)
  }

  test("substring_pairs TVF equals the CurationOps.substringDupsOf DataFrame form") {
    val docs = graft.core.Tables.documents(spark, TestSpark.sfSmoke)
    docs.createOrReplaceTempView("tvf_spec_sub")
    // narrower-than-declared parameters on purpose: proves the TVF's
    // generated windows/cap track (k, max_df), not just the 10/50 case
    val viaSql = spark.sql(
      "SELECT * FROM substring_pairs('tvf_spec_sub', 'doc_id', 'text', 5, 10) ORDER BY a, b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val viaApi = graft.ops.CurationOps
      .substringDupsOf(docs, "doc_id", "text", k = 5, maxDf = 10)
      .orderBy("a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(viaSql.nonEmpty && viaSql === viaApi)
    // parameter validation before any splice
    for (bad <- Seq(
        "SELECT * FROM substring_pairs('tvf_spec_sub', 'doc_id', 'text', 1, 50)",
        "SELECT * FROM substring_pairs('tvf_spec_sub', 'doc_id`--', 'text', 10, 50)"))
      assertThrows[Exception](spark.sql(bad).collect())
  }

  test("simhash_pairs TVF result equals the api.simhashPairs DataFrame form") {
    val docs = graft.core.Tables.documents(spark, TestSpark.sfSmoke)
    docs.createOrReplaceTempView("tvf_spec_docs")
    // narrower-than-declared parameters on purpose: proves the TVF's
    // generated split tracks (bits, max_dist), not just the 60/2 case
    val viaSql = spark.sql(
      "SELECT * FROM simhash_pairs('tvf_spec_docs', 'doc_id', 'text', 24, 3) ORDER BY a, b")
      .collect()
    val viaApi = docs
      .simhashPairs("doc_id", "text", bits = 24, maxHamming = 3)
      .orderBy("a", "b")
      .collect()
    assert(viaSql.length == viaApi.length && viaSql.length > 0,
      s"sql=${viaSql.length} api=${viaApi.length}")
    viaSql.zip(viaApi).foreach { case (a, b) => assert(a == b, s"$a vs $b") }
  }

  test("TVF inline fallback: a STREAMING view expands to the full pipeline (no artifact can back it)") {
    // the artifact-parity path requires a materializable batch frame;
    // a streaming view must fall back to the inline digest/sketch
    // pipeline and still analyze cleanly
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    ms.toDS().toDF("doc_id", "text").createOrReplaceTempView("tvf_spec_stream")
    val sub = spark.sql(
      "SELECT * FROM substring_pairs('tvf_spec_stream', 'doc_id', 'text', 5, 10)")
    assert(sub.isStreaming)
    val subPlan = sub.queryExecution.analyzed.toString
    assert(subPlan.contains("xxhash64"), "streaming fallback lost the inline digest pipeline")
    val sh = spark.sql(
      "SELECT * FROM simhash_pairs('tvf_spec_stream', 'doc_id', 'text', 24, 2)")
    assert(sh.isStreaming)
    assert(sh.queryExecution.analyzed.toString.toLowerCase.contains("sha2"),
      "streaming fallback lost the inline sketch pipeline")
  }

  test("simhash_pairs TVF optional max_df caps a manufactured hot bucket") {
    import spark.implicits._
    // 12 near-identical docs (one shared template) land in ONE
    // (pid, pv) bucket per part: uncapped → C(12,2)-scale pair mass
    // concentrated on one task; max_df drops that bucket. Two
    // outlier twins share a separate small bucket and must SURVIVE
    // the cap.
    val template = "alpha beta gamma delta epsilon zeta eta theta"
    val hot = (0L until 12L).map(i => (i, template))
    val twins = Seq((100L, "iota kappa lambda mu nu xi omicron pi"),
      (101L, "iota kappa lambda mu nu xi omicron pi"))
    (hot ++ twins).toDF("doc_id", "text").createOrReplaceTempView("tvf_spec_hot")
    val uncapped = spark.sql(
      "SELECT * FROM simhash_pairs('tvf_spec_hot', 'doc_id', 'text', 24, 3) ORDER BY a, b")
      .collect()
    val capped = spark.sql(
      "SELECT * FROM simhash_pairs('tvf_spec_hot', 'doc_id', 'text', 24, 3, 5) ORDER BY a, b")
      .collect()
    // uncapped finds the full hot clique (66 pairs) + the twin pair
    assert(uncapped.length == 66 + 1, s"uncapped=${uncapped.length}")
    // capped drops every >5-occupancy bucket: the hot clique is gone,
    // the twins survive
    assert(capped.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((100L, 101L)),
      s"capped=${capped.toSeq}")
    // cap validation
    assertThrows[Exception](spark.sql(
      "SELECT * FROM simhash_pairs('tvf_spec_hot', 'doc_id', 'text', 24, 3, 1)").collect())
  }

  test("latest_by TVF equals the TsdbStore.latestByKey DataFrame form") {
    val path = graft.store.TsdbStore.ensureEventsStore(spark, TestSpark.sfSmoke)
    val store = graft.store.TsdbStore.read(spark, path)
    store.createOrReplaceTempView("tvf_lb_store")
    val viaTvf = spark.sql(
      "SELECT * FROM latest_by('tvf_lb_store', 'user_id', 'event_id', 'value') ORDER BY user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val viaApi = graft.store.TsdbStore
      .latestByKey(store, Seq("user_id"), "event_id", Seq("value"))
      .orderBy("user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(viaTvf.toSeq === viaApi.toSeq && viaTvf.nonEmpty)
  }

  test("latest_by TVF validates identifiers and requires keys") {
    intercept[Exception] {
      spark.sql("SELECT * FROM latest_by('v; DROP', 'k', 'v', 'x')").collect()
    }
    intercept[Exception] {
      spark.sql("SELECT * FROM latest_by('tvf_lb_store', '', 'event_id', 'value')").collect()
    }
  }

  test("ols_fit TVF equals Aggs.olsNormalEqOf on non-declared columns, bit for bit") {
    import spark.implicits._
    // a different (by, x1, x2, y) shape than the gated query
    val rows = for (g <- Seq("a", "b"); x1 <- 0L to 4L; x2 <- 0L to 2L)
      yield (g, x1, x2, (1 + (if (g == "a") 2 else 3) * x1 + 4 * x2).toDouble)
    val df = rows.toDF("grp", "u", "w", "yv")
    df.createOrReplaceTempView("tvf_ols_fix")
    val viaTvf = spark.sql(
        "SELECT * FROM ols_fit('tvf_ols_fix', 'grp', 'u', 'w', 'yv') ORDER BY grp")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    val viaApi = graft.ops.Aggs.olsNormalEqOf(df, "grp", "u", "w", "yv")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(viaTvf.toSeq === viaApi.toSeq && viaTvf.length == 2)
    // exact-fit plane: coefficients recovered exactly, R² exactly 1
    assert(viaTvf(0) == (("a", 15L, 1.0, 2.0, 4.0, 1.0)))
    assert(viaTvf(1) == (("b", 15L, 1.0, 3.0, 4.0, 1.0)))
  }

  test("ols_fit TVF validates identifiers") {
    for (bad <- Seq(
        "SELECT * FROM ols_fit('tvf_ols_fix; --', 'grp', 'u', 'w', 'yv')",
        "SELECT * FROM ols_fit('tvf_ols_fix', 'grp`', 'u', 'w', 'yv')"))
      assertThrows[Exception](spark.sql(bad).collect())
  }

  test("simhash_pairs TVF validates identifiers and parameter ranges") {
    graft.core.Tables.documents(spark, TestSpark.sfSmoke)
      .createOrReplaceTempView("tvf_spec_docs_val")
    for (bad <- Seq(
        "SELECT * FROM simhash_pairs('tvf_spec_docs_val; --', 'doc_id', 'text', 60, 2)",
        "SELECT * FROM simhash_pairs('tvf_spec_docs_val', 'doc_id`', 'text', 60, 2)",
        "SELECT * FROM simhash_pairs('tvf_spec_docs_val', 'doc_id', 'text', 61, 2)",
        "SELECT * FROM simhash_pairs('tvf_spec_docs_val', 'doc_id', 'text', 60, 0)",
        "SELECT * FROM simhash_pairs('tvf_spec_docs_val', 'doc_id', 'text', 8, 8)"))
      assertThrows[Exception](spark.sql(bad).collect())
  }

  test("each delegated TVF plans exactly like the API operator it calls") {
    import spark.implicits._
    val ev = events
    ev.createOrReplaceTempView("tvf_par_ev")
    val sessEv = ev.filter(col("user_id") < 5)
    sessEv.createOrReplaceTempView("tvf_par_sess")
    val docs = graft.core.Tables.documents(spark, TestSpark.sfSmoke)
    docs.createOrReplaceTempView("tvf_par_docs")
    val store = graft.store.TsdbStore.read(spark,
      graft.store.TsdbStore.ensureEventsStore(spark, TestSpark.sfSmoke))
    store.createOrReplaceTempView("tvf_par_store")
    val olsIn = Seq(("a", 0L, 0L, 1.0), ("a", 1L, 2L, 3.5), ("a", 2L, 1L, 4.25),
      ("a", 3L, 3L, 8.0), ("b", 0L, 1L, 2.0), ("b", 1L, 0L, 1.5),
      ("b", 2L, 2L, 6.75), ("b", 4L, 1L, 7.0)).toDF("grp", "u", "w", "yv")
    olsIn.createOrReplaceTempView("tvf_par_ols")
    val aggs = Seq(count(lit(1)).as("n"),
      sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
    val cases = Seq(
      "resample('tvf_par_ev', 'ts', 'hour', 'value')" ->
        ev.resample("hour", "ts", "bucket")(aggs: _*),
      "resample('tvf_par_ev', 'ts', '15min', 'value')" ->
        ev.resample("15min", "ts", "bucket")(aggs: _*),
      "resample('tvf_par_ev', 'ts', '7h', 'value', '2024-01-01 00:00:00')" ->
        ev.resampleOrigin("7h", java.time.LocalDateTime.of(2024, 1, 1, 0, 0),
          "ts", "bucket")(aggs: _*),
      "sessionize('tvf_par_sess', 'ts', 'event_id', 'user_id', 1800000000)" ->
        sessEv.sessionize(1800000000L, "ts", "event_id", Seq("user_id")),
      "simhash_pairs('tvf_par_docs', 'doc_id', 'text', 24, 3)" ->
        graft.text.NearDup.simhashPairs(docs, "doc_id", "text", bits = 24, maxDist = 3),
      "simhash_pairs('tvf_par_docs', 'doc_id', 'text', 24, 3, 5)" ->
        graft.text.NearDup.simhashPairs(docs, "doc_id", "text", bits = 24,
          maxDist = 3, maxDf = 5),
      "substring_pairs('tvf_par_docs', 'doc_id', 'text', 5, 10)" ->
        graft.ops.CurationOps.substringDupsOf(docs, "doc_id", "text", k = 5, maxDf = 10),
      "token_budget_sample('tvf_par_docs', 'source', 'doc_id', 'text', 1500)" ->
        graft.ops.CurationOps.tokenBudgetSampleOf(docs, "source", "doc_id", "text", 1500L),
      "latest_by('tvf_par_store', 'user_id', 'event_id', 'value')" ->
        graft.store.TsdbStore.latestByKey(store, Seq("user_id"), "event_id", Seq("value")),
      "ols_fit('tvf_par_ols', 'grp', 'u', 'w', 'yv')" ->
        graft.ops.Aggs.olsNormalEqOf(olsIn, "grp", "u", "w", "yv"))
    for ((call, api) <- cases) {
      val viaSql = spark.sql(s"SELECT * FROM $call").queryExecution.optimizedPlan
      val viaApi = api.queryExecution.optimizedPlan
      assert(viaSql.sameResult(viaApi), s"$call\n--- sql ---\n$viaSql\n--- api ---\n$viaApi")
    }
  }

  test("one query may call the same TVF twice (self-join of TVF outputs)") {
    events.createOrReplaceTempView("tvf_spec_twice")
    val single = spark.sql(
      "SELECT * FROM resample('tvf_spec_twice', 'ts', 'hour', 'value')").count()
    val joined = spark.sql(
      """SELECT x.bucket, x.n AS nx, y.n AS ny
        |FROM resample('tvf_spec_twice', 'ts', 'hour', 'value') x
        |JOIN resample('tvf_spec_twice', 'ts', 'hour', 'value') y
        |  ON x.bucket = y.bucket""".stripMargin).collect()
    assert(single > 0 && joined.length == single)
    assert(joined.forall(r => r.getLong(1) == r.getLong(2)))
  }
}
