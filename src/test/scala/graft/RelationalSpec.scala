package graft

import org.scalatest.funsuite.AnyFunSuite

/** Cross-checks each DataFrame query against an independent Spark SQL
  * formulation — catches aliasing, ordering and arithmetic drift before
  * the driver's DuckDB oracle does.
  */
class RelationalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def run(name: String) =
    SparkEntry.queries(name)(spark, TestSpark.sfDir)

  /** Register all tables as temp views and run the oracle SQL in Spark
    * itself (ANSI subset shared with DuckDB), then compare collected
    * rows as sorted string lists.
    */
  private def sqlCross(name: String): Unit = {
    val tb = graft.sources.Tables(spark, TestSpark.sfDir)
    Seq("region" -> tb.region, "nation" -> tb.nation, "customer" -> tb.customer,
      "supplier" -> tb.supplier, "part" -> tb.part, "orders" -> tb.orders,
      "lineitem" -> tb.lineitem, "events" -> tb.events,
      "documents" -> tb.documents, "embeddings" -> tb.embeddings)
      .foreach { case (n, df) => df.createOrReplaceTempView(n) }
    val got = run(name)
    val exp = spark.sql(SparkEntry.oracleSql(name))
    assert(got.columns.toSeq == exp.columns.toSeq, s"$name column names/order")
    val g = got.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq
    val e = exp.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq
    assert(g == e, s"$name rows differ\n got=${g.take(5)}\n exp=${e.take(5)}")
  }

  test("q1_agg matches its SQL formulation and is non-empty") {
    assert(run("q1_agg").count() > 0)
    sqlCross("q1_agg")
  }

  test("q25_supplier_flow matches its SQL formulation and uses the supplier dim") {
    assert(run("q25_supplier_flow").count() > 0)
    sqlCross("q25_supplier_flow")
  }

  test("q26 range frame: 90-day window includes same-day peers, drops older orders") {
    import spark.implicits._
    def ts(d: String) = java.sql.Timestamp.valueOf(d + " 00:00:00")
    val orders = Seq(
      (1L, 10L, 100.0, ts("1995-01-01")), // alone so far
      (2L, 10L, 200.0, ts("1995-03-01")), // 59 days later → includes #1
      (3L, 10L, 400.0, ts("1995-07-01")), // 122 days after #2 → fresh frame
      (4L, 10L, 800.0, ts("1995-07-01")), // same-day peer of #3
      (5L, 20L, 50.0, ts("1995-01-15")))
      .toDF("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    val out = graft.operators.Relational.q26MovingAvg(orders).collect()
      .map(r => r.getLong(1) -> (r.getLong(3), r.getDouble(4))).toMap
    assert(out(1L) == ((1L, 100.0)))
    assert(out(2L) == ((2L, 150.0)))
    // RANGE peers: both same-day orders see the pair, not just the
    // earlier one (ROWS would give #3 a singleton frame)
    assert(out(3L) == ((2L, 600.0)) && out(4L) == ((2L, 600.0)))
    assert(out(5L) == ((1L, 50.0)))
  }

  test("every oracleSql key has a queries entry and vice versa (SQL-expressible ones)") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("q24 targeted salting: hot key detected, all three join variants agree under skew") {
    import spark.implicits._
    val R = graft.operators.Relational
    // planted skew: key 7 owns ~50% of the fact table, the rest uniform
    val fact = ((1 to 4000).map(i => (7L, i.toLong, i.toLong, i.toLong, 1.0)) ++
      (1 to 4000).map(i => ((i % 400).toLong + 100L, i.toLong, i.toLong, i.toLong, 2.0)))
      .toDF("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_extendedprice")
    val dim = ((7L +: (100L to 499L).toSeq).map(k => (k, if (k == 7L) "H" else "U")))
      .toDF("o_orderkey", "o_orderstatus")
    // detection: a denser sample than production (small fixture) must
    // flag exactly the planted key
    val hot = R.hotJoinKeys(fact, sampleMod = 4, minSampleRows = 100)
      .collect().map(_.getLong(0)).toSeq
    assert(hot == Seq(7L), s"expected the planted hot key alone, got $hot")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    val plain = rows(R.q24PlainJoin(fact, dim))
    assert(rows(R.q24SaltedJoin(fact, dim, salts = 8, sampleMod = 4,
      minSampleRows = 100)) == plain)
    // the salt count only redistributes rows: a different one agrees too
    assert(rows(R.q24SaltedJoin(fact, dim, salts = 3, sampleMod = 4,
      minSampleRows = 100)) == plain)
    // and the hot group really is in the result (the salted copies joined)
    assert(plain.exists { case (s, n, _) => s == "H" && n == 4000L })
  }

  test("q24 targeted salting degenerates to zero hot keys on the uniform corpus") {
    val t = graft.sources.Tables(spark, TestSpark.sfDir)
    // TPC-H lineitem: ≤7 rows per orderkey — nothing qualifies, so the
    // production path is the plain join plus two empty broadcast probes
    assert(graft.operators.Relational.hotJoinKeys(t.lineitem).count() == 0)
  }

  test("scan pushdown regression guard: filters reach the parquet scans") {
    // pins the properties PLANS.md documents — a plan change that
    // stops pushing these predicates should fail loudly here
    def plan(name: String) =
      SparkEntry.queries(name)(spark, TestSpark.sfDir)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
    val q1 = plan("q1_agg")
    assert(q1.contains("PushedFilters: [") &&
      q1.contains("LessThanOrEqual(l_shipdate"))
    val q6 = plan("q6_filter_agg")
    assert(q6.contains("GreaterThanOrEqual(l_shipdate") &&
      q6.contains("LessThan(l_quantity"))
    val q23 = plan("q23_or_pushdown")
    assert(q23.contains("Or(Or(And(")) // the CNF disjunction reached a scan
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("narrow map operators plan with ONLY the presentation-sort exchange") {
    // pins the PLANS.md claim for the scan-fused per-row operators: a
    // future edit that sneaks a shuffle (an extra aggregate, a
    // repartition, an un-broadcast join) in front of the scan fails
    def plan(name: String) =
      SparkEntry.queries(name)(spark, TestSpark.sfDir)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
    Seq("txt_lr_quality", "txt_bpe_apply", "emb_pca_project").foreach { q =>
      val p = plan(q)
      val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(p).length
      assert(exchanges == 1, s"$q: expected 1 exchange (sort), got $exchanges")
      assert(p.contains("rangepartitioning"), s"$q: sort exchange missing")
    }
    // token budget: exactly one hash exchange (the shard window) plus
    // the presentation sort — never a global sort before the window
    val tb = plan("samp_token_budget")
    val tbEx = "\\(\\d+\\) Exchange".r.findAllIn(tb).length
    assert(tbEx == 2, s"samp_token_budget: expected 2 exchanges, got $tbEx")
    assert(tb.contains("hashpartitioning(shard"))
  }

  test("q20's single-level small-input shape equals the two-level plan value-for-value") {
    // the small-input floor dispatches the driver-scale corpus to the
    // single-level window; this pins that both shapes compute the
    // same percentiles on the same input, so the floor can never
    // change results — only plans
    val li = graft.sources.Tables(spark, TestSpark.sfDir).lineitem
    val small = graft.operators.Relational.q20ApproxPercentile(li).collect()
      .map(_.toSeq.map(String.valueOf).mkString("|")).toSeq
    val held = new graft.operators.Caching.Held
    val big =
      try graft.operators.Relational.q20ApproxPercentilePlan(held, li).collect()
        .map(_.toSeq.map(String.valueOf).mkString("|")).toSeq
      finally held.release()
    assert(small == big, "single-level and two-level q20 shapes disagree")
  }

  test("q19's distinct-count branches plan without Expand") {
    // one distinct column per aggregate keeps the single-distinct
    // rewrite (partial-on-(group, value)); a multi-distinct Expand
    // tripling the scan is the regression this pins out
    val t = graft.sources.Tables(spark, TestSpark.sfDir)
    val plan = graft.operators.Relational.q19ApproxDistinct(t.lineitem)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"), s"Expand found in plan:\n$plan")
  }
}
