package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan pins for the custom operators registered through
  * `GraftExtensions`. These queries have semantically-equal fallback
  * formulations (a union-window as-of, for one), so a Spark upgrade
  * or a lost extension registration would keep results green while
  * silently dropping the custom operator — only a plan assertion
  * catches that.
  */
class PlanPinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("registered ev_asof_join executes on the custom AsofJoinExec, not a fallback") {
    val df = SparkEntry.queries("ev_asof_join")(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AsofJoin"),
      s"ev_asof_join must plan through graft.plans.AsofJoinExec — extension " +
        s"registration or strategy match regressed; got:\n$plan")
    // and the custom operator is actually runnable, not just planned
    assert(df.limit(1).count() >= 0)
  }

  test("phashPairs dedups bands inline — no aggregate ever shuffles candidate pairs") {
    // the scale claim SCALING.md measures (29.6 M candidates for 36 k
    // results): the cross-band dedup and the distance cut must be
    // filters fused into the join stage, not a groupBy over the
    // candidate set — pin the plan so a refactor can't regress it
    import spark.implicits._
    val hashes = (1L to 50L).map(i => (i, i * 1234567L)).toDF("doc_id", "phash")
    val df = graft.operators.Multimodal.phashPairs(hashes)
    val s = df.queryExecution.sparkPlan.toString
    assert(!s.contains("Aggregate"),
      s"banded pairing must not aggregate candidate pairs; got:\n$s")
    assert(df.count() >= 0) // and the pinned plan actually runs
    // same contract for the multi-index generator: ball-probe dedup
    // and the distance cut are inline too
    val mih = graft.operators.Multimodal.phashPairsMih(hashes)
    assert(!mih.queryExecution.sparkPlan.toString.contains("Aggregate"),
      "multi-index pairing must not aggregate candidate pairs")
    assert(mih.count() >= 0)
  }

  test("q24 targeted salting plans the PLAIN join when nothing is hot") {
    // the degeneracy contract: on the uniform corpus the registered
    // query must BE the plain join — no salt explode, no dim
    // replication (the salted shape would show a Generate node)
    val df = SparkEntry.queries("q24_salted_join")(spark, TestSpark.sfDir)
    val s = df.queryExecution.sparkPlan.toString
    assert(!s.contains("Generate"),
      s"uniform data must degenerate to the plain join; got:\n$s")
  }

  /** Shuffle exchanges in the prepared plan (sparkPlan is BEFORE
    * EnsureRequirements, so it never shows them). Counted by
    * traversing the plan TREE — string-matching the rendered plan
    * broke on exchange-naming drift across Spark versions (round-6
    * advice). AQE wraps the plan in a leaf AdaptiveSparkPlanExec, so
    * the traversal recurses through its current physical plan;
    * BroadcastExchange is not ShuffleExchangeLike and is
    * deliberately not counted.
    */
  private def shuffleCount(df: org.apache.spark.sql.DataFrame): Int = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def walk(p: SparkPlan): Int = p.collect {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case _: ShuffleExchangeLike => 1
    }.sum
    walk(df.queryExecution.executedPlan)
  }

  test("flagship queries keep their audited exchange counts") {
    // PLANS.md's "one shuffle on the natural key (+ presentation
    // sort)" claims as CI assertions — a lost map-side combine, a
    // dropped broadcast hint or an accidental repartition would add
    // an exchange here before it would show up in a bench
    val expected = Seq(
      "q1_agg" -> 2, // partial+final agg exchange, presentation sort
      "dd_exact" -> 2, // md5-keyed agg exchange, presentation sort
      "ev_session_gap" -> 2, // user-keyed window exchange, sort
      "ev_top_users" -> 1, // user agg exchange; top-k is TakeOrdered, no sort exchange
      "q2_join_agg" -> 2) // dim broadcast (no exchange) + agg + sort
    expected.foreach { case (name, n ) =>
      val df = SparkEntry.queries(name)(spark, TestSpark.sfDir)
      assert(shuffleCount(df) == n,
        s"$name: expected $n shuffle exchanges, got ${shuffleCount(df)}:\n" +
          df.queryExecution.sparkPlan.toString)
    }
  }

  test("txt_tfidf_terms keeps the repartition-first top-k (one sort, above the group exchange)") {
    // the round-12 win (3.1× at sf10, 1.6× at sf100; SCALING.md round 12)
    // depends on Spark reusing the forced exchange+sort for the
    // window — one sort total, and WindowGroupLimit running as a
    // streaming filter over it. Nothing else pins that: a version
    // bump or conf change could silently re-add the pre-exchange
    // partial sort (the bare shape sorts the whole w-keyed join
    // output to eliminate almost nothing, then sorts it all again
    // after the exchange). Pin the shape, not the strings.
    import org.apache.spark.sql.execution.{SortExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    def collectAll[T](p: SparkPlan)(pf: PartialFunction[SparkPlan, T]): Seq[T] =
      p.collect {
        case a: AdaptiveSparkPlanExec => collectAll(a.executedPlan)(pf)
        case n if pf.isDefinedAt(n) => Seq(pf(n))
      }.flatten
    val df = SparkEntry.queries("txt_tfidf_terms")(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan
    val windows = collectAll(plan) { case w: WindowExec => w }
    assert(windows.size == 1, s"expected one ranking window:\n$plan")
    val below = windows.head.child
    // exactly one sort below the window (the post-exchange one that
    // both satisfies the window and feeds the group-limit filter) and
    // exactly one group-limit pass (no partial arm)
    val sorts = collectAll(below) { case s: SortExec => s }
    assert(sorts.size == 1, s"expected exactly one sort below the window:\n$plan")
    assert(collectAll(below) { case g: WindowGroupLimitExec => g }.size == 1,
      s"expected exactly one WindowGroupLimit pass (no partial arm):\n$plan")
    // the sort's input comes from the doc_id exchange...
    val exchanges = collectAll(sorts.head.child) { case e: ShuffleExchangeLike => e }
    assert(exchanges.nonEmpty, s"expected the forced group-key exchange:\n$plan")
    val groupEx = exchanges.head // pre-order: the topmost
    groupEx.outputPartitioning match {
      case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
        assert(h.expressions.length == 1 &&
          h.expressions.head.references.map(_.name).toSeq == Seq("doc_id"),
          s"group exchange must partition on doc_id alone:\n$plan")
      case other => fail(s"group exchange must hash-partition on doc_id, got $other")
    }
    // ...and NOTHING below that exchange sorts or group-limits: the
    // 150 M-row join output must arrive unsorted
    assert(collectAll(groupEx.child) { case s: SortExec => s }.isEmpty,
      s"no sort may run below the group exchange (the bare-window pathology):\n$plan")
    assert(collectAll(groupEx.child) { case g: WindowGroupLimitExec => g }.isEmpty,
      s"no partial WindowGroupLimit may run below the group exchange:\n$plan")
    assert(df.limit(1).count() >= 0) // and the pinned plan runs
  }

  test("q20's exact-percentile windows are never partitioned by the flag alone") {
    // the round-7 generated-sf1 catch: a cumulative window partitioned
    // only by the 3-value returnflag runs ONE task per flag over every
    // distinct price — three corpus-sized sorts at 100 TB. The
    // two-level prefix sum keeps the histogram-sized window partitioned
    // by (flag, bucket); the only single-column window left is the
    // bucket-offset cumulation over the ≤ flags·4096-row totals, whose
    // input is an aggregate of bucket ids, not prices.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    def windows(p: SparkPlan): Seq[WindowExec] = p.collect {
      case a: AdaptiveSparkPlanExec => windows(a.executedPlan)
      case w: WindowExec => Seq(w)
    }.flatten
    val held = new graft.operators.Caching.Held
    val ws =
      try windows(graft.operators.Relational.q20ApproxPercentilePlan(held,
        graft.sources.Tables(spark, TestSpark.sfDir).lineitem).queryExecution.executedPlan)
      finally held.release()
    assert(ws.nonEmpty, "expected window nodes in the q20 plan")
    // the value-ordered cumulation must carry ≥2 partition keys
    // (flag + bucket); the only window allowed a single partition key
    // is the bucket-offset cumulation, which orders by the bucket id
    // over the ≤ flags·buckets-row totals — never by the price
    val overValues = ws.filter(_.orderSpec.exists(
      _.child.references.exists(_.name == "l_extendedprice")))
    assert(overValues.nonEmpty, "expected the value-ordered cumulative window")
    overValues.foreach { w =>
      assert(w.partitionSpec.length >= 2,
        s"value-ordered window must include the bucket in its partition keys:\n$w")
    }
  }

  test("txt_bigram_surprisal explodes the corpus exactly once (cached bigram frame)") {
    // the round-6 weak plan: un-persisted subtrees paid THREE corpus
    // explodes (scoring join, model build, vocabulary). The fix pins
    // to: ONE Generate total — inside the cached bigram frame — and
    // the scoring plan reads only InMemoryRelations, never the source
    import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def collectAll[T](p: SparkPlan)(pf: PartialFunction[SparkPlan, T]): Seq[T] =
      p.collect {
        case a: AdaptiveSparkPlanExec => collectAll(a.executedPlan)(pf)
        case n if pf.isDefinedAt(n) => Seq(pf(n))
      }.flatten
    val docs = graft.sources.Tables(spark, TestSpark.sfDir).documents
    val held = new graft.operators.Caching.Held
    try {
      // the first frame bigramSurprisalPlan holds is the bigram frame
      var bg: org.apache.spark.sql.DataFrame = null
      val scored = graft.operators.TextOps.bigramSurprisalPlan(
        df => { if (bg == null) bg = df; held(df) }, docs)
      // bg reads its own cache; the single corpus explode lives in the
      // cached plan INSIDE the InMemoryRelation
      val bgCached = collectAll(bg.queryExecution.executedPlan) {
        case s: InMemoryTableScanExec => s.relation.cachedPlan }
      assert(bgCached.size == 1 && collectAll(bgCached.head) {
          case g: GenerateExec => g }.size == 1,
        s"the bigram frame must hold the single corpus explode:\n${bg.queryExecution.executedPlan}")
      val scoredPlan = scored.queryExecution.executedPlan
      assert(collectAll(scoredPlan) { case g: GenerateExec => g }.isEmpty,
        s"scoring plan must not re-explode the corpus:\n$scoredPlan")
      assert(collectAll(scoredPlan) { case s: InMemoryTableScanExec => s }.nonEmpty,
        s"scoring plan must read the cached frames:\n$scoredPlan")
      assert(scored.limit(1).count() >= 0) // and the pinned plan runs
    } finally held.release()
  }

  test("dup-spans coverage never re-shuffles gram instances") {
    // the round-7 rework: coverage is a per-doc aggregate over
    // collect_list(pos) + the interval-union expression — the old
    // explode(pos..pos+2) → global distinct shuffled 3 rows per dup
    // gram instance (330 M at generated sf10). Pin the shape: the
    // plan's exchanges are the dup-gram aggregate, the doc-keyed
    // coverage aggregate and the presentation sort — a re-added
    // distinct (or a lost broadcast of the dup-gram set) adds one
    // dupSpansPlan, NOT dupSpans: the public operator checkpoints, and
    // a post-checkpoint plan is a LogicalRDD scan whose shuffle count
    // is vacuously zero — the pin must read the real plan
    val docs = graft.sources.Tables(spark, TestSpark.sfDir).documents
    val held = new graft.operators.Caching.Held
    try {
      val df = graft.operators.Dedup.dupSpansPlan(held, docs)
      val n = shuffleCount(df)
      assert(n > 0 && n <= 3,
        s"dup_spans: expected 1..3 shuffle exchanges, got $n:\n" +
          df.queryExecution.sparkPlan.toString)
    } finally held.release()
  }

  test("the extension's strategy and pushdown rule are registered in the session") {
    val injected = spark.sessionState.planner.strategies.map(_.getClass.getName)
    assert(injected.exists(_.contains("graft")),
      s"graft strategy missing from planner: $injected")
    val rules = spark.sessionState.optimizer.extendedOperatorOptimizationRules
      .map(_.getClass.getName)
    assert(rules.exists(_.contains("PushFilterThroughAsofJoin")),
      s"graft pushdown rule missing from optimizer: $rules")
  }
}
