package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.EventOps

class EventOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(min: Long) = new Timestamp(min * 60000L)

  /** (event_id, minute, user, type, value) */
  private def events(rows: (Long, Long, Long, String, Double)*): DataFrame =
    rows.map { case (id, m, u, t, v) => (id, ts(m), u, t, v, s"""{"k": $id}""") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")

  test("sessionGap splits on >30min gaps per user") {
    val out = EventOps.sessionGap(events(
      (1L, 0, 1, "view", 1.0), (2L, 10, 1, "click", 1.0),
      (3L, 60, 1, "view", 1.0),                       // new session (50min gap)
      (4L, 0, 2, "view", 1.0))).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((1L, 1L, 2L), (1L, 2L, 1L), (2L, 1L, 1L)))
  }

  test("responseAsof pairs each view with the next purchase of the same user") {
    val out = EventOps.responseAsof(events(
      (1L, 0, 1, "view", 1.0), (2L, 5, 1, "purchase", 1.0),
      (3L, 10, 1, "view", 1.0), (4L, 50, 1, "purchase", 1.0),
      (5L, 0, 2, "view", 1.0))).collect() // user 2 never purchases
    assert(out.map(r => (r.getLong(0), r.getLong(3))).toSeq ==
      Seq((1L, 5L * 60000000L), (3L, 50L * 60000000L)))
  }

  test("trimLastN keeps exactly the N newest per user; overflow is the complement") {
    val ev = events((1L to 10L).map(i => (i, i, 1L, "view", 1.0)): _*)
    val kept = EventOps.trimLastN(ev, 3).collect().map(_.getLong(0))
    assert(kept.toSeq == Seq(8L, 9L, 10L))
    val over = EventOps.trimOverflow(ev, 3).collect().head
    assert(over.getLong(1) == 7L) // archived count
  }

  test("funnel counts ordered view→click→purchase progressions") {
    val out = EventOps.funnel(events(
      (1L, 0, 1, "view", 1.0), (2L, 1, 1, "click", 1.0), (3L, 2, 1, "purchase", 1.0),
      (4L, 0, 2, "view", 1.0), (5L, 1, 2, "click", 1.0),
      (6L, 0, 3, "click", 1.0), (7L, 1, 3, "view", 1.0))).collect().head
    assert((out.getLong(0), out.getLong(1), out.getLong(2)) == ((3L, 2L, 1L)))
  }

  test("routeDispatch fans purchase out to both handlers and flags unhandled") {
    val out = EventOps.routeDispatch(
      events((1L, 0, 1, "purchase", 1.0), (2L, 1, 1, "error", 1.0)),
      EventOps.handlerRegistry(spark)).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(out.toSet == Set(
      ("error", "unhandled", 1L),
      ("purchase", "audit_handler", 1L), ("purchase", "billing_handler", 1L)))
  }

  test("asofViewMatch: each purchase matches the most recent view at or before it") {
    val out = EventOps.asofViewMatch(events(
      (1L, 0, 1, "view", 1.0), (2L, 5, 1, "view", 1.0),
      (3L, 7, 1, "purchase", 1.0),   // → view 2 (minute 5)
      (4L, 9, 1, "purchase", 1.0),   // → still view 2
      (5L, 3, 2, "purchase", 1.0),   // user 2 has no views → -1
      (6L, 4, 3, "view", 1.0),
      (7L, 4, 3, "purchase", 1.0))). // same-ts view matches (≤)
      collect().map(r => (r.getLong(0), r.getLong(3)))
    assert(out.toSeq == Seq((3L, 2L), (4L, 2L), (5L, -1L), (7L, 6L)))
  }

  test("custom AsofJoinExec matches the declarative union-window as-of on real data") {
    import graft.operators.Temporal
    import graft.sources.Tables
    import org.apache.spark.sql.functions.{coalesce, col, lit, max}
    val e = EventOps.withTsUs(Tables(spark, TestSpark.sfDir).events)
    val views = e.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts_us").as("v_us"))
      .agg(max(col("event_id")).as("v_event_id"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us").as("p_us"))
    val exec = Temporal.asofBackwardExec(purchases, "p_us", views, "v_us",
        "user_id", Seq("v_event_id", "v_us"))
      .select(col("event_id"), coalesce(col("v_event_id"), lit(-1L)),
        coalesce(col("v_us"), lit(-1L)))
    // SparkPlan.nodeName strips the Exec suffix in plan display
    assert(exec.queryExecution.executedPlan.toString.contains("AsofJoin"))
    val declarative = Temporal.asofBackwardDeclarative(purchases, "p_us", views, "v_us",
        "user_id", Seq("v_event_id", "v_us"))
      .select(col("event_id"), coalesce(col("asof.v_event_id"), lit(-1L)),
        coalesce(col("asof.v_us"), lit(-1L)))
    val a = exec.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
    val b = declarative.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
    assert(a.nonEmpty && a.toSeq == b.toSeq)
  }

  test("filters push through the custom as-of join to both parquet scans") {
    import graft.operators.Temporal
    import graft.sources.Tables
    import org.apache.spark.sql.functions.{col, max}
    val e = EventOps.withTsUs(Tables(spark, TestSpark.sfDir).events)
    val views = e.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts_us").as("v_us"))
      .agg(max(col("event_id")).as("v_event_id"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us").as("p_us"))
    val joined = Temporal.asofBackwardExec(purchases, "p_us", views, "v_us",
      "user_id", Seq("v_event_id"))
    val filtered = joined.filter(col("user_id") < 5)
    val plan = filtered.queryExecution.executedPlan.toString
    // the user_id predicate reaches BOTH sides' parquet scans: the
    // left directly, the right via the mirrored join-key conjunct
    assert(plan.split("LessThan\\(user_id,5\\)").length - 1 >= 2,
      s"expected the key predicate pushed to both scans, got:\n$plan")
    // and semantics are unchanged vs filtering above the join
    val expect = joined.collect().filter(_.getLong(1) < 5).map(_.toSeq).toSet
    assert(filtered.collect().map(_.toSeq).toSet == expect)
  }

  test("rangeViewsBeforePurchase: counts views in the preceding hour only") {
    val out = EventOps.rangeViewsBeforePurchase(events(
      (1L, 0, 1, "view", 1.0),        // 70 min before → outside lookback
      (2L, 40, 1, "view", 1.0),       // inside
      (3L, 65, 1, "view", 1.0),       // inside
      (4L, 70, 1, "purchase", 1.0),   // → 2 views
      (5L, 70, 2, "purchase", 1.0))). // no views → dropped (inner)
      collect().map(r => (r.getLong(0), r.getLong(3)))
    assert(out.toSeq == Seq((4L, 2L)))
  }

  test("deadLetter flags payloads redelivered past the threshold") {
    val out = EventOps.deadLetter(events(
      (1L, 0, 1, "view", 7.2), (2L, 1, 1, "view", 7.9),
      (3L, 2, 1, "view", 7.1),                 // 3 deliveries of (1,view,7)
      (4L, 0, 1, "click", 7.2), (5L, 1, 1, "click", 7.4), // only 2
      (6L, 0, 2, "view", 7.5)), maxDeliveries = 3).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(3))).toSeq == Seq((1L, 3L)))
  }

  test("idleMessages claims pending entries idle past the threshold") {
    // head = minute 100; user 1's newest-2 pending at 10 and 20 are
    // both > 30min idle; user 2's entry at 95 is fresh
    val out = EventOps.idleMessages(events(
      (1L, 5, 1, "view", 1.0), (2L, 10, 1, "view", 1.0),
      (3L, 20, 1, "view", 1.0),
      (4L, 95, 2, "view", 1.0), (5L, 100, 2, "view", 1.0)),
      idleUs = 30L * 60000000L, pendingN = 2).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(2L, 3L))
  }

  test("requeue returns pending messages to the inbox, dead-letters at the cap") {
    // identity (1, view, 7): 2 observed deliveries → incremented to 3 ⇒
    // dead_letter at cap 3; (1, click, 7): 1 delivery → 2 ⇒ inbox.
    // pendingN = 2 keeps only the newest 2 per user: events 2 and 3.
    val out = EventOps.requeue(events(
      (1L, 0, 1, "view", 7.2), (2L, 5, 1, "view", 7.9), // same identity
      (3L, 6, 1, "click", 7.4),
      (4L, 0, 2, "view", 1.0)), maxDeliveries = 3, pendingN = 2).collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getString(4)))
    assert(out.toSeq == Seq(
      (2L, 3L, "dead_letter"), (3L, 2L, "inbox"), (4L, 2L, "inbox")))
  }

  test("requeue's two windows share one hash exchange (subset-key reuse)") {
    // the identity window's keys extend the user window's, so Spark's
    // ClusteredDistribution check must satisfy it from the same
    // exchange — a regression here silently doubles the shuffle
    val plan = EventOps.requeue(events(
      (1L, 0, 1, "view", 1.0), (2L, 1, 1, "view", 1.0)))
      .queryExecution.executedPlan.toString
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashEx == 1, s"expected 1 hash exchange, plan:\n$plan")
  }

  test("inboxRead claims the newest copy per identity from targeted inboxes only") {
    // user 3 is a target: two views → only the newest (id 2) is claimed;
    // the click keeps its own identity; user 1 is not a target
    val out = EventOps.inboxRead(events(
      (1L, 0, 3, "view", 1.0), (2L, 5, 3, "view", 2.0),
      (3L, 6, 3, "click", 3.0),
      (4L, 0, 1, "view", 4.0)), EventOps.targetInstances(spark)).collect()
      .map(r => (r.getLong(0), r.getString(5)))
    assert(out.toSeq == Seq((2L, "worker_1"), (3L, "worker_1")))
  }

  test("organizeStreams pivots a mixed read into per-(stream, type) id-ordered groups") {
    // users 1 and 5 shard to stream_1, user 2 to stream_2
    val out = EventOps.organizeStreams(events(
      (1L, 0, 1, "view", 1.0), (2L, 1, 5, "view", 2.0),
      (3L, 2, 1, "click", 3.0), (4L, 3, 2, "view", 4.0))).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq(
      ("stream_1", "click", 1L, 3L, 3L),
      ("stream_1", "view", 2L, 1L, 2L),
      ("stream_2", "view", 1L, 4L, 4L)))
  }

  test("rate limit counts trailing-window events and flags the flood") {
    import org.apache.spark.sql.functions.lit
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    // user 1: 4 events inside 60s, then one 2 minutes later (fresh-ish window)
    val df = Seq(
      (1L, t(1000), 1L, "view"), (2L, t(1010), 1L, "view"),
      (3L, t(1020), 1L, "view"), (4L, t(1050), 1L, "view"),
      (5L, t(1180), 1L, "view"),
      (6L, t(1000), 2L, "view"))
      .toDF("event_id", "ts", "user_id", "event_type")
      .withColumn("value", lit(1.0)).withColumn("props", lit("{}"))
    val out = EventOps.rateLimit(df, windowSec = 60L, maxPerWindow = 3).collect()
      .map(r => r.getLong(1) -> (r.getLong(3), r.getLong(4))).toMap
    assert(out(1L) == ((1L, 0L)) && out(2L) == ((2L, 0L)) && out(3L) == ((3L, 0L)))
    assert(out(4L) == ((4L, 1L))) // 4th inside 60 s → flood
    assert(out(5L) == ((1L, 0L))) // t=1180: nothing since 1120 but itself
    assert(out(6L) == ((1L, 0L)))
  }

  test("workflow latency spans first to last event per payload workflow key") {
    import org.apache.spark.sql.functions.lit
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "view", """{"k": 7}"""),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 10:05:00"), 2L, "click", """{"k": 7}"""),
      (3L, java.sql.Timestamp.valueOf("2024-01-01 11:00:00"), 1L, "view", """{"k": 9}"""),
      (4L, java.sql.Timestamp.valueOf("2024-01-01 12:00:00"), 1L, "view", """{}"""))
      .toDF("event_id", "ts", "user_id", "event_type", "props")
      .withColumn("value", lit(1.0))
    val out = EventOps.workflowLatency(df).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // wf 7: two events, two types, two users, 5 min span; un-keyed row dropped
    assert(out == Map(7L -> ((2L, 2L, 2L, 300000000L)), 9L -> ((1L, 1L, 1L, 0L))))
  }

  test("round-4 operators are total on empty input") {
    val empty = events()
    assert(EventOps.requeue(empty).collect().isEmpty)
    assert(EventOps.inboxRead(empty, EventOps.targetInstances(spark)).collect().isEmpty)
    assert(EventOps.organizeStreams(empty).collect().isEmpty)
    val noDocs = Seq.empty[(Long, String, Long)].toDF("doc_id", "text", "n_chars")
    val noPairs = Seq.empty[(Long, Long)].toDF("doc1", "doc2")
    assert(graft.operators.Dedup.canonicalize(noDocs, noPairs).collect().isEmpty)
    // empty corpus → "count" (no singleton mass evidence for prefix)
    assert(graft.operators.Dedup.jaccardStrategy(
      Seq.empty[(Long, String)].toDF("doc_id", "text")) == "count")
  }

  test("universalStatus: complete only when every registered handler acked") {
    // purchase fans to 2 handlers; ack predicate: (id*31+len(handler))%10 != 0
    // id=10: 10*31+15=325 → 5≠0 acked; 10*31+13=323 → 3≠0 acked ⇒ complete
    // id=9: 9*31+15=294 → 4≠0; 9*31+13=292 → 2≠0 ⇒ complete
    // find an id where one handler misses: id*31+15 ≡ 0 (mod 10) → id=5:
    // 5*31+15=170 → 0 ⇒ billing_handler unacked ⇒ pending
    val out = EventOps.universalStatus(
      events((5L, 0, 1, "purchase", 1.0), (10L, 1, 1, "purchase", 1.0),
        (11L, 2, 1, "error", 1.0)), // unregistered type drops out
      EventOps.handlerRegistry(spark)).collect()
      .map(r => (r.getLong(0), r.getString(4)))
    assert(out.toSeq == Seq((5L, "pending"), (10L, "complete")))
  }

  test("journeys counts first-N event-type paths in deterministic order") {
    // user 1: view>click>purchase; user 2: view>click>purchase;
    // user 3: view>view (same ts ties broken by event_id)
    val out = EventOps.journeys(events(
      (1L, 0, 1, "view", 1.0), (2L, 5, 1, "click", 1.0), (3L, 9, 1, "purchase", 1.0),
      (4L, 0, 2, "view", 1.0), (5L, 5, 2, "click", 1.0), (6L, 9, 2, "purchase", 1.0),
      (8L, 3, 3, "view", 1.0), (7L, 3, 3, "view", 1.0)), maxSteps = 8)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(out.toSeq == Seq(("view>click>purchase", 2L), ("view>view", 1L)))
    // maxSteps truncates: with 2 steps user 1/2 journeys collapse
    val trunc = EventOps.journeys(events(
      (1L, 0, 1, "view", 1.0), (2L, 5, 1, "click", 1.0), (3L, 9, 1, "purchase", 1.0)),
      maxSteps = 2).collect().map(_.getString(0))
    assert(trunc.toSeq == Seq("view>click"))
  }

  test("registryFromConfig parses busses/handlers JSON into the dispatch dim") {
    val got = EventOps.registryFromConfig(spark, EventOps.sampleBusConfig)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
    assert(got.toSeq == Seq(
      ("accounts", "B", "signup", "graft.handlers.account_handler"),
      ("ingest", "A", "click", "graft.handlers.click_handler"),
      ("ingest", "A", "purchase", "graft.audit.audit_handler"),
      ("ingest", "A", "purchase", "graft.billing.billing_handler")))
    // handler entries may carry kwargs etc. — unknown fields are
    // tolerated like the reference's config loader
    val withExtras =
      """{"busses": [{"name": "b", "group": "G", "handlers": {
        |  "ev": [{"module_name": "m", "name": "h",
        |          "kwargs": {"one": 1, "two": [2, 3]}}]}}]}""".stripMargin
    val rows = EventOps.registryFromConfig(spark, withExtras).collect()
    assert(rows.length == 1 && rows.head.getString(3) == "m.h")
  }

  test("firstLast resolves ties by event_id deterministically") {
    val out = EventOps.firstLast(events(
      (2L, 0, 1, "click", 1.0), (1L, 0, 1, "view", 1.0), // same ts
      (3L, 9, 1, "purchase", 1.0))).collect().head
    assert(out.getString(1) == "view")     // first by (ts, event_id)
    assert(out.getString(3) == "purchase") // last
  }
}
