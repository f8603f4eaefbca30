package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.EventOps
import graft.sources.Tables
import graft.streaming.{EventStreamJobs, LiveEvent}

/** Live-loop equivalents (reference streams/reader.py:151): routing,
  * watermarked windows and stateful sessionization driven through
  * MemoryStream micro-batches into memory sinks.
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // minute 0 sits on the initial watermark (epoch 0) and gets treated
  // as late by watermarked stateful operators — keep test times clear
  // of the boundary
  private val base = 100020L // hour-aligned (100020 min = 1667 h)
  private def ev(id: Long, min: Long, user: Long, tpe: String) =
    LiveEvent(id, new Timestamp((base + min) * 60000L), user, tpe, 1.0)

  test("streaming bus routes events to registered handlers, unhandled flagged") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[LiveEvent]
    val q = EventStreamJobs.route(in.toDF(), EventOps.handlerRegistry(spark))
      .writeStream.format("memory").queryName("routed").outputMode("append").start()
    try {
      in.addData(ev(1, 0, 1, "purchase"), ev(2, 1, 2, "error"))
      q.processAllAvailable()
      val rows = spark.table("routed").collect()
        .map(r => (r.getAs[Long]("event_id"), r.getAs[String]("handler"))).toSet
      assert(rows == Set((1L, "billing_handler"), (1L, "audit_handler"), (2L, "unhandled")))
    } finally q.stop()
  }

  test("watermarked tumbling window aggregates per hour") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[LiveEvent]
    val q = EventStreamJobs.windowedCounts(in.toDF())
      .writeStream.format("memory").queryName("windowed").outputMode("complete").start()
    try {
      in.addData(ev(1, 10, 1, "view"), ev(2, 20, 1, "view"), ev(3, 70, 1, "click"))
      q.processAllAvailable()
      val rows = spark.table("windowed").collect()
        .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("n_events"))).toSet
      assert(rows == Set(("view", 2L), ("click", 1L)))
    } finally q.stop()
  }

  test("streaming dedup collapses redelivered payloads within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[LiveEvent]
    val q = EventStreamJobs.dedupStream(in.toDF())
      .writeStream.format("memory").queryName("deduped").outputMode("append").start()
    try {
      // redeliveries carry fresh event_ids but the same payload
      // identity (user, type, value) — the batch dedupExact contract
      in.addData(ev(1, 0, 1, "view"), ev(2, 0, 1, "view"), ev(3, 1, 1, "click"))
      q.processAllAvailable()
      in.addData(ev(4, 1, 1, "click")) // redelivery in a later batch
      q.processAllAvailable()
      val keys = spark.table("deduped").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type"))).sorted
      assert(keys.toSeq == Seq((1L, "click"), (1L, "view")))
    } finally q.stop()
  }

  test("streaming window totals equal the batch tumbling aggregation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[LiveEvent]
    val q = EventStreamJobs.windowedCounts(in.toDF())
      .writeStream.format("memory").queryName("win_x").outputMode("complete").start()
    try {
      val rows = Seq(ev(1, 10, 1, "view"), ev(2, 20, 2, "view"),
        ev(3, 50, 1, "click"), ev(4, 70, 1, "view"), ev(5, 95, 2, "click"))
        .map(e => e.copy(value = e.event_id * 10.01)) // non-trivial sums
      in.addData(rows: _*)
      q.processAllAvailable()
      val streamed = spark.table("win_x").collect()
        .map(r => (r.getStruct(0).getTimestamp(0).getTime / 1000,
          r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      val batch = graft.operators.EventOps.windowTumbling(rows.toDF())
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("stream-stream interval join pairs views with purchases within the hour") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[LiveEvent]
    val q = EventStreamJobs.responseJoin(in.toDF())
      .writeStream.format("memory").queryName("paired").outputMode("append").start()
    try {
      in.addData(
        ev(1, 0, 1, "view"), ev(2, 30, 1, "purchase"),   // within the hour → pair
        ev(3, 0, 2, "view"), ev(4, 200, 2, "purchase"))  // 200min later → no pair
      q.processAllAvailable()
      val pairs = spark.table("paired").collect()
        .map(r => (r.getAs[Long]("view_id"), r.getAs[Long]("purchase_id")))
      assert(pairs.toSeq == Seq((1L, 2L)))
    } finally q.stop()
  }

  test("stateful sessionizer closes a session when the 30min gap is exceeded") {
    import spark.implicits._
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[LiveEvent]
    val q = EventStreamJobs.sessionize(in.toDS())
      .writeStream.format("memory").queryName("sessions").outputMode("append").start()
    try {
      in.addData(ev(1, 0, 1, "view"), ev(2, 10, 1, "click"))
      q.processAllAvailable()
      in.addData(ev(3, 60, 1, "view")) // 50min gap → closes the first session
      q.processAllAvailable()
      val rows = spark.table("sessions").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events")))
      assert(rows.toSeq == Seq((1L, 2L)))
    } finally q.stop()
  }

  test("live trim keeps the N newest per user and emits evicted overflow") {
    import spark.implicits._
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[LiveEvent]
    val q = EventStreamJobs.trimStream(in.toDS(), n = 3)
      .writeStream.format("memory").queryName("trimmed").outputMode("append").start()
    try {
      in.addData(ev(1, 1, 1, "view"), ev(2, 2, 1, "view"),
        ev(3, 3, 1, "view"), ev(4, 4, 1, "view"))
      q.processAllAvailable() // 4 kept→3, oldest (1) evicted
      in.addData(ev(5, 5, 1, "view"), ev(6, 6, 1, "view"),
        ev(10, 1, 2, "view"))
      q.processAllAvailable() // user 1: 2,3 evicted; user 2 under N
      val rows = spark.table("trimmed").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id"))).toSet
      assert(rows == Set((1L, 1L), (1L, 2L), (1L, 3L)))
    } finally q.stop()
  }

  test("live rate limiter prunes the trailing window and frames same-instant peers together") {
    import spark.implicits._
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[LiveEvent]
    // 10-minute window, flood above 2 events
    val q = EventStreamJobs.rateLimitStream(in.toDS(), windowSec = 600, maxPerWindow = 2)
      .writeStream.format("memory").queryName("rated").outputMode("append").start()
    try {
      in.addData(ev(1, 0, 1, "view"), ev(2, 5, 1, "view"))
      q.processAllAvailable()
      // same-instant peers in one batch share the frame — both count
      // all four in-window events (RANGE semantics) and both flood
      in.addData(ev(3, 8, 1, "view"), ev(4, 8, 1, "view"))
      q.processAllAvailable()
      // 12 quiet minutes: everything before t=10 pruned → count 1
      in.addData(ev(5, 20, 1, "view"))
      q.processAllAvailable()
      val rows = spark.table("rated").collect()
        .map(r => r.getAs[Long]("event_id") ->
          (r.getAs[Long]("n_in_window"), r.getAs[Long]("flood"))).toMap
      assert(rows == Map(1L -> (1L, 0L), 2L -> (2L, 0L),
        3L -> (4L, 1L), 4L -> (4L, 1L), 5L -> (1L, 0L)))
    } finally q.stop()
  }

  test("streaming sessionizer matches batch sessionGap on random in-order timelines") {
    import spark.implicits._
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(2026)
    // random per-user gap sequences, globally sorted by ts (the
    // in-order delivery contract), split across three micro-batches
    var id = 0L
    val timeline = (1 to 4).flatMap { u =>
      var t = rnd.nextInt(30).toLong
      (1 to 12).map { _ =>
        t += 1 + rnd.nextInt(70) // gaps straddle the 30-min threshold
        id += 1
        ev(id, t, u.toLong, "view")
      }
    }.sortBy(e => e.ts.getTime)
    val in = MemoryStream[LiveEvent]
    val q = EventStreamJobs.sessionize(in.toDS())
      .writeStream.format("memory").queryName("sess_x").outputMode("append").start()
    try {
      timeline.grouped((timeline.size + 2) / 3).foreach { batch =>
        in.addData(batch: _*); q.processAllAvailable()
      }
      // batch twin over the same rows: compare the CLOSED sessions
      // (streaming can't emit each user's final, still-open session)
      val batchAll = graft.operators.EventOps
        .sessionGap(timeline.toDF())
        .collect()
        .map(r => (r.getLong(0), r.getLong(3), r.getLong(4), r.getLong(2)))
      val lastPerUser = batchAll.groupBy(_._1).view.mapValues(_.maxBy(_._2)).toMap
      val expectedClosed = batchAll.filterNot(r => lastPerUser(r._1) == r).toSet
      val streamed = spark.table("sess_x").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("start_us"),
          r.getAs[Long]("end_us"), r.getAs[Long]("n_events"))).toSet
      assert(streamed == expectedClosed)
    } finally q.stop()
  }

  test("live dead-letter fires exactly once, on the threshold delivery") {
    import spark.implicits._
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[LiveEvent]
    val q = EventStreamJobs.deadLetterStream(in.toDS(), maxDeliveries = 3)
      .writeStream.format("memory").queryName("dlq").outputMode("append").start()
    try {
      in.addData(ev(1, 0, 1, "view"), ev(2, 1, 1, "view")) // 2 deliveries
      q.processAllAvailable()
      assert(spark.table("dlq").count() == 0)
      in.addData(ev(3, 2, 1, "view"), ev(4, 3, 1, "view")) // 3rd + 4th
      q.processAllAvailable()
      val rows = spark.table("dlq").collect()
        .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("delivery_count")))
      assert(rows.toSeq == Seq((3L, 3L))) // fired once, at the 3rd, not again
    } finally q.stop()
  }

  test("live organize view converges to the batch per-(stream, type) pivot") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[LiveEvent]
    val q = EventStreamJobs.organizeStream(in.toDS())
      .writeStream.format("memory").queryName("organized").outputMode("complete").start()
    try {
      val evs = Seq(ev(1, 0, 1, "view"), ev(2, 1, 5, "view"),
        ev(3, 2, 1, "click"), ev(4, 3, 2, "view"))
      in.addData(evs.take(2)); q.processAllAvailable()
      in.addData(evs.drop(2)); q.processAllAvailable()
      val live = spark.table("organized").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSet
      val batch = graft.operators.EventOps.organizeStreams(
        evs.map(e => (e.event_id, e.ts, e.user_id, e.event_type, e.value, "{}"))
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
        .drop("total_value").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSet
      assert(live == batch)
    } finally q.stop()
  }

  test("live requeue returns every redelivery to the inbox, dead-letters at the cap") {
    import spark.implicits._
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[LiveEvent]
    val q = EventStreamJobs.requeueStream(in.toDS(), maxDeliveries = 3)
      .writeStream.format("memory").queryName("requeued").outputMode("append").start()
    try {
      in.addData(ev(1, 0, 1, "view"), ev(2, 1, 1, "view")) // deliveries 1, 2
      q.processAllAvailable()
      val first = spark.table("requeued").collect()
        .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("delivery_count"),
          r.getAs[String]("destination")))
      // delivery 1 requeues as count 2 (inbox); delivery 2 hits the cap
      assert(first.toSet == Set((1L, 2L, "inbox"), (2L, 3L, "dead_letter")))
      in.addData(ev(3, 2, 1, "view")) // state persists across batches
      q.processAllAvailable()
      val all = spark.table("requeued").collect()
        .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("delivery_count"),
          r.getAs[String]("destination")))
      assert(all.toSet == first.toSet + ((3L, 4L, "dead_letter")))
    } finally q.stop()
  }

  test("streaming requeue's final counts converge to the batch operator on random feeds") {
    import spark.implicits._
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(41)
    // random redelivery pattern: 30 events over 4 users × 2 types,
    // values collide into delivery identities via floor()
    val evs = (1 to 30).map { i =>
      LiveEvent(i.toLong, new Timestamp((base + i) * 60000L),
        1L + rnd.nextInt(4), if (rnd.nextBoolean()) "view" else "click",
        (1 + rnd.nextInt(3)).toDouble + rnd.nextDouble() * 0.9)
    }
    val in = MemoryStream[LiveEvent]
    val q = EventStreamJobs.requeueStream(in.toDS(), maxDeliveries = 3)
      .writeStream.format("memory").queryName("rq_x").outputMode("append").start()
    def identity(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("user_id"), r.getAs[String]("event_type"), r.getAs[Long]("value_key"))
    try {
      evs.grouped(7).foreach { batch => in.addData(batch); q.processAllAvailable() }
      val requeued = spark.table("rq_x").collect()
      // the LAST emission per identity carries the full running count
      val live = requeued.map(r => (identity(r), r.getAs[Long]("delivery_count")))
        .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
      // batch requeue with an unbounded pending window sees every
      // delivery; its per-identity count must equal the stream's final
      val batchDf = EventOps.requeue(
        evs.map(e => (e.event_id, e.ts, e.user_id, e.event_type, e.value, "{}"))
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
        maxDeliveries = 3, pendingN = Int.MaxValue)
      val batch = batchDf.collect()
        .map(r => ((r.getLong(1), r.getString(2),
          math.floor(evs.find(_.event_id == r.getLong(0)).get.value).toLong),
          r.getLong(3)))
        .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
      assert(live == batch)
      // the dead-letter view reads the same delivery counter: each
      // identity dead-letters at most once, on exactly the event whose
      // requeue row carries delivery_count == maxDeliveries + 1
      Seq(1, 3).foreach { maxDeliveries =>
        val dlIn = MemoryStream[LiveEvent]
        val name = s"dl_x_$maxDeliveries"
        val dq = EventStreamJobs.deadLetterStream(dlIn.toDS(), maxDeliveries)
          .writeStream.format("memory").queryName(name).outputMode("append").start()
        try {
          evs.grouped(7).foreach { batch => dlIn.addData(batch); dq.processAllAvailable() }
          val dead = spark.table(name).collect()
          assert(dead.map(_.getAs[Long]("delivery_count")).toSet.subsetOf(
            Set(maxDeliveries.toLong)))
          assert(dead.map(identity).distinct.length == dead.length)
          val expected = requeued
            .filter(_.getAs[Long]("delivery_count") == maxDeliveries + 1)
            .map(r => (identity(r), r.getAs[Long]("event_id"))).toSet
          assert(expected.nonEmpty)
          assert(dead.map(r => (identity(r), r.getAs[Long]("event_id"))).toSet == expected)
        } finally dq.stop()
      }
    } finally q.stop()
  }

  test("streaming document pipeline cleans, fingerprints and dedups like the batch twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val good1 = "spark engines shuffle partitions across executors tonight"
    val good2 = "broadcast small dimension tables for colocated joins"
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.DocPipelineJobs
      .dedupCleanStream(in.toDF().toDF("doc_id", "text"))
      .select("doc_id", "h", "n_words", "fp")
      .writeStream.format("memory").queryName("doc_clean_live").outputMode("append").start()
    try {
      in.addData(
        (1L, good1),
        (2L, "hi"),                    // short: quality-cut
        (3L, "the a the a the a"),     // stop-heavy: quality-cut
        (4L, good1),                   // exact dup of 1: dropped
        (5L, good2))
      q.processAllAvailable()
      val rows = spark.table("doc_clean_live").collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getLong(3))).toMap
      assert(rows.keySet == Set(1L, 5L))
      // the stream's hash/fingerprint equal the batch operators' on
      // the same (already-normalized) text — shared code, same result
      val batch = graft.operators.TextOps.fingerprint(
        Seq((1L, good1), (5L, good2)).toDF("doc_id", "text"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(rows(1L)._2 == batch(1L) && rows(5L)._2 == batch(5L))
      val batchClean = graft.operators.TextOps.cleanPipeline(
        Seq((1L, good1), (4L, good1), (5L, good2)).toDF("doc_id", "text"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(batchClean.keySet == Set(1L, 5L)) // batch keeps min-doc_id canonical
      assert(rows(1L)._1 == batchClean(1L) && rows(5L)._1 == batchClean(5L))
    } finally q.stop()
  }

  test("close stream reports final state for targeted users only, converging to batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ev(id: Long, min: Int, user: Long) =
      LiveEvent(id, Timestamp.valueOf(f"2024-01-01 10:$min%02d:00"), user, "view", 1.0)
    val targets = Seq(3L, 7L).toDF("target_user")
    val in = MemoryStream[LiveEvent]
    val q = graft.streaming.EventStreamJobs.closeStream(in.toDF(), targets)
      .writeStream.format("memory").queryName("close_live")
      .outputMode("update").start()
    try {
      in.addData(ev(1L, 10, 3L), ev(2L, 20, 5L), ev(3L, 30, 7L))
      q.processAllAvailable()
      in.addData(ev(4L, 40, 3L)) // more traffic drains from target 3
      q.processAllAvailable()
      val rows = spark.table("close_live").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(!rows.exists(_._1 == 5L)) // non-target never reported
      // last emission per user == the batch closeStreams final state
      val finalByUser = rows.zipWithIndex.groupBy(_._1._1)
        .map { case (u, rs) => u -> rs.maxBy(_._2)._1 }
      val batch = graft.operators.EventOps.closeStreams(
        Seq((1L, "2024-01-01 10:10:00", 3L), (2L, "2024-01-01 10:20:00", 5L),
          (3L, "2024-01-01 10:30:00", 7L), (4L, "2024-01-01 10:40:00", 3L))
          .toDF("event_id", "ts_str", "user_id")
          .withColumn("ts", $"ts_str".cast("timestamp")).drop("ts_str"),
        targets).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(finalByUser.values.toSet == batch.toSet)
    } finally q.stop()
  }

  test("journey stream tracks bounded first-N prefixes, reordering late events") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    def ev(id: Long, min: Int, user: Long, t: String) =
      LiveEvent(id, Timestamp.valueOf(f"2024-01-01 10:$min%02d:00"), user, t, 1.0)
    val in = MemoryStream[LiveEvent]
    val q = graft.streaming.EventStreamJobs.journeyStream(in.toDS(), maxSteps = 3)
      .toDF("user_id", "journey")
      .writeStream.format("memory").queryName("journeys_live")
      .outputMode("update").start()
    try {
      in.addData(ev(2L, 10, 1L, "view"), ev(3L, 20, 1L, "click"))
      q.processAllAvailable()
      val afterB1 = spark.table("journeys_live").collect().length
      assert(spark.table("journeys_live").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet == Set((1L, "view>click")))
      // a LATE event earlier in time re-sorts into the prefix, and the
      // 3-step bound then truncates the newest tail event
      in.addData(ev(1L, 5, 1L, "signup"), ev(4L, 30, 1L, "purchase"))
      q.processAllAvailable()
      val later = spark.table("journeys_live").collect().drop(afterB1)
        .map(r => (r.getLong(0), r.getString(1)))
      assert(later.toSeq == Seq((1L, "signup>view>click")))
    } finally q.stop()
  }

  test("stream-static scoring matches batch surprisal on the frozen model") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val texts = Seq(
      1L -> "spark shuffles data across executors",
      2L -> "spark broadcasts small tables",
      3L -> "data pipelines clean data")
    val corpus = texts.toDF("doc_id", "text")
    val stats = graft.operators.TextOps.unigramStats(corpus)
    val batch = graft.operators.TextOps.surprisal(corpus).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.DocPipelineJobs
      .scoreStream(in.toDF().toDF("doc_id", "text"), stats)
      .writeStream.format("memory").queryName("score_live")
      .outputMode("complete").start()
    try {
      in.addData(texts: _*)
      q.processAllAvailable()
      val live = spark.table("score_live").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      assert(live == batch)
    } finally q.stop()
  }

  test("live LR quality gate scores exactly like the batch classifier") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val texts = Seq(
      1L -> "the quick brown fox jumps over a lazy dog by the river",
      2L -> "404 500 301 99 123456 777 000 22 8080 31337",
      3L -> "a mixed doc with numbers 42 and words around the middle")
    val batch = graft.operators.TextOps.lrQuality(texts.toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.DocPipelineJobs
      .lrScoreStream(in.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("lr_live").outputMode("append").start()
    try {
      in.addData(texts: _*)
      q.processAllAvailable()
      val live = spark.table("lr_live").collect()
        .map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
      assert(live == batch)
    } finally q.stop()
  }

  test("live whitening against frozen stats equals the batch apply") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = (0 until 8).map(j =>
      (j.toLong, Seq(1f + j, 2f * j, 5f - j, 3f), 0))
      .toDF("vec_id", "embedding", "label")
    val stats = graft.operators.Similarity.whitenStats(corpus)
    val batch = graft.operators.Similarity.whiten(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val in = MemoryStream[(Long, Seq[Float], Int)]
    val q = graft.streaming.DocPipelineJobs
      .whitenStream(in.toDF().toDF("vec_id", "embedding", "label"), stats)
      .writeStream.format("memory").queryName("whiten_live")
      .outputMode("append").start()
    try {
      in.addData((0 until 8).map(j => (j.toLong, Seq(1f + j, 2f * j, 5f - j, 3f), 0)): _*)
      q.processAllAvailable()
      val live = spark.table("whiten_live").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(live == batch)
    } finally q.stop()
  }

  test("live PCA projection with the frozen model equals batch bit for bit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = (0 until 30).map(j =>
      (100L + j, Array.tabulate(16)(i => (math.sin(i * 0.4 + j) + 0.02 * j).toFloat).toSeq, 0))
    val df = rows.toDF("vec_id", "embedding", "label")
    // vec_id + the four components, bit for bit
    def pcs(r: org.apache.spark.sql.Row) = r.getLong(0) -> (1 to 4).map(r.getDouble)
    val batch = graft.operators.Similarity.pcaProject(df).collect().map(pcs).toMap
    assert(batch.size == 30 && batch.values.forall(_.length == 4))
    val m = graft.operators.Similarity.pcaTrain(
      df.selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) AS cv"))
    val in = MemoryStream[(Long, Seq[Float], Int)]
    val q = graft.streaming.DocPipelineJobs
      .pcaStream(in.toDF().toDF("vec_id", "embedding", "label"), m)
      .writeStream.format("memory").queryName("pca_live")
      .outputMode("append").start()
    try {
      in.addData(rows: _*)
      q.processAllAvailable()
      val live = spark.table("pca_live").collect().map(pcs).toMap
      assert(live == batch)
    } finally q.stop()
  }

  test("live budget gate admits arrival-order docs until the shard budget is spent") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    // one shard (doc_id % 1 = 0), budget 10 tokens total
    val q = graft.streaming.DocPipelineJobs
      .budgetGateStream(in.toDF().toDF("doc_id", "text"), budget = 10, nShards = 1)
      .writeStream.format("memory").queryName("budget_live")
      .outputMode("append").start()
    try {
      in.addData(1L -> "four words right here") // 4 tokens → admitted
      q.processAllAvailable()
      in.addData(2L -> "five more words arrive now") // 9 total → admitted
      q.processAllAvailable()
      in.addData(3L -> "two words") // would be 11 → rejected
      q.processAllAvailable()
      in.addData(4L -> "one") // 10 total → still fits
      q.processAllAvailable()
      val live = spark.table("budget_live").collect()
        .map(r => r.getLong(1) -> (r.getLong(3), r.getLong(4))).toMap
      assert(live(1L) == ((4L, 1L)))
      assert(live(2L) == ((9L, 1L)))
      assert(live(3L) == ((9L, 0L))) // rejected, counter unchanged
      assert(live(4L) == ((10L, 1L)))
    } finally q.stop()
  }

  test("streaming chunker emits the batch operator's windows byte for byte") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val texts = Seq(
      1L -> (1 to 10).map(i => s"w$i").mkString(" "),
      2L -> "tiny doc",
      3L -> (1 to 7).map(i => s"v$i").mkString(" "))
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.DocPipelineJobs
      .chunkStream(in.toDF().toDF("doc_id", "text"), chunkTokens = 4, overlap = 1)
      .writeStream.format("memory").queryName("chunk_live").outputMode("append").start()
    try {
      in.addData(texts: _*)
      q.processAllAvailable()
      val live = spark.table("chunk_live").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
        .sortBy(t => (t._1, t._2))
      val batch = graft.operators.Sampling
        .chunkSequences(texts.toDF("doc_id", "text"), chunkTokens = 4, overlap = 1)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      assert(live.toSeq == batch.toSeq)
    } finally q.stop()
  }

  test("watermarked streaming dedup bounds state and still drops in-window dups") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val text = "spark engines shuffle partitions across executors tonight"
    val in = MemoryStream[(Long, Timestamp, String)]
    val q = graft.streaming.DocPipelineJobs
      .dedupCleanStream(in.toDF().toDF("doc_id", "ingest_ts", "text"),
        dedupTtl = Some(("ingest_ts", "10 minutes")))
      .select("doc_id")
      .writeStream.format("memory").queryName("doc_dedup_wm").outputMode("append").start()
    try {
      def ts(min: Long) = new Timestamp((base + min) * 60000L)
      in.addData((1L, ts(0), text), (2L, ts(1), text)) // dup inside the window
      q.processAllAvailable()
      val ids = spark.table("doc_dedup_wm").collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L))
    } finally q.stop()
  }

  test("streaming bloom membership flags repeats per shard with fixed-size state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, String)]
    val q = graft.streaming.DocPipelineJobs
      .bloomStream(in.toDF().toDF("doc_id", "source", "text"))
      .writeStream.format("memory").queryName("bloom_live")
      .outputMode("append").start()
    try {
      in.addData((1L, "s0", "alpha text one"), (2L, "s0", "beta text two"),
        (3L, "s1", "alpha text one"))
      q.processAllAvailable()
      in.addData((4L, "s0", "alpha text one"), (5L, "s0", "gamma fresh text"))
      q.processAllAvailable()
      val seen = spark.table("bloom_live").collect()
        .map(r => r.getLong(1) -> (r.getLong(2), r.getLong(3))).toMap
      // each 3-word text is exactly one shingle; doc 4 repeats doc 1's
      // text within shard s0 → its shingle flagged across
      // micro-batches; doc 3 has the same text in ANOTHER shard and
      // is not flagged (per-shard filters); fresh texts pass
      assert(seen == Map(1L -> ((1L, 0L)), 2L -> ((1L, 0L)),
        3L -> ((1L, 0L)), 4L -> ((1L, 1L)), 5L -> ((1L, 0L))))
    } finally q.stop()
  }

  test("streaming bloom verdicts match the batch bloomShingleFilter") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // docs 0..2 build the filter; 3..5 probe it. Probe docs share
    // shingles only with SEEN docs (not each other), so the stream's
    // accumulating filter and the batch's fixed nSeen filter hold the
    // same bits when each probe's verdict is computed.
    val docs = Seq(
      0L -> "spark engines shuffle partitions across executors tonight",
      1L -> "broadcast small dimension tables for colocated joins",
      2L -> "watermarks bound the state of streaming aggregations",
      3L -> "spark engines shuffle partitions across executors tonight", // = doc 0
      4L -> "broadcast small dimension tables then repartition everything late", // prefix of 1
      5L -> "completely novel content appears in this document here")
    val batch = graft.operators.Dedup
      .bloomShingleFilter(docs.toDF("doc_id", "text"), nSeen = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val in = MemoryStream[(Long, String, String)]
    val q = graft.streaming.DocPipelineJobs
      .bloomStream(in.toDF().toDF("doc_id", "source", "text"))
      .writeStream.format("memory").queryName("bloom_parity")
      .outputMode("append").start()
    try {
      in.addData(docs.take(3).map { case (id, t) => (id, "s", t) }: _*)
      q.processAllAvailable()
      in.addData(docs.drop(3).map { case (id, t) => (id, "s", t) }: _*)
      q.processAllAvailable()
      val streamed = spark.table("bloom_parity").collect()
        .map(r => r.getLong(1) -> (r.getLong(2), r.getLong(3))).toMap
      assert(docs.drop(3).map(_._1).forall(id => streamed(id) == batch(id)))
      assert(batch(3L)._1 == batch(3L)._2) // full repeat: every shingle seen
      assert(batch(5L)._2 == 0L)           // novel doc: nothing seen
    } finally q.stop()
  }

  test("weighted-model parsing runs live on the bus") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    implicit val sqlCtx = spark.sqlContext
    val superset = StructType(Seq(
      StructField("k", LongType), StructField("event", StringType)))
    val registry = Seq(
      graft.model.MessageSchema("keyed", Seq("k")),
      graft.model.MessageSchema("generic", Seq.empty))
    val in = MemoryStream[(Long, String)]
    val q = EventStreamJobs.parsedStream(
        in.toDF().toDF("event_id", "payload"), "payload", registry, superset)
      .select("event_id", "schema_name")
      .writeStream.format("memory").queryName("parsed_live").outputMode("append").start()
    try {
      in.addData((1L, """{"k": 7}"""), (2L, """{"event": "x"}"""), (3L, "not json"))
      q.processAllAvailable()
      val rows = spark.table("parsed_live").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(rows == Set((1L, "keyed"), (2L, "generic"), (3L, "unparseable")))
    } finally q.stop()
  }

  test("live minhash gate flags an arriving near-duplicate against the static signature index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val textA = "the quick brown fox jumps over the lazy dog again and again today"
    val textB = "completely different content about databases indexes and storage engines here"
    val corpus = Seq((1L, textA), (2L, textB)).toDF("doc_id", "text")
    val known = graft.operators.Dedup.minhashSignatures(corpus)
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.DocPipelineJobs
      .minhashGateStream(in.toDF().toDF("doc_id", "text"), known)
      .writeStream.format("memory").queryName("mh_gate").outputMode("append").start()
    try {
      in.addData(
        (100L, textA), // verbatim copy → signature identical to doc 1
        (101L, "unrelated words about sailing boats across the open sea at dawn"),
        (102L, "too short")) // < 3 words: no shingles, must emit nothing
      q.processAllAvailable()
      val rows = spark.table("mh_gate").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      // the copy is flagged against doc 1 with estimated Jaccard 1.0 —
      // which also proves the live signature is bit-identical to the
      // batch signature table's
      assert(rows.exists(t => t._1 == 100L && t._2 == 1L && t._3 == 1.0))
      // nothing else flagged, and exactly one row per flagged pair
      assert(rows.forall(_._1 == 100L))
      assert(rows.length == rows.map(t => (t._1, t._2)).distinct.length)
    } finally q.stop()
  }

  test("live embedding gate flags an arriving near-dup vector, agreeing with batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(11)
    def vec() = Array.fill(64)(rnd.nextGaussian().toFloat).toSeq
    val known1 = vec(); val known2 = vec()
    val arrivalDup = known1.map(v => v + 0.01f * rnd.nextGaussian().toFloat)
    val arrivalNew = vec()
    val known = Seq((1L, known1), (2L, known2)).toDF("vec_id", "embedding")
    val in = MemoryStream[(Long, Seq[Float])]
    val q = graft.streaming.DocPipelineJobs
      .embedGateStream(in.toDF().toDF("vec_id", "embedding"), known)
      .writeStream.format("memory").queryName("emb_gate").outputMode("append").start()
    try {
      in.addData((100L, arrivalDup), (101L, arrivalNew))
      q.processAllAvailable()
      val rows = spark.table("emb_gate").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      // the perturbed copy flags against its original, nothing else
      assert(rows.exists(t => t._1 == 100L && t._2 == 1L && t._3 >= 0.95))
      assert(rows.forall(_._1 == 100L))
      // stateless first-table dedup: exactly one row per flagged pair
      assert(rows.length == rows.map(t => (t._1, t._2)).distinct.length)
      // parity: same planes + same cosine ⇒ the batch operator over
      // the union reports exactly the gate's arrival↔known pairs
      val union = known.union(
        Seq((100L, arrivalDup), (101L, arrivalNew)).toDF("vec_id", "embedding"))
      val batch = graft.operators.Dedup.embedNearDup(union).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .filter { case (a, b, _) => a < 100L && b >= 100L } // arrival↔known only
        .map { case (a, b, c) => (b, a, c) }.toSet
      assert(batch == rows.toSet)
    } finally q.stop()
  }

  test("live phash gate flags a near-copy upload against the static index, statelessly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def render(edit: Boolean, noise: Boolean): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(64, 64,
        java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
      for (y <- 0 until 64; x <- 0 until 64) {
        val v = if (noise) (x * 37 + y * 91 + x * y) % 256 else (x * 4) % 256
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      if (edit) for (y <- 0 until 4; x <- 0 until 4) img.setRGB(x, y, 0xFFFFFF)
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "png", bos)); bos.toByteArray
    }
    // the static index: hashes of the corpus we already hold (doc 1)
    implicit val s = spark
    val known = graft.operators.Multimodal.imagePhash(
      Seq(graft.operators.MMRecord(1L, render(edit = false, noise = false),
        "png", 64, 64, 1)).toDS())
    val in = MemoryStream[graft.operators.MMRecord]
    val q = graft.streaming.DocPipelineJobs.phashGateStream(in.toDS(), known)
      .writeStream.format("memory").queryName("phash_gate").outputMode("append").start()
    try {
      // arrivals: a lightly-edited near-copy, an unrelated image, and
      // a payload that doesn't decode (falls out, not flagged)
      in.addData(
        graft.operators.MMRecord(100L, render(edit = true, noise = false), "png", 64, 64, 1),
        graft.operators.MMRecord(101L, render(edit = false, noise = true), "png", 64, 64, 1),
        graft.operators.MMRecord(102L, "not an image".getBytes, "jpeg", 0, 0, 1))
      q.processAllAvailable()
      val rows = spark.table("phash_gate").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
      assert(rows.map(t => (t._1, t._2)).toSeq == Seq((100L, 1L)))
      assert(rows.head._3 <= 3L)
      // exactly one row per flagged pair even when several bands collide
      assert(rows.length == rows.map(t => (t._1, t._2)).distinct.length)
    } finally q.stop()
  }

  test("archived jsonl directory replays as a live stream through the bus") {
    import org.apache.spark.sql.functions._
    val events = Tables(spark, TestSpark.sfDir).events
    val sample = EventOps.withTsUs(events)
      .select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type"), col("value"), col("props"))
      .limit(200)
    val dir = Files.createTempDirectory("graft-replay").toString
    sample.coalesce(2).write.mode("overwrite").json(dir)

    val stream = graft.streaming.EventStreamJobs.archiveStream(spark, dir)
    val routed = graft.streaming.EventStreamJobs.route(
      stream, EventOps.handlerRegistry(spark))
    val q = routed.writeStream.format("memory").queryName("replayed")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val n = spark.table("replayed").count()
      // purchases fan out to two handlers, so replay ≥ source rows
      assert(n >= 200)
      assert(spark.table("replayed").filter(col("handler") === "unhandled").count() > 0)
    } finally q.stop()
  }
}
