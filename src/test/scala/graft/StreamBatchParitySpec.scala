package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.EventOps
import graft.streaming.{EventStreamJobs, LiveEvent}

/** Streaming-vs-batch parity over the DRIVER'S OWN parquet: the
  * events table every batch operator is CORRECTNESS-checked against
  * is replayed through MemoryStream micro-batches in bus-delivery
  * order, and each stateful streaming twin's drained output is
  * content-compared against its oracle-checked batch operator. The
  * synthetic-input convergence specs in StreamingSpec pin the
  * semantics; this harness pins them on real data shapes — ties,
  * repeated identities, every user — so a twin can't pass on toy
  * feeds while diverging on the corpus the batch gate actually
  * checks.
  */
class StreamBatchParitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** The driver's events table, exactly as the batch queries read it. */
  private lazy val events: DataFrame =
    graft.sources.Tables(spark, TestSpark.sfDir).events

  /** The same rows as a bus feed: (ts, event_id)-ordered LiveEvents —
    * the delivery order of a single upstream log.
    */
  private lazy val feed: Seq[LiveEvent] = {
    import spark.implicits._
    events.select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[LiveEvent].collect()
      .sortBy(e => (graft.streaming.TsUs(e.ts), e.event_id)).toSeq
  }

  /** Replay the feed through `twin` in `nChunks` micro-batches and
    * return every row the memory sink saw (with its emission index,
    * so update-mode tests can keep the LAST emission per key).
    */
  private def replay(twin: org.apache.spark.sql.Dataset[_], mode: String, name: String,
      nChunks: Int = 4): Seq[org.apache.spark.sql.Row] = {
    val q = twin.writeStream.format("memory").queryName(name)
      .outputMode(mode).start()
    try {
      val chunk = math.max(1, feed.size / nChunks)
      feed.grouped(chunk).foreach { c => parityIn.addData(c); q.processAllAvailable() }
      spark.table(name).collect().toSeq
    } finally q.stop()
  }

  // a fresh MemoryStream per test — created lazily inside each test
  // body via this var so `replay` can feed it
  private var parityIn: MemoryStream[LiveEvent] = _
  private def newFeed(): MemoryStream[LiveEvent] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    parityIn = MemoryStream[LiveEvent]
    parityIn
  }

  test("organize twin: complete-mode table equals the batch per-(stream, type) pivot") {
    val in = newFeed()
    val live = replay(EventStreamJobs.organizeStream(in.toDS()), "complete", "par_org")
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    val batch = EventOps.organizeStreams(events).drop("total_value").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(live == batch)
  }

  test("close twin: last update per target equals the batch close report") {
    val in = newFeed()
    val rows = replay(EventStreamJobs.closeStream(in.toDF(),
      EventOps.targetInstances(spark)), "update", "par_close")
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val lastByUser = rows.zipWithIndex.groupBy(_._1._1)
      .map { case (u, rs) => u -> rs.maxBy(_._2)._1 }.values.toSet
    val batch = EventOps.closeStreams(events, EventOps.targetInstances(spark))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(lastByUser == batch)
  }

  test("trim twin: evicted + kept partition the feed exactly like the batch windows") {
    implicit val s = spark
    val in = newFeed()
    val evicted = replay(EventStreamJobs.trimStream(in.toDS(), n = 50),
      "append", "par_trim")
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))) // user, event, ts_us
    // the archived overflow, aggregated like ev_trim_overflow
    val liveOverflow = evicted.groupBy(_._1).map { case (u, rs) =>
      (u, rs.size.toLong, rs.map(_._3).min, rs.map(_._3).max)
    }.toSet
    val batchOverflow = EventOps.trimOverflow(events, 50).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(liveOverflow == batchOverflow)
    // and the kept complement is exactly ev_trim_last_n's row set
    val keptLive = feed.map(_.event_id).toSet -- evicted.map(_._2).toSet
    val keptBatch = EventOps.trimLastN(events, 50).collect()
      .map(_.getLong(0)).toSet
    assert(keptLive == keptBatch)
  }

  test("requeue twin: final per-identity count and destination equal the batch operator") {
    implicit val s = spark
    val in = newFeed()
    val live = replay(EventStreamJobs.requeueStream(in.toDS(), maxDeliveries = 3),
      "append", "par_rq")
      .map(r => ((r.getAs[Long]("user_id"), r.getAs[String]("event_type"),
        r.getAs[Long]("value_key")),
        (r.getAs[Long]("delivery_count"), r.getAs[String]("destination"))))
      .groupBy(_._1).map { case (k, rs) => k -> rs.map(_._2).maxBy(_._1) }.toMap
    // unbounded pending window: the batch count is per-identity total
    val batch = EventOps.requeue(events, maxDeliveries = 3, pendingN = Int.MaxValue)
      .collect().map { r =>
        val vk = feed.find(_.event_id == r.getLong(0)).map(e =>
          math.floor(e.value).toLong).get
        ((r.getLong(1), r.getString(2), vk), (r.getLong(3), r.getString(4)))
      }.groupBy(_._1).map { case (k, rs) => k -> rs.map(_._2).maxBy(_._1) }.toMap
    assert(live == batch)
  }

  test("journeys twin: final per-user paths aggregate to the batch journey counts") {
    implicit val s = spark
    val in = newFeed()
    val rows = replay(EventStreamJobs.journeyStream(in.toDS()), "update", "par_jrn")
      .map(r => (r.getLong(0), r.getString(1)))
    val lastByUser = rows.zipWithIndex.groupBy(_._1._1)
      .map { case (u, rs) => u -> rs.maxBy(_._2)._1._2 }
    // fold the drained per-user paths exactly like the batch operator
    // (path -> n_users, count-desc/path ranking, top 20)
    val liveAgg = lastByUser.values.groupBy(identity).view.mapValues(_.size.toLong)
      .toSeq.sortBy { case (p, n) => (-n, p) }.take(20)
    val batch = EventOps.journeys(events).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(liveAgg == batch)
  }

  test("sessionize twin: closed sessions equal the batch sessions minus each user's open tail") {
    implicit val s = spark
    val in = newFeed()
    // append mode + NoTimeout: a user's final session never closes on
    // the stream, so parity is over CLOSED sessions = batch sessions
    // minus each user's last
    val live = replay(EventStreamJobs.sessionize(in.toDS()), "append", "par_sess")
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val batchAll = EventOps.sessionGap(events).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // (user, session_idx, n_events, start_us, end_us) → drop max idx per user
    val lastIdx = batchAll.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    val batchClosed = batchAll.filter(t => t._2 != lastIdx(t._1))
      .map(t => (t._1, t._4, t._5, t._3)).toSet
    assert(live == batchClosed)
    assert(batchClosed.nonEmpty, "fixture degenerate: no closed sessions at this SF")
  }

  test("windowed-agg twin: complete-mode table equals the batch tumbling windows") {
    val in = newFeed()
    val live = replay(EventStreamJobs.windowedCounts(in.toDF()), "complete", "par_win")
      .map { r =>
        val win = r.getStruct(0)
        (win.getTimestamp(0).toInstant.getEpochSecond, r.getString(1),
          r.getLong(2), r.getDouble(3))
      }.toSet
    val batch = EventOps.windowTumbling(events).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    // decimal(18,2) sums on both sides → doubles compare bit-exactly
    assert(live == batch)
  }

  test("dead-letter twin: flags exactly the batch operator's poison identities, once") {
    implicit val s = spark
    val in = newFeed()
    val live = replay(EventStreamJobs.deadLetterStream(in.toDS(), maxDeliveries = 3),
      "append", "par_dl")
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(4)))
    // exactly once per identity, exactly at the threshold delivery
    assert(live.map(t => (t._1, t._2, t._3)).distinct.size == live.size)
    assert(live.forall(_._4 == 3L))
    val batch = EventOps.deadLetter(events, maxDeliveries = 3).collect()
      .map(r => (r.getLong(1), r.getString(2),
        math.floor(feed.find(_.event_id == r.getLong(0)).get.value).toLong)).toSet
    assert(live.map(t => (t._1, t._2, t._3)).toSet == batch)
    assert(batch.nonEmpty, "fixture degenerate: no poison identities at this SF")
  }

  test("rate-limit twin: per-event trailing counts equal the batch RANGE frame") {
    // the feed replays in (ts, event_id) order, so every event's
    // trailing window is fully arrived when it is scored — the live
    // counts must equal the batch RANGE frame exactly, flood flags
    // included (the driver data has no same-(user, ts) ties, so
    // chunk boundaries cannot split a frame's same-instant peers)
    implicit val s = spark
    val in = newFeed()
    val live = replay(EventStreamJobs.rateLimitStream(in.toDS()), "append", "par_rate")
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    val batch = EventOps.rateLimit(events).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(live == batch)
    assert(batch.exists(_._5 == 1L), "fixture degenerate: nobody floods at this SF")
  }

  test("embedding gate twin: live flags over the driver's vectors equal the batch pairs") {
    // the driver's embeddings are mutually far apart at this SF (no
    // pair reaches tau — verified), so arrivals are PERTURBED copies
    // of real corpus vectors (the perturbed-replica trick): near-dups
    // that must flag, on real vector shapes, against the real index.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val known = graft.sources.Tables(spark, TestSpark.sfDir).embeddings
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])]
      .collect().sortBy(_._1).toSeq
    val rnd = new scala.util.Random(7)
    val arrivals = known.take(20).map { case (id, v) =>
      (10000L + id, v.map(x => x + 0.005f * rnd.nextGaussian().toFloat))
    } ++ known.slice(20, 30).map { case (id, _) =>
      (20000L + id, Seq.fill(64)(rnd.nextGaussian().toFloat)) // novel: must NOT flag
    }
    val knownDf = known.toDF("vec_id", "embedding")
    val in = MemoryStream[(Long, Seq[Float])]
    val q = graft.streaming.DocPipelineJobs
      .embedGateStream(in.toDF().toDF("vec_id", "embedding"), knownDf)
      .writeStream.format("memory").queryName("par_emb_gate")
      .outputMode("append").start()
    val live = try {
      arrivals.grouped(10).foreach { c => in.addData(c); q.processAllAvailable() }
      spark.table("par_emb_gate").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    } finally q.stop()
    val knownIds = known.map(_._1).toSet
    val batch = graft.operators.Dedup
      .embedNearDup((known ++ arrivals).toDF("vec_id", "embedding")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => knownIds.contains(a) ^ knownIds.contains(b) }
      .map { case (a, b, c) => if (knownIds.contains(a)) (b, a, c) else (a, b, c) }
      .toSet
    assert(live == batch, "live gate and batch operator disagree on the same corpus")
    assert(batch.size >= 15, s"fixture degenerate: only ${batch.size} planted flags")
    assert(live.forall(_._1 < 20000L), "a novel random vector flagged")
  }

  test("contamination gate twin: live flags over the driver's documents equal the batch pairs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val nEval = graft.operators.Dedup.ContaminationEvalIds
    val documents = graft.sources.Tables(spark, TestSpark.sfDir).documents
    val docRows = documents.select($"doc_id", $"text").as[(Long, String)]
      .collect().sortBy(_._1).toSeq
    val evalRows = docRows.filter(_._1 < nEval)
    // arrivals: the real train side of the corpus PLUS planted
    // contaminated docs that embed a whole eval doc inside unrelated
    // text (C = 1.0 at any train length — the pair class the
    // asymmetric measure exists for, guaranteed non-degenerate even
    // if the corpus itself has no cross-split near-dups)
    val planted = evalRows.take(8).map { case (id, text) =>
      (90000L + id, s"unrelated preamble words here $text and an unrelated tail")
    }
    val arrivals = docRows.filter(_._1 >= nEval) ++ planted
    val evalDf = evalRows.toDF("doc_id", "text")
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.DocPipelineJobs
      .contaminationGateStream(in.toDF().toDF("doc_id", "text"), evalDf)
      .writeStream.format("memory").queryName("par_contam_gate")
      .outputMode("append").start()
    val live = try {
      arrivals.grouped(math.max(1, arrivals.size / 4)).foreach { c =>
        in.addData(c); q.processAllAvailable()
      }
      spark.table("par_contam_gate").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    } finally q.stop()
    val batch = graft.operators.Dedup
      .contamination((evalRows ++ arrivals).toDF("doc_id", "text"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(live == batch, "live gate and batch operator disagree on the same corpus")
    assert(batch.size >= 8, s"fixture degenerate: only ${batch.size} flags")
    assert(planted.map(_._1).toSet.subsetOf(batch.map(_._2)),
      "a planted embedded-eval doc failed to flag")
  }

  test("incremental gate twin: survivors equal the batch crawl-over-crawl dedup") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val splitId = graft.operators.Dedup.SeenSplitId
    val documents = graft.sources.Tables(spark, TestSpark.sfDir).documents
    val docRows = documents.select($"doc_id", $"text").as[(Long, String)]
      .collect().sortBy(_._1).toSeq
    // planted arrivals: one verbatim re-crawl of an indexed doc (must
    // be killed by the stored index) and one in-batch duplicate pair
    // (exactly one survivor) — the semantics stay non-degenerate even
    // if the corpus has no natural cross-split exact dups
    val recrawl = (90001L, docRows.head._2)
    val dupA = (90002L, "a freshly crawled page with enough normal words to pass the quality gate")
    val dupB = (90003L, dupA._2)
    val arrivals = docRows.filter(_._1 >= splitId) ++ Seq(recrawl, dupA, dupB)
    // the stored index, derived exactly as the batch operator derives
    // it (shared cleanScored prefix over the previous crawl)
    val indexDf = graft.operators.TextOps
      .cleanScored(docRows.filter(_._1 < splitId).toDF("doc_id", "text"))
      .select("h").distinct()
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.DocPipelineJobs
      .incrementalGateStream(in.toDF().toDF("doc_id", "text"), indexDf)
      .writeStream.format("memory").queryName("par_incr_gate")
      .outputMode("append").start()
    val live = try {
      arrivals.grouped(math.max(1, arrivals.size / 4)).foreach { c =>
        in.addData(c); q.processAllAvailable()
      }
      spark.table("par_incr_gate").collect()
        .map(r => (r.getString(1), r.getLong(2))).toSet // (h, n_words)
    } finally q.stop()
    val batch = graft.operators.Dedup
      .incrementalDedup((docRows.filter(_._1 < splitId) ++ arrivals)
        .toDF("doc_id", "text"))
      .collect().map(r => (r.getString(1), r.getLong(3))).toSet
    // survivors are compared by CONTENT (h, n_words): the batch keeps
    // the min-doc_id canonical, the stream the first seen — the
    // surviving content set is the contract both share
    assert(live == batch, "live gate and batch dedup disagree on surviving content")
    assert(live.size >= 2, s"fixture degenerate: only ${live.size} survivors")
    val liveIds = spark.table("par_incr_gate").collect().map(_.getLong(0)).toSet
    assert(!liveIds.contains(recrawl._1), "re-crawled indexed doc survived the gate")
    assert(liveIds.intersect(Set(dupA._1, dupB._1)).size == 1,
      "in-batch duplicate pair must leave exactly one survivor")
  }

  test("dsir twin: frozen-model live scores equal the batch operator row for row") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val documents = graft.sources.Tables(spark, TestSpark.sfDir).documents
    val docRows = documents.select($"doc_id", $"text", $"source")
      .as[(Long, String, String)].collect().sortBy(_._1).toSeq
    // the frozen model: trained once by the batch fit, collected to a
    // literal table so the stream scores against genuinely static data
    val stats = graft.operators.Sampling.dsirStats(documents).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
      .toSeq.toDF("w", "tf_t", "tf_g", "n_t", "n_g", "v")
    val in = MemoryStream[(Long, String, String)]
    val q = graft.streaming.DocPipelineJobs
      .dsirScoreStream(in.toDF().toDF("doc_id", "text", "source"), stats)
      .writeStream.format("memory").queryName("par_dsir")
      .outputMode("complete").start()
    val live = try {
      docRows.grouped(math.max(1, docRows.size / 4)).foreach { c =>
        in.addData(c); q.processAllAvailable()
      }
      spark.table("par_dsir").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getDouble(3), r.getBoolean(4))).toSet
    } finally q.stop()
    val batch = graft.operators.Sampling.dsirScore(documents).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getBoolean(4))).toSet
    assert(live == batch, "live DSIR scores diverge from the batch operator")
    assert(batch.exists(_._5) && batch.exists(!_._5),
      "fixture degenerate: all docs scored on one side of the LLR")
  }
}
