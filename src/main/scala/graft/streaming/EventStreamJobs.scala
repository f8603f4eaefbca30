package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

/** A live event on the bus (the reference's message envelope,
  * `messages/base.py:490`, mapped per SURVEY.md §3).
  */
final case class LiveEvent(
    event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double)

/** One closed session emitted by the stateful sessionizer. */
final case class SessionOut(
    user_id: Long, start_us: Long, end_us: Long, n_events: Long)

/** Mutable-per-group sessionizer state (kept tiny: three longs). */
final case class SessionState(start_us: Long, last_us: Long, n: Long)

/** Bounded keep-last-N state for the live trim handler: the kept
  * (ts_us, event_id) pairs, ascending — at most N entries per user.
  */
final case class TrimState(kept: Seq[(Long, Long)])

/** An overflow record evicted by the live trim (archived downstream —
  * the reference writes these to the archive file, `handlers/master.py:58`).
  */
final case class Evicted(user_id: Long, event_id: Long, ts_us: Long)

/** Per-delivery-identity counter state shared by the live dead-letter
  * and requeue views.
  */
final case class DeliveryState(n: Long)

/** One delivery of a message: its identity (user, event type,
  * integral payload), the event and the identity's running delivery
  * count including this one.
  */
private[streaming] final case class Delivery(
    user_id: Long, event_type: String, value_key: Long,
    event_id: Long, n: Long)

/** A message routed to the dead-letter destination on its Kth delivery. */
final case class DeadLettered(
    user_id: Long, event_type: String, value_key: Long,
    event_id: Long, delivery_count: Long)

/** A message returned to the inbox for redelivery — or dead-lettered
  * at the cap — on a failed delivery (reference
  * `utilities/communication.py:550` return_message_to_inbox).
  */
final case class Requeued(
    user_id: Long, event_type: String, value_key: Long,
    event_id: Long, delivery_count: Long, destination: String)

/** Trailing-window event timestamps for the live rate limiter,
  * ascending µs — pruned to the window on every arrival.
  */
final case class RateState(ts: Seq[Long])

/** One rate-limit decision: the event's trailing-window count for its
  * producer and the flood flag — the same row contract as the batch
  * `EventOps.rateLimit`.
  */
final case class RateLimited(
    user_id: Long, event_id: Long, ts_us: Long,
    n_in_window: Long, flood: Long)

/** Exact microseconds from a java.sql.Timestamp: getTime() alone
  * truncates to milliseconds (the nanos field holds the full
  * fractional second), which would diverge from the batch twins'
  * `unix_micros` ordering for same-millisecond events.
  */
private[graft] object TsUs {
  def apply(ts: Timestamp): Long =
    // floorDiv, not /: integer division truncates toward zero, which
    // breaks pre-epoch timestamps (nanos always count forward)
    Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L
}

/** Structured-Streaming equivalents of the reference's live loop
  * (reference `streams/reader.py:151` poll-dispatch,
  * `streams/bus.py:41` routing, stateful handlers).
  *
  * Scale notes: routing is a stateless map (broadcast registry);
  * windowed counts shuffle on (window, event_type) with watermark-
  * bounded state; sessionization keys state by user_id — state size is
  * O(active users) and nothing evicts it yet (ROADMAP D3 adds
  * eviction). All three run identically on a 1000-executor cluster — state is partitioned
  * by the grouping key and checkpointed incrementally.
  */
object EventStreamJobs {

  /** The routing bus: each event joined (broadcast) to its registered
    * handlers; unhandled events flagged rather than dropped, like the
    * reference's warning path (`streams/bus.py:77`).
    */
  def route(stream: DataFrame, registry: DataFrame): DataFrame =
    stream.join(broadcast(registry), col("event_type") === col("r_event"), "left")
      .withColumn("handler", coalesce(col("handler"), lit("unhandled")))
      .drop("r_event")

  /** Live targeted shutdown (the streaming twin of
    * `EventOps.closeStreams`): close requests are a STATIC target
    * dimension broadcast into a stream-static left-semi join — only
    * targeted instances' events survive — then an Update-mode rollup
    * maintains each targeted stream's final state (event count,
    * first/last seen micros) as its traffic drains. Run with
    * `outputMode("update")`; the last emission per user is the close
    * report the reference's master handler would log.
    */
  def closeStream(stream: DataFrame, targets: DataFrame): DataFrame =
    stream
      .join(broadcast(targets), col("user_id") === col("target_user"), "left_semi")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        min(unix_micros(col("ts"))).as("first_us"),
        max(unix_micros(col("ts"))).as("last_us"))

  /** Watermarked tumbling-window counts per event type. Value sums go
    * through DECIMAL(18,2) like the batch twin (`windowTumbling`) —
    * exact and associative, so micro-batch merge order can't change
    * the result.
    */
  def windowedCounts(stream: DataFrame): DataFrame =
    stream
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))

  /** The events JSON-lines schema (the wire format of the bus). */
  private val eventJsonSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts_us", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Tail a JSONL event archive directory as a live stream (the
    * file-drop ingestion path: producers append files, the bus picks
    * them up). Explicit schema — no inference pass; at most 16 files
    * a trigger, so backfills don't produce one giant batch.
    */
  def archiveStream(spark: SparkSession, path: String): DataFrame =
    spark.readStream
      .schema(eventJsonSchema)
      .option("maxFilesPerTrigger", 16)
      .json(path)
      .withColumn("ts", timestamp_micros(col("ts_us")))

  /** Live weighted-model parsing (reference `messages/base.py:122`
    * applied in the poll loop, `streams/reader.py`): every message on
    * the bus deserializes as the most specific registered shape —
    * stateless narrow map, composes with any downstream routing or
    * windowing. `jsonCol` is the raw payload column.
    */
  def parsedStream(stream: DataFrame, jsonCol: String,
      schemas: Seq[graft.model.MessageSchema],
      superset: StructType): DataFrame =
    graft.model.MessageParser.parse(stream, col(jsonCol), schemas, superset)

  /** At-least-once delivery dedup on the live bus: duplicates are
    * identical *payloads* (redeliveries carry fresh event_ids — the
    * same identity `EventOps.dedupExact` collapses in batch), dropped
    * within the watermark horizon so state stays bounded.
    */
  def dedupStream(stream: DataFrame): DataFrame =
    stream
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "event_type", "value")

  /** Live request/response correlation (reference `streams/reader.py`
    * waits for the response to a message_id): stream-stream interval
    * join — each view matched to purchases by the same user within an
    * hour. Both sides watermarked so join state is bounded.
    */
  def responseJoin(stream: DataFrame): DataFrame = {
    val views = stream.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
        col("ts").as("v_ts"))
      .withWatermark("v_ts", "1 hour")
    val purchases = stream.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    views.join(purchases,
      expr("v_user = p_user AND p_ts > v_ts AND p_ts <= v_ts + interval 1 hour"))
  }

  /** Stateful gap sessionization (30 min), the streaming twin of
    * `EventOps.sessionGap`: per-user state advanced event-by-event,
    * sessions emitted when the gap is exceeded. Each user's open
    * session stays in state until that user's next event; nothing
    * evicts it yet (ROADMAP D3 adds eviction).
    */
  def sessionize(events: Dataset[LiveEvent], gapUs: Long = 1800000000L)
      (implicit spark: SparkSession): Dataset[SessionOut] = {
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[LiveEvent], state: GroupState[SessionState]) =>
          val sorted = rows.toSeq.sortBy(e => (TsUs(e.ts), e.event_id))
          var cur = state.getOption
          val closed = Seq.newBuilder[SessionOut]
          sorted.foreach { e =>
            val us = TsUs(e.ts)
            cur match {
              case Some(s) if us - s.last_us <= gapUs =>
                // late events may arrive out of order across batches:
                // widen the session bounds, never regress them
                cur = Some(SessionState(math.min(s.start_us, us),
                  math.max(s.last_us, us), s.n + 1))
              case Some(s) =>
                closed += SessionOut(userId, s.start_us, s.last_us, s.n)
                cur = Some(SessionState(us, us, 1))
              case None =>
                cur = Some(SessionState(us, us, 1))
            }
          }
          cur.foreach(state.update)
          closed.result().iterator
      }
  }

  /** The delivery counter both bookkeeping views read: per delivery
    * identity (user, event type, integral payload) a one-long state
    * counts deliveries in (ts, event_id) order, and every delivery is
    * emitted with its running count. The count only ever rises, so
    * each count value occurs on exactly one delivery of an identity.
    * Identity count is unbounded on a live bus and nothing evicts
    * this state yet (ROADMAP D3 adds eviction).
    */
  private def deliveries(events: Dataset[LiveEvent])
      (implicit spark: SparkSession): Dataset[Delivery] = {
    import spark.implicits._
    events
      .groupByKey(e => (e.user_id, e.event_type, math.floor(e.value).toLong))
      .flatMapGroupsWithState[DeliveryState, Delivery](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: (Long, String, Long), rows: Iterator[LiveEvent],
            state: GroupState[DeliveryState]) =>
          var n = state.getOption.fold(0L)(_.n)
          val out = rows.toSeq.sortBy(e => (TsUs(e.ts), e.event_id)).map { e =>
            n += 1
            Delivery(key._1, key._2, key._3, e.event_id, n)
          }
          state.update(DeliveryState(n))
          out.iterator
      }
  }

  /** Live dead-letter routing (reference
    * `utilities/communication.py:810` get_dead_messages as a standing
    * query): the message dead-letters exactly once, on the delivery
    * whose running count reaches the threshold (the first delivery
    * when `maxDeliveries <= 1`) — the streaming twin of
    * `EventOps.deadLetter`, over the same [[deliveries]] counter as
    * [[requeueStream]].
    */
  def deadLetterStream(events: Dataset[LiveEvent], maxDeliveries: Int = 3)
      (implicit spark: SparkSession): Dataset[DeadLettered] = {
    import spark.implicits._
    val threshold = math.max(maxDeliveries, 1).toLong
    deliveries(events).filter(_.n == threshold).map(d =>
      DeadLettered(d.user_id, d.event_type, d.value_key, d.event_id, d.n))
  }

  /** Live sliding-window rate limiting — the streaming twin of
    * `EventOps.rateLimit` (the abuse gate the reference's bus puts in
    * front of dead-lettering): each arriving event is scored with its
    * producer's trailing-window event count and a flood flag. The
    * batch RANGE frame maps to per-user state holding the in-window
    * arrival timestamps, pruned on every event — same-instant
    * arrivals IN A BATCH are scored as one frame (all peers count
    * each other, exactly like the RANGE frame); a same-instant peer
    * in a LATER micro-batch scores what has arrived, the only honest
    * live semantics.
    *
    * State is O(events-per-user-per-window) — exact, which is what
    * the parity harness pins; a production limiter with huge windows
    * would coarsen to per-bucket counts (O(window/bucket), ±bucket
    * accuracy) — same state machinery, smaller rows. A producer's
    * state goes once its frame empties on its own next arrival; an
    * idle producer's state is not evicted yet (ROADMAP D3 adds
    * eviction).
    */
  def rateLimitStream(events: Dataset[LiveEvent], windowSec: Long = 604800L,
      maxPerWindow: Int = 15)
      (implicit spark: SparkSession): Dataset[RateLimited] = {
    import spark.implicits._
    val winUs = windowSec * 1000000L
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[RateState, RateLimited](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[LiveEvent], state: GroupState[RateState]) =>
          val sorted = rows.toSeq.sortBy(e => (TsUs(e.ts), e.event_id))
          var kept = state.getOption.map(_.ts).getOrElse(Seq.empty)
          val out = Seq.newBuilder[RateLimited]
          // consecutive same-instant runs share one frame
          var i = 0
          while (i < sorted.length) {
            val ts = TsUs(sorted(i).ts)
            var j = i
            while (j < sorted.length && TsUs(sorted(j).ts) == ts) j += 1
            kept = kept.dropWhile(_ < ts - winUs) ++ Seq.fill(j - i)(ts)
            val n = kept.size.toLong
            val flood = if (n > maxPerWindow) 1L else 0L
            (i until j).foreach { k =>
              out += RateLimited(userId, sorted(k).event_id, ts, n, flood)
            }
            i = j
          }
          if (kept.nonEmpty) state.update(RateState(kept)) else state.remove()
          out.result().iterator
      }
  }

  /** Live multi-stream organize (reference
    * `utilities/communication.py:586` organize_stream_messages as a
    * standing view): the per-(stream, event) pivot of
    * `EventOps.organizeStreams` maintained incrementally — a plain
    * streaming aggregation keyed on (stream, type), so state is one
    * row per group (bounded by stream count × event-type vocabulary),
    * checkpointed and partitioned like any keyed agg. Run in Complete
    * mode for the full registry view or Update mode for deltas.
    */
  def organizeStream(events: Dataset[LiveEvent], nStreams: Int = 4): DataFrame =
    events.toDF()
      .withColumn("stream",
        concat(lit("stream_"), pmod(col("user_id"), lit(nStreams)).cast("string")))
      .groupBy(col("stream"), col("event_type"))
      .agg(count(lit(1)).as("n_messages"),
        min(col("event_id")).as("first_id"),
        max(col("event_id")).as("last_id"))

  /** Live requeue / retry (reference `utilities/communication.py:550`
    * return_message_to_inbox as a standing query): each delivery of an
    * identity returns to the inbox with the incremented running count,
    * flipping to the dead-letter destination once the count reaches
    * the cap — the streaming twin of `EventOps.requeue`, reading the
    * same [[deliveries]] counter as [[deadLetterStream]] so the two
    * bookkeeping views can never disagree on what a "delivery" is.
    * The LAST emission per identity carries the full count — the
    * batch operator's value once the feed drains.
    */
  def requeueStream(events: Dataset[LiveEvent], maxDeliveries: Int = 3)
      (implicit spark: SparkSession): Dataset[Requeued] = {
    import spark.implicits._
    deliveries(events).map { d =>
      val requeued = d.n + 1 // the redelivery increment, as in batch
      Requeued(d.user_id, d.event_type, d.value_key, d.event_id, requeued,
        if (requeued >= maxDeliveries) "dead_letter" else "inbox")
    }
  }

  /** Live keep-last-N trim (reference `handlers/master.py:27`
    * trim_streams): per-user bounded state of the N newest records;
    * everything pushed out is emitted as an [[Evicted]] overflow
    * record for the archive sink — the streaming twin of
    * `EventOps.trimLastN`/`trimOverflow`. State is O(N) per active
    * user regardless of stream length.
    */
  def trimStream(events: Dataset[LiveEvent], n: Int = 50)
      (implicit spark: SparkSession): Dataset[Evicted] = {
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TrimState, Evicted](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[LiveEvent], state: GroupState[TrimState]) =>
          val incoming = rows.map(e => (TsUs(e.ts), e.event_id)).toSeq
          val all = (state.getOption.map(_.kept).getOrElse(Seq.empty) ++ incoming)
            .sortBy(identity)
          val (evicted, kept) = all.splitAt(math.max(0, all.size - n))
          state.update(TrimState(kept))
          evicted.iterator.map { case (us, id) => Evicted(userId, id, us) }
      }
  }

  /** Live journey tracking: the streaming twin of
    * `EventOps.journeys`'s per-user path build. State per user is the
    * BOUNDED first-`maxSteps` (ts_us, event_id, type) triples (late
    * events that belong earlier in the prefix displace later ones,
    * exactly like the batch first-N window); each update emits the
    * user's current path string, which converges to the batch
    * `EventOps.journeys` prefix once the feed drains. Spark forbids a
    * further streaming aggregation after flatMapGroupsWithState in
    * Update mode, so journey COUNTS are maintained by the consumer of
    * this update stream (upsert into a keyed store), not by a
    * downstream groupBy.
    */
  def journeyStream(events: Dataset[LiveEvent], maxSteps: Int = 8)
      (implicit spark: SparkSession): Dataset[(Long, String)] = {
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Seq[(Long, Long, String)], (Long, String)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[LiveEvent],
            state: GroupState[Seq[(Long, Long, String)]]) =>
          val incoming = rows.map(e => (TsUs(e.ts), e.event_id, e.event_type)).toSeq
          val prefix = (state.getOption.getOrElse(Seq.empty) ++ incoming)
            .sortBy(t => (t._1, t._2))
            .take(maxSteps)
          state.update(prefix)
          Iterator.single((userId, prefix.map(_._3).mkString(">")))
      }
  }
}
