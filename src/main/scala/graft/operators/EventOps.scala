package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream operator suite (SURVEY.md §2.1) — the batch analogs of
  * the reference's event-bus semantics (routing, dispatch, trim,
  * request/response correlation, consumer bookkeeping); the live
  * Structured-Streaming versions live in [[graft.streaming]].
  *
  * All operators key their one shuffle on the stream's natural
  * partition key (`user_id` — the reference's application_instance —
  * or `event_type`), so at 100 TB each is a single hash exchange with
  * map-side partial aggregation, and window functions evaluate
  * streamingly inside each partition. Timestamps are carried as
  * microsecond longs (`ts_us`) — exact integer arithmetic, no
  * float/timezone hazards in the oracle compare.
  */
object EventOps {

  private def dec2(c: Column): Column = graft.functions.Parity.dec2(c)

  /** events + exact microsecond epoch column. */
  def withTsUs(events: DataFrame): DataFrame =
    events.withColumn("ts_us", unix_micros(col("ts")))

  /** Per-user (ts, event_id) arrival order — the stream order. */
  private def byArrival = Window.partitionBy(col("user_id"))
    .orderBy(col("ts_us"), col("event_id"))

  /** Reverse arrival order (newest first) — single definition so the
    * newest-N semantics of trim/purge/idle can't diverge.
    */
  private def byArrivalDesc = Window.partitionBy(col("user_id"))
    .orderBy(col("ts_us").desc, col("event_id").desc)

  /** Floor division of a nonnegative-or-negative long column — `div`
    * truncates toward zero, but the DuckDB oracle's `//` floors, and
    * the two differ for pre-epoch timestamps.
    */
  private def floorDiv(c: Column, n: Long): Column =
    ((c - pmod(c, lit(n))) / lit(n)).cast("long")

  /** Event routing: per-event-type traffic counts (the bus's dispatch
    * table view; reference `streams/bus.py:41` routes on `event`).
    */
  def routeCounts(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(dec2(col("value"))).cast("double").as("total_value"))
      .orderBy(col("event_type"))

  /** The handler registry dimension (reference
    * `configuration/bus.py` handler groups): event name → handler,
    * possibly several handlers per event.
    */
  def handlerRegistry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      ("click", "click_handler"),
      ("purchase", "billing_handler"),
      ("purchase", "audit_handler"),
      ("signup", "account_handler")
    ).toDF("r_event", "handler")
  }

  /** Parse a reference-shaped JSON application config into the
    * handler-registry dimension (reference `configuration/bus.py`:
    * busses → per-event handler lists resolved as module.name). The
    * whole parse is `from_json` + three explodes over a LITERAL — a
    * driver-side dimension build, never a data-sized job; the result
    * broadcasts exactly like [[handlerRegistry]].
    */
  def registryFromConfig(spark: SparkSession, configJson: String): DataFrame = {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val schema = StructType(Seq(StructField("busses", ArrayType(StructType(Seq(
      StructField("name", StringType),
      StructField("group", StringType),
      StructField("handlers", MapType(StringType, ArrayType(StructType(Seq(
        StructField("module_name", StringType),
        StructField("name", StringType))))))))))))
    Seq(configJson).toDF("cfg")
      .select(from_json(col("cfg"), schema).as("c"))
      .select(explode(col("c.busses")).as("b"))
      .select(col("b.name").as("bus"), col("b.group").as("bus_group"),
        explode(col("b.handlers")).as(Seq("r_event", "hs")))
      .select(col("bus"), col("bus_group"), col("r_event"),
        explode(col("hs")).as("h"))
      .select(col("bus"), col("bus_group"), col("r_event"),
        concat_ws(".", col("h.module_name"), col("h.name")).as("handler"))
      .orderBy(col("bus"), col("r_event"), col("handler"))
  }

  /** The config literal [[registryFromConfig]] parses in the
    * `ev_config_registry` query — the same busses/groups/handlers
    * nesting the reference's application config uses.
    */
  val sampleBusConfig: String =
    """{"busses": [
      |  {"name": "ingest", "group": "A", "handlers": {
      |    "click": [{"module_name": "graft.handlers", "name": "click_handler"}],
      |    "purchase": [
      |      {"module_name": "graft.billing", "name": "billing_handler"},
      |      {"module_name": "graft.audit", "name": "audit_handler"}]}},
      |  {"name": "accounts", "group": "B", "handlers": {
      |    "signup": [{"module_name": "graft.handlers", "name": "account_handler"}]}}
      |]}""".stripMargin

  /** Dispatch join: every event fans out to each registered handler;
    * unregistered events fall through to 'unhandled' (the reference
    * logs these, `streams/bus.py:77`). Registry is broadcast — the
    * fact side never shuffles.
    */
  def routeDispatch(events: DataFrame, registry: DataFrame): DataFrame =
    events.join(broadcast(registry), col("event_type") === col("r_event"), "left")
      .withColumn("handler", coalesce(col("handler"), lit("unhandled")))
      .groupBy(col("event_type"), col("handler"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy(col("event_type"), col("handler"))

  /** Echo handler (reference `handlers/echo.py`): identity projection
    * with application identity attached — a pure narrow map.
    */
  def echo(events: DataFrame): DataFrame =
    events.select(
        col("event_id"), col("event_type"), col("user_id"), col("value"),
        lit("graft").as("application_name"),
        concat(lit("user-"), col("user_id").cast("string"))
          .as("application_instance"))
      .orderBy(col("event_id"))

  /** get_instance/info (reference `handlers/master.py:134`): per
    * application-instance activity summary.
    */
  def instanceInfo(events: DataFrame): DataFrame =
    withTsUs(events).groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts_us")).as("first_us"),
        max(col("ts_us")).as("last_us"),
        sum(dec2(col("value"))).cast("double").as("total_value"),
        countDistinct(col("event_type")).as("n_types"))
      .orderBy(col("user_id"))

  /** XTRIM keep-last-N per stream (reference `handlers/master.py:27`
    * trims each stream to `count` newest records): row_number over
    * arrival-desc ≤ N.
    */
  def trimLastN(events: DataFrame, n: Int): DataFrame = {
    val wDesc = byArrivalDesc
    withTsUs(events)
      .withColumn("rn", row_number().over(wDesc))
      .filter(col("rn") <= n)
      .select(col("event_id"), col("user_id"), col("ts_us"), col("event_type"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** The archived overflow (reference `master.py:58` writes records
    * beyond N to an archive file): the rank>N complement, aggregated
    * per stream.
    */
  def trimOverflow(events: DataFrame, n: Int): DataFrame = {
    val wDesc = byArrivalDesc
    withTsUs(events)
      .withColumn("rn", row_number().over(wDesc))
      .filter(col("rn") > n)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_archived"),
        min(col("ts_us")).as("min_us"),
        max(col("ts_us")).as("max_us"))
      .orderBy(col("user_id"))
  }

  /** Request/response correlation as an as-of match (reference
    * `messages/base.py:593` pairs a response to its request via
    * `response_to`): each 'view' matched to the next 'purchase' by the
    * same user strictly after it. One window pass — no self-join, no
    * second shuffle.
    */
  def responseAsof(events: DataFrame): DataFrame = {
    // running min over the REVERSED order: a (1, unboundedFollowing)
    // frame re-scans to the partition end for every row (O(m²) per
    // user); the desc-order (unboundedPreceding, -1) frame covers the
    // identical row set and evaluates incrementally in O(m)
    val following = byArrivalDesc
      .rowsBetween(Window.unboundedPreceding, -1)
    withTsUs(events)
      .withColumn("next_purchase_us",
        min(when(col("event_type") === "purchase", col("ts_us"))).over(following))
      .filter(col("event_type") === "view" && col("next_purchase_us").isNotNull)
      .select(col("event_id"), col("user_id"),
        col("ts_us").as("view_us"), col("next_purchase_us"))
      .orderBy(col("event_id"))
  }

  /** Response-latency distribution (reference `streams/reader.py:111`
    * waits for the correlated response): gap to the user's next event,
    * aggregated per event type. Integer micros ⇒ exact sums.
    */
  def responseLatency(events: DataFrame): DataFrame =
    withTsUs(events)
      .withColumn("next_us", lead(col("ts_us"), 1).over(byArrival))
      .filter(col("next_us").isNotNull)
      .withColumn("gap_us", col("next_us") - col("ts_us"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        (sum(col("gap_us")).cast("double") / count(lit(1))).as("avg_gap_us"),
        max(col("gap_us")).as("max_gap_us"))
      .orderBy(col("event_type"))

  /** Gap-based sessionization (30 min), the batch analog of the
    * stateful stream handler: lag → new-session flag → running sum =
    * session index; one shuffle on user_id, then per-session rollup.
    */
  def sessionGap(events: DataFrame, gapUs: Long = 1800000000L): DataFrame = {
    val runningFlags = byArrival.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withTsUs(events)
      .withColumn("prev_us", lag(col("ts_us"), 1).over(byArrival))
      .withColumn("is_new",
        when(col("prev_us").isNull || col("ts_us") - col("prev_us") > gapUs, 1)
          .otherwise(0))
      .withColumn("session_idx", sum(col("is_new")).over(runningFlags).cast("long"))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts_us")).as("start_us"),
        max(col("ts_us")).as("end_us"))
      .orderBy(col("user_id"), col("session_idx"))
  }

  /** Tumbling 1-hour windows (batch analog of the streaming windowed
    * aggregation). Window start carried as epoch seconds (exact
    * integer floor arithmetic in both engines).
    */
  def windowTumbling(events: DataFrame): DataFrame =
    withTsUs(events)
      .withColumn("hour_start_s", floorDiv(col("ts_us"), 3600000000L) * 3600)
      .groupBy(col("hour_start_s"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(dec2(col("value"))).cast("double").as("total_value"))
      .orderBy(col("hour_start_s"), col("event_type"))

  /** Sliding 1-hour windows every 30 min via Spark's native window()
    * (each event lands in exactly two windows).
    */
  def windowSliding(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("n_events"),
        sum(dec2(col("value"))).cast("double").as("total_value"))
      .select(unix_timestamp(col("window.start")).as("win_start_s"),
        col("n_events"), col("total_value"))
      .orderBy(col("win_start_s"))

  /** GenericMessage.data payload field access (reference
    * `messages/base.py:866` + `get_by_path`): extract props.k and
    * aggregate by bucket. Regex extraction keeps the oracle portable.
    */
  def propsExtract(events: DataFrame): DataFrame =
    events
      // try_cast: regexp_extract yields '' when props has no k, and
      // ''.cast(long) throws under ANSI mode — un-keyed payloads are a
      // legal generic-message shape
      .withColumn("k",
        regexp_extract(col("props"), "\"k\": (\\d+)", 1).try_cast("long"))
      .withColumn("k_bucket", col("k") % 10)
      .groupBy(col("k_bucket"))
      .agg(count(lit(1)).as("n"),
        sum(dec2(col("value"))).cast("double").as("total_value"))
      .orderBy(col("k_bucket"))

  /** Sliding-window rate limiting: each event's trailing-window
    * event count for its producer (same-instant peers share a frame,
    * quiet gaps shrink it) and a flood flag when the count exceeds
    * the limit. The abuse-detection / backpressure primitive a
    * production bus puts in front of [[deadLetter]].
    *
    * The trailing count is computed as the DIFFERENCE of two
    * growing frames — count(ts' ≤ t) − count(ts' ≤ t−W−1µs), exact
    * for integer µs epochs — instead of one sliding RANGE frame
    * [−W, 0]. Same answer, radically different skew behavior: Spark
    * evaluates a growing (unbounded-preceding) frame incrementally,
    * O(rows) per partition, while a sliding frame re-aggregates the
    * whole buffer every time its lower bound moves — O(rows ×
    * frame) — which is QUADRATIC exactly on the hot producer this
    * operator exists to catch (measured on the 10%-flood skew
    * replica: 36.6 s sliding vs sub-second grown, SCALING.md
    * round 7). Both frames share one user-keyed exchange + sort.
    */
  def rateLimit(events: DataFrame, windowSec: Long = 604800L,
      maxPerWindow: Int = 15): DataFrame = {
    val byTs = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
    val upTo = byTs.rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val beforeWindow =
      byTs.rangeBetween(Window.unboundedPreceding, -windowSec * 1000000L - 1L)
    withTsUs(events)
      .withColumn("n_in_window",
        count(lit(1)).over(upTo) - count(lit(1)).over(beforeWindow))
      .select(col("user_id"), col("event_id"), col("ts_us"),
        col("n_in_window"),
        when(col("n_in_window") > maxPerWindow, 1L).otherwise(0L).as("flood"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Per-workflow end-to-end tracking: the reference's `workflow_id`
    * groups messages into one logical workflow
    * (`messages/base.py:515`); here the payload key plays that role
    * (extracted exactly like [[propsExtract]]). Reports each
    * workflow's span (first→last event, µs), event count, distinct
    * event types and participant count — the "how long did the saga
    * take" view. One hash aggregate on the workflow key; microsecond
    * epochs avoid timestamp round-trip hazards (SURVEY §5).
    */
  def workflowLatency(events: DataFrame): DataFrame =
    events
      .withColumn("wf",
        regexp_extract(col("props"), "\"k\": (\\d+)", 1).try_cast("long"))
      .filter(col("wf").isNotNull)
      .groupBy(col("wf"))
      .agg(count(lit(1)).as("n_events"),
        count_distinct(col("event_type")).as("n_types"),
        count_distinct(col("user_id")).as("n_users"),
        (max(unix_micros(col("ts"))) - min(unix_micros(col("ts"))))
          .as("span_us"))
      .orderBy(col("wf"))

  /** Workflow funnel (reference workflow_id chains, `base.py:515`),
    * first-touch form: stage counted when each stage's EARLIEST event
    * follows the previous stage's earliest (the standard min-timestamp
    * funnel approximation — a user whose first click predates their
    * first view does not count, even if a later ordered chain exists).
    * Two-level aggregation, keyed on user_id then global.
    */
  def funnel(events: DataFrame): DataFrame = {
    val perUser = withTsUs(events).groupBy(col("user_id"))
      .agg(
        min(when(col("event_type") === "view", col("ts_us"))).as("v"),
        min(when(col("event_type") === "click", col("ts_us"))).as("c"),
        min(when(col("event_type") === "purchase", col("ts_us"))).as("p"))
    perUser.agg(
      count(col("v")).as("n_view"),
      count(when(col("c") > col("v"), lit(1))).as("n_view_click"),
      count(when(col("c") > col("v") && col("p") > col("c"), lit(1)))
        .as("n_funnel"))
  }

  /** Path analysis: the most common event-type journeys — each user's
    * first `maxSteps` events in (ts, event_id) order concatenated to a
    * path string, then counted across users (the "top user journeys"
    * view an event-bus operator reads to see what flows actually
    * happen). One user-keyed window shuffle + one journey-keyed
    * aggregate; `array_sort` on (ts_us, event_id, type) structs makes
    * the concatenation order deterministic, and the top-k tie-breaks
    * on the journey string.
    */
  def journeys(events: DataFrame, maxSteps: Int = 8, topN: Int = 20): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    withTsUs(events)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= maxSteps)
      .groupBy(col("user_id"))
      .agg(concat_ws(">", expr(
        "transform(array_sort(collect_list(struct(ts_us, event_id, event_type)))," +
          " x -> x.event_type)")).as("journey"))
      .groupBy(col("journey"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("journey"))
      .limit(topN)
  }

  /** Day-over-day instance liveness (the master handler's heartbeat
    * view): distinct (user, day) self-joined to day+1. The self-join
    * shares the user_id shuffle; at scale the daily-distinct set is
    * tiny relative to the raw stream.
    */
  def retention(events: DataFrame): DataFrame = {
    val ud = withTsUs(events)
      .select(col("user_id"), floorDiv(col("ts_us"), 86400000000L).as("d"))
      .distinct()
    val b = ud.select(col("user_id").as("b_user"), col("d").as("b_d"))
    ud.join(b, col("user_id") === col("b_user") && col("b_d") === col("d") + 1, "left")
      .groupBy(col("d").as("day_idx"))
      .agg(count(lit(1)).as("active"),
        sum(when(col("b_user").isNotNull, 1).otherwise(0)).cast("long")
          .as("retained"))
      .orderBy(col("day_idx"))
  }

  /** First/last message per consumer (consumer bookkeeping,
    * `utilities/communication.py`): deterministic first/last by
    * (ts, event_id) arrival order. One struct-min/max aggregate — no
    * window sort at all (struct comparison is lexicographic, so the
    * (ts_us, event_id) prefix IS the arrival tie-break).
    */
  def firstLast(events: DataFrame): DataFrame =
    withTsUs(events)
      .groupBy(col("user_id"))
      .agg(
        min(struct(col("ts_us"), col("event_id"), col("event_type"))).as("f"),
        max(struct(col("ts_us"), col("event_id"), col("event_type"))).as("l"))
      .select(col("user_id"),
        col("f.event_type").as("first_type"), col("f.ts_us").as("first_us"),
        col("l.event_type").as("last_type"), col("l.ts_us").as("last_us"))
      .orderBy(col("user_id"))

  /** XPENDING-style bucketed stats (consumer-group pending counts):
    * conditional aggregation into value buckets, one pass.
    */
  def pendingStats(events: DataFrame): DataFrame = {
    def bucket(cond: Column) = sum(when(cond, 1).otherwise(0)).cast("long")
    events.groupBy(col("event_type"))
      .agg(
        bucket(col("value") < 50).as("n_small"),
        bucket(col("value") >= 50 && col("value") < 200).as("n_mid"),
        bucket(col("value") >= 200).as("n_big"),
        count(lit(1)).as("n_total"))
      .orderBy(col("event_type"))
  }

  /** Per-event-type top-k producers via the custom bounded
    * [[graft.functions.TopK.TopKAggregator]]: map-side partials carry
    * at most k candidates per type, so no per-group sort ever happens —
    * the grouped-top-k shape that survives 100 TB groups.
    */
  def topKPerType(events: DataFrame, k: Int = 3): DataFrame = {
    import graft.functions.TopK
    val tk = udaf(new TopK.TopKAggregator(k), Encoders.product[TopK.Scored])
    events
      .groupBy(col("event_type"), col("user_id"))
      .agg(sum(dec2(col("value"))).cast("double").as("total_value"))
      .groupBy(col("event_type"))
      .agg(tk(col("user_id"), col("total_value")).as("top"))
      .select(col("event_type"), posexplode(col("top")))
      .select(col("event_type"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("user_id"), col("col.score").as("total_value"))
      .orderBy(col("event_type"), col("rank"))
  }

  /** Heaviest producers: agg + top-k (TakeOrdered — no global sort). */
  def topUsers(events: DataFrame, k: Int = 10): DataFrame =
    events.groupBy(col("user_id"))
      .agg(sum(dec2(col("value"))).cast("double").as("total_value"),
        count(lit(1)).as("n"))
      .orderBy(col("total_value").desc, col("user_id"))
      .limit(k)

  /** Per-type z-score outliers from exact decimal moments (sum and
    * sum-of-squares are exact ⇒ mean/variance are deterministic
    * doubles ⇒ the |z|>2.5 cut can't flip between engines). The tiny
    * per-type moments table is broadcast back onto the stream.
    */
  def zscoreOutliers(events: DataFrame): DataFrame = {
    val moments = events.groupBy(col("event_type").as("m_type"))
      .agg(
        sum(dec2(col("value"))).as("s"),
        sum(dec2(col("value")) * dec2(col("value"))).as("sq"),
        count(lit(1)).as("n"))
      .withColumn("mean", col("s").cast("double") / col("n"))
      .withColumn("variance",
        col("sq").cast("double") / col("n") - col("mean") * col("mean"))
    events.join(broadcast(moments), col("event_type") === col("m_type"))
      // zero/degenerate variance (constant or single-event groups)
      // would make z NaN/Infinity — and Spark orders NaN above every
      // number, so such groups would ALL flag as outliers
      .filter(col("variance") > 0)
      .withColumn("z", (col("value") - col("mean")) / sqrt(col("variance")))
      .filter(abs(col("z")) > 2.5)
      .select(col("event_id"), col("event_type"), col("value"),
        round(col("z"), 6).as("z"))
      .orderBy(col("event_id"))
  }

  /** The default close/purge target list (application instances the
    * master message addresses).
    */
  def targetInstances(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(3L, 7L, 11L).toDF("target_user")
  }

  /** close_streams (reference `handlers/master.py` close semantics):
    * a close message targets application instances by exact match;
    * every matched stream reports its final state. Targets broadcast,
    * fact side left_semi — no row duplication.
    */
  def closeStreams(events: DataFrame, targets: DataFrame): DataFrame =
    withTsUs(events)
      .join(broadcast(targets), col("user_id") === col("target_user"), "left_semi")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts_us")).as("first_us"),
        max(col("ts_us")).as("last_us"))
      .orderBy(col("user_id"))

  /** purge_consumers (reference `handlers/master.py:72`): tear down a
    * consumer group and transfer its pending messages to an inbox
    * stream. Pending here = the target consumers' newest-N window (the
    * unacked tail); each transferred message is re-addressed.
    */
  def purgeConsumers(events: DataFrame, targets: DataFrame,
                     pendingN: Int = 10): DataFrame = {
    val wDesc = byArrivalDesc
    withTsUs(events)
      .join(broadcast(targets), col("user_id") === col("target_user"), "left_semi")
      .withColumn("rn", row_number().over(wDesc))
      .filter(col("rn") <= pendingN)
      .select(col("event_id"), col("user_id"), col("event_type"),
        lit("inbox").as("destination"))
      .orderBy(col("event_id"))
  }

  /** At-least-once delivery dedup: collapse redelivered payloads
    * (same user/type/props/value) to the first delivery.
    */
  def dedupExact(events: DataFrame): DataFrame =
    events.groupBy(col("user_id"), col("event_type"), col("props"), col("value"))
      .agg(min(col("event_id")).as("event_id"),
        count(lit(1)).as("dup_count"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("dup_count"))
      .orderBy(col("event_id"))

  /** Dead-letter detection (reference `utilities/communication.py:810`
    * get_dead_messages: delivery count past the threshold ⇒ the
    * message is poison and moves to a dead-letter destination).
    * Delivery count here = redelivered duplicates of the same payload;
    * one keyed aggregate, uniform keys.
    */
  def deadLetter(events: DataFrame, maxDeliveries: Int = 3): DataFrame =
    // delivery identity = (consumer, event, integral payload) — each
    // occurrence is one delivery attempt of the same logical message
    events
      .groupBy(col("user_id"), col("event_type"),
        // floor, not cast: Spark casts double→long by truncation but
        // DuckDB rounds — floor is identical in both engines
        floor(col("value")).cast("long").as("value_key"))
      .agg(min(col("event_id")).as("event_id"),
        count(lit(1)).as("delivery_count"))
      .filter(col("delivery_count") >= maxDeliveries)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("delivery_count"), lit("dead_letter").as("destination"))
      .orderBy(col("event_id"))

  /** Idle-message claim (reference `utilities/communication.py:756`
    * get_idle_messages: pending entries idle past a threshold are
    * claimable by another consumer). Pending set = the newest
    * `pendingN` per user (the purge model); idleness measured against
    * the stream head (global max ts) — one broadcast scalar, one
    * user-keyed window.
    */
  def idleMessages(events: DataFrame, idleUs: Long = 86400000000L,
      pendingN: Int = 10): DataFrame = {
    val e = withTsUs(events)
    val head = e.agg(max(col("ts_us")).as("head_us"))
    val wDesc = byArrivalDesc
    e.withColumn("rn", row_number().over(wDesc))
      .filter(col("rn") <= pendingN)
      .crossJoin(broadcast(head))
      .withColumn("idle_us", col("head_us") - col("ts_us"))
      .filter(col("idle_us") > idleUs)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("idle_us"), lit("claimable").as("status"))
      .orderBy(col("event_id"))
  }

  /** Requeue / retry (reference `utilities/communication.py:550`
    * return_message_to_inbox, exercised by
    * `tests/test_communication.py:230`): a failed delivery returns to
    * the shared inbox consumer for redelivery with its delivery count
    * incremented; a message whose incremented count reaches the
    * dead-letter threshold routes to the dead-letter destination
    * instead (the [[deadLetter]] cap, composed). Pending set = the
    * newest-`pendingN` per user ([[purgeConsumers]]' unacked-tail
    * model); delivery count = observed deliveries of the same logical
    * payload ([[deadLetter]]'s identity). The user window runs first,
    * so the identity window (whose keys extend user_id) reuses the
    * same hash exchange — one shuffle, then a sort.
    */
  def requeue(events: DataFrame, maxDeliveries: Int = 3,
      pendingN: Int = 10): DataFrame = {
    val wIdentity = Window.partitionBy(col("user_id"), col("event_type"),
      col("value_key"))
    withTsUs(events)
      .withColumn("value_key", floor(col("value")).cast("long"))
      .withColumn("rn", row_number().over(byArrivalDesc))
      .withColumn("delivery_count", count(lit(1)).over(wIdentity) + 1)
      .filter(col("rn") <= pendingN)
      .withColumn("destination",
        when(col("delivery_count") >= maxDeliveries, "dead_letter")
          .otherwise("inbox"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("delivery_count"), col("destination"))
      .orderBy(col("event_id"))
  }

  /** Inbox-targeted read (reference `utilities/communication.py:715`
    * get_messages_from_inbox): claim what is currently assigned to the
    * shared inbox consumer — a different view from group-pending
    * ([[idleMessages]]) — and hand it to `consumer`, organized in
    * message-id order (`organize_messages` sorts on id,
    * `communication.py:618`). Inbox contents = what [[purgeConsumers]]
    * transferred (the targets' unacked newest-N); the claim collapses
    * to the newest copy per logical identity (user, type) — an older
    * returned copy is superseded by the newer redelivery.
    */
  def inboxRead(events: DataFrame, targets: DataFrame,
      consumer: String = "worker_1", pendingN: Int = 10): DataFrame =
    withTsUs(events)
      .join(broadcast(targets), col("user_id") === col("target_user"), "left_semi")
      .withColumn("rn", row_number().over(byArrivalDesc))
      .filter(col("rn") <= pendingN)
      .withColumn("ir", row_number().over(
        Window.partitionBy(col("user_id"), col("event_type"))
          .orderBy(col("ts_us").desc, col("event_id").desc)))
      .filter(col("ir") === 1)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("ts_us"), lit(consumer).as("claimed_by"))
      .orderBy(col("event_id"))

  /** Multi-stream organize (reference `utilities/communication.py:586`
    * organize_stream_messages + `:618` organize_messages): a mixed
    * read across several streams pivots into per-(stream, event)
    * groups in message-id order. Stream assignment = the deterministic
    * instance→stream sharding (user_id mod nStreams; the reference
    * keys one stream per application instance — sharding instances
    * onto streams IS the multi-stream read). The reference's nested
    * stream→id→payload map in relational form: one row per
    * (stream, event_type) with id-ordered group boundaries and the
    * payload total. One hash aggregate on small keys.
    */
  def organizeStreams(events: DataFrame, nStreams: Int = 4): DataFrame =
    events
      .withColumn("stream",
        concat(lit("stream_"), pmod(col("user_id"), lit(nStreams)).cast("string")))
      .groupBy(col("stream"), col("event_type"))
      .agg(count(lit(1)).as("n_messages"),
        min(col("event_id")).as("first_id"),
        max(col("event_id")).as("last_id"),
        sum(dec2(col("value"))).cast("double").as("total_value"))
      .orderBy(col("stream"), col("event_type"))

  /** Universal completion status (reference
    * `utilities/communication.py:1029-1056` message_is_applied_to_all /
    * get_universal_message_status: a message is complete once every
    * consumer group has processed it). Handlers come from the
    * broadcast registry; the per-handler ack is a deterministic
    * engine-neutral integer predicate standing in for the ack store.
    * One broadcast fan-out + one message-keyed aggregate.
    */
  def universalStatus(events: DataFrame, registry: DataFrame): DataFrame =
    events
      .join(broadcast(registry), col("event_type") === col("r_event"))
      .withColumn("acked",
        (col("event_id") * 31 + length(col("handler"))) % 10 =!= 0)
      .groupBy(col("event_id"), col("event_type"))
      .agg(count(lit(1)).as("n_handlers"),
        sum(col("acked").cast("long")).as("n_acked"))
      .withColumn("status",
        when(col("n_acked") === col("n_handlers"), "complete")
          .otherwise("pending"))
      .orderBy(col("event_id"))

  /** Generic backward as-of match (reference `messages/base.py:593`:
    * a response correlates to the *latest* matching request): every
    * purchase picks up the most recent preceding view of the same
    * user via the custom [[graft.plans.AsofJoinExec]] operator
    * ([[Temporal.asofBackwardExec]] — the declarative
    * [[Temporal.asofBackwardDeclarative]] is the spec's cross-check). View ties
    * per (user, ts) pre-aggregate to the max event_id so the match is
    * deterministic; unmatched purchases surface with −1 (hash-stable
    * null encoding).
    */
  def asofViewMatch(events: DataFrame): DataFrame = {
    val e = withTsUs(events)
    val views = e.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts_us").as("v_us"))
      .agg(max(col("event_id")).as("v_event_id"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us").as("p_us"))
    Temporal.asofBackwardExec(purchases, "p_us", views, "v_us",
        key = "user_id", carry = Seq("v_event_id", "v_us"))
      .select(col("event_id"), col("user_id"), col("p_us"),
        coalesce(col("v_event_id"), lit(-1L)).as("v_event_id"),
        coalesce(col("v_us"), lit(-1L)).as("v_us"))
      .orderBy(col("event_id"))
  }

  /** Range join: per purchase, the views of the same user in the
    * preceding hour ([[Temporal.rangeJoinAgg]] — equi-key join with
    * an in-partition range predicate). Inner semantics: purchases
    * with a quiet preceding hour drop out.
    */
  def rangeViewsBeforePurchase(events: DataFrame): DataFrame = {
    val e = withTsUs(events)
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts_us").as("v_us"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us").as("p_us"))
    Temporal.rangeJoinAgg(purchases, "event_id", "p_us",
        views, "v_us", key = "user_id", lookbackUs = 3600L * 1000000L)
      .select(col("event_id"), col("user_id"), col("p_us"),
        col("n_matched").as("n_views"),
        col("first_match_us").as("first_v_us"),
        col("last_match_us").as("last_v_us"))
      .orderBy(col("event_id"))
  }
}
