package perfbench

import java.sql.Timestamp
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.EventOps
import graft.streaming.{EventStreamJobs, LiveEvent}

/** The stream workload's pinned parameters. */
final case class StreamParams(
    rate: Int,             // events per second in the fixed-rate phases
    timeFactor: Double,    // event-time seconds per wall-clock second
    redeliverShare: Double,
    lateShare: Double,
    users: Int,
    warmSeconds: Double,   // fixed rate, not measured: state fills and plateaus
    fixedShare: Double,    // share of the measured seconds at the fixed rate
    tickMs: Int,           // the generator pushes every due slot once per tick
    triggerMs: Int,        // processing-time trigger interval
    backlog: Int)          // events per micro-batch in the saturation phase

/** `EventStreamJobs.dedupStream` → `EventStreamJobs.route` (with
  * `EventOps.handlerRegistry`) → a `foreachBatch` sink, fed from a
  * `MemoryStream` by a seeded, single-threaded open-loop generator.
  *
  * The generator emits one slot every 1/rate seconds: slot i is due at
  * `g0 + i / rate`, and every `tickMs` it adds all due slots to the
  * source in one block. The source splits each micro-batch's rows into
  * one partition per core, as a partitioned log would, rather than one
  * per block, so a batch's task count does not grow with its length
  * (dozens of tiny tasks per batch made latency follow host scheduling
  * jitter more than graft's work). A slot is a first
  * delivery (event_id = i), a late
  * first delivery whose event time lies a year behind the stream (far
  * past the one-hour watermark), or a redelivery that
  * repeats a recent first delivery row for row. Event time advances
  * `timeFactor` times faster than wall time, so the watermark evicts
  * dedup state within the warm-up. A slot's latency is the time from
  * when it was due to when the sink received its rows.
  *
  * Phases: `warmSeconds` at the fixed rate (not measured), then
  * `fixedShare` of `seconds` at the fixed rate (latency), then the rest
  * of `seconds`, in which every micro-batch holds one block of
  * `backlog` slots (drained events per second). The next block is
  * added as soon as a batch's sink is called, when that batch's offsets
  * are fixed, so it waits for the next batch whole and batch sizes, and
  * with them per-batch rates, do not depend on timing. The generator
  * then stops and the run waits for the sink to drain.
  *
  * When tracing, the job and plan listeners are attached for the middle
  * half of the fixed-rate phase; its latencies against those of the
  * outer quarters give the tracing overhead. Per-batch numbers come from the query's own
  * `recentProgress` in every run.
  *
  * The sink checks every row against the generator's own log: each
  * first delivery that was not late must reach exactly the handlers
  * the registry gives its event type, or `unhandled`, once; nothing
  * else may be emitted.
  */
object Stream {
  private val Types = Array("click", "error", "purchase", "signup", "view")
  // expected handler bits per event type (registry rows, else unhandled)
  private val Handlers = Map("click_handler" -> 1, "billing_handler" -> 2,
    "audit_handler" -> 4, "account_handler" -> 8, "unhandled" -> 16)
  private val TypeMask = Array(1, 16, 2 | 4, 8, 16)
  private val First: Byte = 0
  private val Late: Byte = 1
  private val Redelivery: Byte = 2
  private val BaseUs = 1704067200000000L // 2024-01-01T00:00:00Z
  // Spark filters late rows against the previous batch's watermark, so
  // "late" must stay late however much event time two batches span
  private val LateUs = 365L * 24 * 3600 * 1000000
  private val DrainLimitNs = 60L * 1000000000

  /** Builds the query over a fresh source holding one probe row and
    * starts it, so its first micro-batch runs at once.
    */
  final class Pipeline(spark: SparkSession, checkpoint: String, triggerMs: Int,
      onBatch: (DataFrame, Long) => Unit) {
    implicit private val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val source: MemoryStream[LiveEvent] =
      MemoryStream[LiveEvent](spark.sparkContext.defaultParallelism)
    private val routed = EventStreamJobs.route(
      EventStreamJobs.dedupStream(source.toDF()), EventOps.handlerRegistry(spark))
    source.addData(LiveEvent(-1L, new Timestamp(BaseUs / 1000), 0L, "view", -1.0))
    val query: StreamingQuery = routed.select("event_id", "handler").writeStream
      .foreachBatch(onBatch)
      .trigger(Trigger.ProcessingTime(triggerMs.toLong))
      .option("checkpointLocation", checkpoint)
      .start()
  }

  /** Starts the pipeline and waits until its first micro-batch has
    * completed: the stream's part of set-up.
    */
  def start(spark: SparkSession, checkpoint: String, triggerMs: Int,
      onBatch: (DataFrame, Long) => Unit): Pipeline = {
    val p = new Pipeline(spark, checkpoint, triggerMs, onBatch)
    p.query.processAllAvailable()
    p
  }

  def run(spark: SparkSession, checkpoint: String, seed: Long, seconds: Double,
      prm: StreamParams, rec: Recorder, trace: Boolean): Unit = {
    val rng = new scala.util.Random(seed)
    val cap = (prm.rate * (prm.warmSeconds + seconds) * 20).toInt
    val kind = new Array[Byte](cap)
    val typ = new Array[Byte](cap)
    val emitted = new Array[Byte](cap)
    val users = new Array[Int](cap)
    val slots = new AtomicInteger(0)         // slots generated so far
    val drained = new AtomicLong(-1L)        // highest first-delivery slot seen by the sink
    val batchesSeen = new AtomicInteger(0)
    val sinkCalls = new AtomicInteger(0)
    @volatile var g0 = 0L                    // nanoTime of slot 0's due time
    @volatile var latFrom = Int.MaxValue     // slots whose latency is measured
    @volatile var latTo = Int.MaxValue
    val latencies = new java.util.concurrent.ConcurrentLinkedQueue[Array[Double]]()
    val sinkBatches = new java.util.concurrent.ConcurrentLinkedQueue[Array[Double]]()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()

    def onBatch(df: DataFrame, batchId: Long): Unit = {
      sinkCalls.incrementAndGet()
      val t0 = Clock.ms
      val rows = df.collect()
      val now = System.nanoTime()
      val lat = new Array[Double](2 * rows.length)
      var nLat = 0
      var hi = -1L
      rows.foreach { r =>
        val id = r.getLong(0)
        val bit = Handlers.getOrElse(r.getString(1), 0)
        if (id < 0) () // the set-up probe row
        else if (id >= cap || kind(id.toInt) != First || (TypeMask(typ(id.toInt)) & bit) == 0 ||
            (emitted(id.toInt) & bit) != 0)
          errors.add(s"unexpected row in batch $batchId: event_id=$id handler=${r.getString(1)}" +
            (if (id < cap) s" kind=${kind(id.toInt)} emitted=${emitted(id.toInt)}" else ""))
        else {
          val i = id.toInt
          emitted(i) = (emitted(i) | bit).toByte
          hi = math.max(hi, id)
          if (i >= latFrom && i < latTo && emitted(i) == TypeMask(typ(i))) {
            lat(nLat) = i
            lat(nLat + 1) = (now - g0) / 1e6 - i * 1000.0 / prm.rate
            nLat += 2
          }
        }
      }
      if (nLat > 0) latencies.add(java.util.Arrays.copyOf(lat, nLat))
      drained.accumulateAndGet(hi, (a, b) => math.max(a, b))
      batchesSeen.incrementAndGet()
      sinkBatches.add(Array(batchId.toDouble, t0, Clock.ms, rows.length.toDouble))
    }

    // the stream thread inherits this tag, so its jobs are traced
    // once the listeners are attached
    spark.sparkContext.setLocalProperty(OpTag.Key, s"${OpTag.Traced}stream")
    val pipe = start(spark, checkpoint, prm.triggerMs, onBatch)
    val source = pipe.source
    val query = pipe.query

    def slot(i: Int): LiveEvent = {
      val etUs = BaseUs + (i.toDouble / prm.rate * prm.timeFactor * 1e6).toLong
      val u = rng.nextDouble()
      if (u < prm.redeliverShare && i > 0) {
        // repeat a recent first delivery: same event_id, payload and ts
        var j = i - 1 - rng.nextInt(math.min(i, 256))
        while (j > 0 && kind(j) != First) j -= 1
        kind(i) = Redelivery
        if (kind(j) == First) {
          val jUs = BaseUs + (j.toDouble / prm.rate * prm.timeFactor * 1e6).toLong
          return LiveEvent(j, new Timestamp(jUs / 1000), users(j), Types(typ(j)), j.toDouble)
        }
      }
      // a late slot needs a watermark already set by earlier batches
      val late = u >= prm.redeliverShare && u < prm.redeliverShare + prm.lateShare &&
        batchesSeen.get() >= 3
      kind(i) = if (late) Late else First
      typ(i) = rng.nextInt(Types.length).toByte
      users(i) = rng.nextInt(prm.users)
      val ts = if (late) etUs - LateUs else etUs
      LiveEvent(i, new Timestamp(ts / 1000), users(i), Types(typ(i)), i.toDouble)
    }

    // generator: at the fixed rate it pushes every due slot each tick and
    // never waits for the sink
    val warmNs = (prm.warmSeconds * 1e9).toLong
    val fixedNs = (seconds * prm.fixedShare * 1e9).toLong
    val satNs = (seconds * 1e9).toLong - fixedNs
    var genLateMs = 0.0
    var backlogMax = 0L
    val buf = scala.collection.mutable.ArrayBuffer.empty[LiveEvent]
    g0 = System.nanoTime()
    latFrom = (warmNs / 1e9 * prm.rate).toInt
    latTo = ((warmNs + fixedNs) / 1e9 * prm.rate).toInt
    var satStart = 0.0
    var fixedStart = 0.0
    var traceStart = 0.0
    var traceEnd = 0.0
    var detach: () => Unit = () => ()
    var blockAtCall = 0 // sink calls seen when the last saturation block was added
    var running = true
    while (running) {
      val el = System.nanoTime() - g0
      if (el < warmNs + fixedNs) {
        if (el >= warmNs && fixedStart == 0.0) fixedStart = Clock.ms
        if (trace && el >= warmNs + fixedNs / 4 && traceStart == 0.0) {
          detach = Trace.attach(spark, rec)
          traceStart = Clock.ms
        }
        if (trace && el >= warmNs + fixedNs * 3 / 4 && traceEnd == 0.0) {
          detach()
          traceEnd = Clock.ms
        }
        val due = math.min(cap - 1, (el / 1e9 * prm.rate).toInt + 1)
        var i = slots.get()
        if (i < due) {
          if (el >= warmNs) genLateMs = math.max(genLateMs, (el - i * 1e9 / prm.rate) / 1e6)
          buf.clear()
          while (i < due) { buf += slot(i); i += 1 }
          source.addData(buf.toSeq)
          slots.set(i)
        }
        if (el >= warmNs) backlogMax = math.max(backlogMax, slots.get() - 1 - drained.get())
        Thread.sleep(prm.tickMs)
      } else if (el < warmNs + fixedNs + satNs) {
        if (satStart == 0.0) {
          satStart = Clock.ms
          blockAtCall = sinkCalls.get() // a batch may be in flight: wait for its sink
        }
        var i = slots.get()
        val calls = sinkCalls.get()
        if (calls > blockAtCall && i < cap - prm.backlog) {
          blockAtCall = calls
          val upTo = i + prm.backlog
          buf.clear()
          while (i < upTo) { buf += slot(i); i += 1 }
          source.addData(buf.toSeq)
          slots.set(i)
        } else Thread.sleep(2)
      } else running = false
    }
    val satEnd = Clock.ms
    // let the sink drain what was generated, so every first delivery is
    // checked and no latency sample is lost when the system fell behind
    val lastFirst = (slots.get() - 1 to 0 by -1).find(kind(_) == First).getOrElse(-1)
    val drainUntil = System.nanoTime() + DrainLimitNs
    while (drained.get() < lastFirst && System.nanoTime() < drainUntil && query.isActive)
      Thread.sleep(5)
    query.stop()
    query.exception.foreach(e => errors.add(s"query failed: ${e.getMessage}"))

    // every first delivery that was not late must have reached all its
    // handlers; slots the sink never reached are not checked
    val checkedTo = math.min(slots.get(), (drained.get() + 1).toInt)
    var missing = 0L
    var firsts = 0L
    for (i <- 0 until checkedTo if kind(i) == First) {
      firsts += 1
      if (emitted(i) != TypeMask(typ(i))) missing += 1
    }

    rec.add("k" -> "stream", "slots" -> slots.get(), "checked" -> checkedTo, "firsts" -> firsts,
      "late" -> (0 until checkedTo).count(kind(_) == Late),
      "redelivered" -> (0 until checkedTo).count(kind(_) == Redelivery),
      "missing" -> missing, "errors" -> errors.toArray.take(20).toSeq,
      "error_count" -> errors.size,
      "gen_late_ms" -> genLateMs, "backlog_max" -> backlogMax,
      "lat_from" -> latFrom, "lat_to" -> latTo, "fixed_t0" -> fixedStart,
      "trace_t0" -> traceStart, "trace_t1" -> traceEnd, "sat_t0" -> satStart, "sat_t1" -> satEnd,
      "rate" -> prm.rate)
    // (slot, latency ms) pairs, flattened
    val all = scala.collection.mutable.ArrayBuffer.empty[Double]
    latencies.forEach(a => all ++= a)
    rec.add("k" -> "latency", "slot_ms" -> all)
    sinkBatches.forEach(b => rec.add("k" -> "sink", "batch" -> b(0).toLong, "t0" -> b(1), "t1" -> b(2), "rows" -> b(3).toLong))
    query.recentProgress.foreach(p => rec.addRaw(s"""{"k":"batch","p":${p.json}}"""))
  }
}
