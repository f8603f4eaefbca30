package graft

import org.apache.spark.sql.SparkSession

/** The one place that knows how a graft session should be configured —
  * what a user of the library calls instead of hand-assembling a
  * builder (and what every graft main uses, so the mains can't drift
  * from the documented recommendation):
  *
  *  - `graft.GraftExtensions` registered (SQL `graft_dot` /
  *    `graft_match_count`, the as-of join strategy and its pushdown
  *    rule);
  *  - UTC session timezone (timestamp arithmetic must not depend on
  *    the submitting host);
  *  - shuffle partitions sized to the parallelism at hand — cores on
  *    a single node; on a cluster pass ~2–3× total executor cores
  *    (AQE coalesces down, it never splits up);
  *  - AQE left ON (default since Spark 3.2) for runtime broadcast
  *    flips and skew splitting;
  *  - shuffles wider than the configured floor written by Spark's
  *    serialized sort writer, not the bypass-merge writer: AQE's
  *    32×-wide start would otherwise open one file and compression
  *    stream per reduce partition in every map task on hosts of up
  *    to 6 cores (start ≤ 200 partitions). Capping Spark's
  *    bypass threshold at the floor took `batch_small`'s median
  *    query latency from about 610–680 ms to about 410–430 ms;
  *  - streaming checkpoints through
  *    `graft.streaming.LocalCheckpointFileManager`: on a `file:` path
  *    it writes through Hadoop's `FileSystem` API instead of
  *    `FileContext`, which without Hadoop's native library starts a
  *    shell command per permission change. On `stream_bus` that cut
  *    the state commit of a micro-batch from about 310–340 ms to
  *    about 20 ms. Other file systems keep Spark's default manager.
  *
  * `local(...)` is the single-JVM shape (tests, Verify, Bench);
  * `builder(...)` is the cluster shape — master/deploy settings come
  * from spark-submit, only graft's requirements are added.
  */
object GraftSession {

  /** Builder with graft's requirements applied; master/deploy left to
    * spark-submit. `shufflePartitions <= 0` keeps the cluster or
    * spark-defaults value.
    */
  def builder(shufflePartitions: Int = -1): SparkSession.Builder =
    settings(shufflePartitions).foldLeft(SparkSession.builder()) {
      case (b, (k, v)) => b.config(k, v)
    }

  /** The settings [[builder]] applies, in order. */
  def settings(shufflePartitions: Int): Seq[(String, String)] = {
    val always = Seq(
      "spark.sql.extensions" -> "graft.GraftExtensions",
      "spark.sql.session.timeZone" -> "UTC",
      // the generated-class cache defaults to 100 entries; a session
      // running the full 143-query suite compiles far more codegen
      // units than that, so every pass would silently recompile every
      // plan (Janino time billed to whichever query runs next — the
      // residual drift SCALING.md chased in round 5). Sized for the
      // whole suite to stay resident.
      "spark.sql.codegen.cache.maxEntries" -> "4096",
      "spark.sql.streaming.checkpointFileManagerClass" ->
        classOf[graft.streaming.LocalCheckpointFileManager].getName)
    if (shufflePartitions <= 0) always
    else always ++ Seq(
      "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
      // AQE coalesces partitions down but NEVER splits them up, so
      // the INITIAL shuffle partition count is the ceiling on
      // post-shuffle parallelism-per-byte — and a count sized to
      // cores alone stops fitting in the execution pool once the
      // data outgrows it (measured at generated sf100: a 600 M-row
      // sort-merge join on 32 partitions = ~19 M rows per in-task
      // sort × 32 concurrent tasks exhausted a 100 GiB heap's
      // execution pool — UnsafeExternalSorter could not acquire its
      // next page with every neighbor holding theirs). Shuffles
      // therefore START wide (32× the configured floor, never below
      // the floor itself if someone configures a floor above 8192)
      // and AQE coalesces down, so at small scale the runtime plan
      // is ~cores-sized and at large scale each reducer sort stays
      // bounded. The floor itself remains
      // `spark.sql.shuffle.partitions` for the few non-AQE
      // surfaces (RDD-level zipWithIndex fallbacks, streaming
      // state stores) where a 32×-wide shuffle would be pure
      // overhead per micro-batch.
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" ->
        math.max(shufflePartitions, math.min(shufflePartitions * 32, 8192)).toString,
      // Spark writes a shuffle of at most this many reduce partitions
      // (default 200) with BypassMergeSortShuffleWriter: one temp
      // file, file buffer and compression stream per reduce partition
      // in every map task, then a copy of them all into one file.
      // Coalescing cannot undo that map side, so a wide start of ≤ 200
      // (every host of ≤ 6 cores) paid it on every exchange — at
      // local[4] the lineitem map stage of q25 took 136 ms per task
      // to write 34 KB, 64 ms with the sort writer.
      // Capping the threshold at the floor keeps the bypass writer
      // for floor-wide shuffles (the streaming state shuffle, the
      // non-AQE surfaces above) and sends the wide starts through
      // the serialized sort writer: one file per map task, pages the
      // memory manager accounts for, spilling under pressure.
      "spark.shuffle.sort.bypassMergeThreshold" ->
        math.min(shufflePartitions, 200).toString,
      // The wide start is only safe because coalescing reaches EVERY
      // shuffle, including those inside persisted subtrees: by
      // default Spark pins a cached plan's output partitioning so
      // the cache stays reusable by partitioning-aware consumers,
      // which disables AQE partition coalescing across the whole
      // cached plan — every shuffle under a .persist() then runs at
      // the full initial width. That was the round-8 regression
      // (dd_containment_lsh/auto, dd_jaccard_lsh 2–4× at sf0.1:
      // their banded/prefix candidate subtrees are persisted, so
      // their shuffles ran 1024-wide on kilobytes; causally isolated
      // by a three-arm A/B — initial=1024 alone 4.5/4.7/2.5 s, with
      // this conf 1.2/1.3/1.0 s, matching the initial=32 arm; SCALING.md
      // "Round 9: cached-plan pinning vs AQE coalescing"). graft
      // never relies on a cached frame's physical partitioning (all
      // consumers re-shuffle on their own keys), so the trade is
      // pure win: cached subtrees get the same start-wide,
      // coalesce-to-size shape as everything else at sf100, and
      // small inputs coalesce back to ~cores.
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true")
  }

  /** Single-JVM session: `local[cpus]` with shuffle partitions = cpus
    * and the UI off — the shape every graft main and the benchmark run.
    * The ScalaTest specs build a `local[4]` session on `builder()`
    * instead (`TestSpark`), with 4 shuffle partitions.
    */
  def local(cpus: Int): SparkSession = {
    val session = builder(cpus)
      .master(s"local[$cpus]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    session.sparkContext.setLogLevel("WARN")
    session
  }
}
