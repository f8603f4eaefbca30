package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one owner of operator caches. An operator that reads an
  * intermediate from several plan subtrees (signature tables, exploded
  * n-gram frames, pair intermediates) builds inside [[materialized]]
  * and persists that intermediate through the [[Held]] it is given;
  * `materialized` checkpoints the result eagerly and then unpersists
  * every held frame in one `finally` — after the checkpoint, or on any
  * throw, including one from a construction-time probe while the
  * builder is still running. No cached state outlives the operator
  * call, and no operator writes its own release path.
  */
private[graft] object Caching {

  /** The frames one operator build persists. `held(df)` persists `df`,
    * records it and returns it; [[release]] unpersists every recorded
    * frame. A `Held` is also a plain `DataFrame => DataFrame`, so a
    * plan builder can take `identity` instead where it should cache
    * nothing (the small-input side of [[SmallDocCorpusRows]]).
    */
  final class Held private[graft] () extends (DataFrame => DataFrame) {
    private val held = ArrayBuffer.empty[DataFrame]

    def apply(df: DataFrame): DataFrame = {
      held += df.persist()
      df
    }

    /** Unpersists every held frame without waiting for its blocks. */
    def release(): Unit = held.foreach(_.unpersist(blocking = false))
  }

  /** Builds a result through a fresh [[Held]], eagerly materializes it
    * (checkpointing truncates lineage, so the returned frame no longer
    * references the held frames), then releases the held frames —
    * also when the builder or the materializing job throws. Keeps the
    * multi-subtree operators leak-free in long-lived sessions.
    *
    * Durability is config-gated: when a reliable checkpoint dir is
    * configured (`SparkContext.setCheckpointDir` / the
    * `spark.checkpoint.dir` conf), the result goes through
    * `checkpoint()` — blocks live on shared storage and survive
    * executor loss, the right choice on a real cluster. Otherwise it
    * falls back to `localCheckpoint()`: blocks pinned in executor
    * storage only, so an executor loss fails the job instead of
    * recomputing — the right (cheaper) trade for single-node runs.
    */
  def materialized(build: Held => DataFrame): DataFrame = {
    val held = new Held
    try materialize(build(held))
    finally held.release()
  }

  /** Frees every cached frame and persistent RDD of the session — the
    * between-query block release of the `Bench` and `Verify` mains:
    * operator results are checkpointed frames whose blocks the
    * ContextCleaner frees only once the frame is GC'd, so a long query
    * loop releases them explicitly. Unpersisting a consumed
    * localCheckpoint is exactly the intent, so Spark's per-RDD
    * "cannot be recomputed after unpersisting" WARN is silenced.
    */
  def releaseAll(spark: SparkSession): Unit = {
    quietCheckpointUnpersist
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  private lazy val quietCheckpointUnpersist: Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD", org.apache.logging.log4j.Level.ERROR)

  /** The shared small-input floor (round 8): several operators buy
    * their at-scale shuffle shape with a flat probe/persist/checkpoint
    * epilogue worth ~0.4–0.7 s regardless of input size — the right
    * trade from sf1 up (bought back ≥5× there), pure overhead on the
    * driver-scale corpora below it. Operators gate that machinery on
    * [[smallInput]] and take the direct un-cached plan below the
    * floor, where recomputing a cheap lineage outright is faster than
    * materializing it. Results are identical on both sides of the
    * floor by construction (same oracle).
    */
  val SmallDocCorpusRows = 100000L

  /** True when `df` holds at most `floor` rows, decided by a bounded
    * limit probe: LocalLimit early-stops each partition at floor + 1
    * rows, so the probe never becomes a full count of a large input
    * (the `embedLshParams` metadata-count precedent, generalized to
    * computed lineages where count() would run the whole plan).
    */
  def smallInput(df: DataFrame, floor: Long = SmallDocCorpusRows): Boolean =
    df.limit(floor.toInt + 1).count() <= floor

  /** Eager checkpoint alone — for operators that materialize a SMALL
    * intermediate (a signature table) so several plan subtrees can
    * read it without recomputing the front-end, WITHOUT a
    * persist()/unpersist() lifecycle to manage: unlike persist, a
    * checkpointed frame registers nothing in the CacheManager — its
    * blocks are freed by the ContextCleaner once the caller drops the
    * frame. Same durability gate as [[materialized]].
    */
  def materialize(result: DataFrame): DataFrame = {
    val sc = result.sparkSession.sparkContext
    if (sc.getCheckpointDir.isEmpty) // honor the conf even if nobody called setCheckpointDir
      sc.getConf.getOption("spark.checkpoint.dir").foreach(sc.setCheckpointDir)
    if (sc.getCheckpointDir.isDefined) result.checkpoint()
    else result.localCheckpoint()
  }
}
