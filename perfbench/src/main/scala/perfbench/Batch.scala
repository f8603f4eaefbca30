package perfbench

import org.apache.spark.sql.SparkSession

/** The batch workloads: a fixed set of `SparkEntry.queries`, run by a
  * single client one after another (a closed loop).
  *
  * A verification pass runs first. It builds each query once,
  * fingerprints its result (see [[Fingerprint]]) and doubles as the
  * JIT and codegen warm-up; `warm` untimed passes finish the warm-up.
  * Timed passes follow, each in an order shuffled by the seed, until
  * `seconds` have passed since the first began (at least `minPasses`),
  * so every query has the same number of samples. Each timed
  * operation is `build` (the `SparkEntry` call: DataFrame algebra plus
  * any eager probes, checkpoints and model fits) followed by `sink`
  * (`write.format("noop").save()`, which plans and runs the whole
  * query).
  *
  * Between operations, outside any timed region, every cached or
  * checkpointed block is released so each query starts on an empty
  * block store, and a full GC runs at each pass boundary.
  *
  * When tracing, passes run untraced, traced, traced, untraced (and
  * so on), so a warm-up trend does not favour either kind. Per-layer
  * numbers come from the traced passes, and the two kinds of pass
  * together give the tracing overhead.
  */
object Batch {
  def run(spark: SparkSession, dir: String, queries: Seq[String], seed: Long,
      warm: Int, seconds: Double, minPasses: Int, trace: Boolean, rec: Recorder): Unit = {
    val fns = graft.SparkEntry.queries
    val unknown = queries.filterNot(fns.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val sc = spark.sparkContext
    val rng = new scala.util.Random(seed)

    def release(): Unit = {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }

    for (q <- rng.shuffle(queries)) {
      sc.setLocalProperty(OpTag.Key, s"v:$q")
      val t0 = Clock.ms
      try {
        val fp = Fingerprint.of(fns(q)(spark, dir))
        rec.add((Seq("k" -> "verify", "q" -> q, "ms" -> (Clock.ms - t0)) ++ fp.fields): _*)
      } catch { case e: Throwable =>
        rec.add("k" -> "verify", "q" -> q, "ms" -> (Clock.ms - t0), "error" -> String.valueOf(e.getMessage).take(500))
      }
      release()
    }
    System.gc()

    var timedFrom = 0.0
    var pass = -warm
    while (pass < minPasses || Clock.ms - timedFrom < seconds * 1000) {
      if (pass == 0) timedFrom = Clock.ms
      val traced = trace && (pass % 4 == 1 || pass % 4 == 2)
      for (q <- rng.shuffle(queries)) {
        val tag = (if (traced) OpTag.Traced else "u:") + s"$q#$pass"
        sc.setLocalProperty(OpTag.Key, tag)
        val t0 = Clock.ms
        var tb = t0
        val err =
          try {
            val df = fns(q)(spark, dir)
            tb = Clock.ms
            df.write.format("noop").mode("overwrite").save()
            None
          } catch { case e: Throwable => Some(String.valueOf(e.getMessage).take(500)) }
        val t1 = Clock.ms
        val checkpoints =
          if (traced) sc.getRDDStorageInfo.toSeq.map(i => i.memSize + i.diskSize) else Nil
        if (pass >= 0) rec.add("k" -> "op", "q" -> q, "op" -> tag, "pass" -> pass, "traced" -> traced,
          "t0" -> t0, "tb" -> tb, "t1" -> t1, "error" -> err.orNull,
          "checkpoints" -> checkpoints.size, "checkpoint_bytes" -> checkpoints.sum)
        release()
      }
      System.gc()
      pass += 1
    }
    sc.setLocalProperty(OpTag.Key, null)
  }
}
