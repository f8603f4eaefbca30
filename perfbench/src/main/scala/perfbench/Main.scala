package perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** The benchmark's JVM side, driven by `perfbench/run.py`. Arguments are
  * a mode followed by `key=value` pairs:
  *
  *  - `gen dir=D sf=X tables=t,u,..`: generates those GenData tables at
  *    scale X into D.
  *  - `batch data=D tables=t,u,.. queries=a,b,.. warm=W min_passes=P seed=N trace=0|1 out=F work=W setups=K`
  *  - `stream seed=N seconds=S trace=0|1 out=F work=W setups=K rate=.. time_factor=..
  *    redeliver=.. late=.. users=.. warm=.. fixed_share=.. tick_ms=.. trigger_ms=.. backlog=..`
  *  - `fingerprint-selftest`: checks that a result's fingerprint
  *    does not depend on its partitioning.
  *
  * `batch` and `stream` write their raw records, one JSON object a
  * line, to F; `run.py` turns them into metrics.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val kv = args.drop(1).map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    args(0) match {
      case "gen"    => gen(kv("dir"), kv("sf").toDouble, kv("tables").split(',').toSet)
      case "batch"  => measure(kv, isStream = false)
      case "stream" => measure(kv, isStream = true)
      case "fingerprint-selftest" => fingerprintSelftest()
    }
  }

  private def cpus: Int = sys.env.getOrElse("PERFBENCH_CPUS", "4").toInt

  private def stopSession(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** GenData reads the two fixed TPC-H dimensions from a source
    * directory; they are written here first, then the tables are
    * generated.
    */
  private def gen(dir: String, sf: Double, tables: Set[String]): Unit = {
    val spark = GraftSession.local(cpus)
    import spark.implicits._
    val dims = s"$dir/_dims"
    Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"), (4, "MIDDLE EAST"))
      .toDF("r_regionkey", "r_name").write.mode("overwrite").parquet(s"$dims/region.parquet")
    (0 until 25).map(i => (i, s"NATION_$i", i % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey").write.mode("overwrite").parquet(s"$dims/nation.parquet")
    graft.GenData.generate(spark, dims, dir, sf, tables)
    stopSession(spark)
  }

  /** Set-up, repeated `setups` times: session start, input registration
    * and one first operation. The first repeat also counts the JVM's
    * own start; every repeat but the last stops its session again.
    */
  private def measure(kv: Map[String, String], isStream: Boolean): Unit = {
    val rec = new Recorder
    val trace = kv("trace") == "1"
    val work = kv("work")
    val setups = kv("setups").toInt
    var spark: SparkSession = null
    for (i <- 0 until setups) {
      val jvm = if (i == 0) ManagementFactory.getRuntimeMXBean.getUptime.toDouble else 0.0
      val t0 = Clock.ms
      spark = GraftSession.local(cpus)
      val t1 = Clock.ms
      if (isStream) {
        val p = Stream.start(spark, s"$work/setup-ckpt-$i", kv("trigger_ms").toInt,
          (df, _) => { df.collect(); () })
        p.query.stop()
      } else {
        kv("tables").split(',').foreach(t => spark.read.parquet(s"${kv("data")}/$t.parquet").schema)
      }
      val t2 = Clock.ms
      spark.range(0, 100000, 1, cpus).selectExpr("sum(id)").collect()
      val t3 = Clock.ms
      rec.add("k" -> "setup", "i" -> i, "jvm_ms" -> jvm, "session_ms" -> (t1 - t0),
        "inputs_ms" -> (t2 - t1), "first_op_ms" -> (t3 - t2), "total_ms" -> (jvm + t3 - t0))
      if (i < setups - 1) stopSession(spark)
    }
    // unpersisting consumed localCheckpoints is intended; Spark warns on each
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD", org.apache.logging.log4j.Level.ERROR)
    if (trace && !isStream) Trace.attach(spark, rec) // the stream attaches its own
    val seed = kv("seed").toLong
    val t0 = Clock.ms
    if (isStream) {
      spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
      Stream.run(spark, s"$work/ckpt", seed, kv("seconds").toDouble, StreamParams(
        rate = kv("rate").toInt, timeFactor = kv("time_factor").toDouble,
        redeliverShare = kv("redeliver").toDouble, lateShare = kv("late").toDouble,
        users = kv("users").toInt, warmSeconds = kv("warm").toDouble,
        fixedShare = kv("fixed_share").toDouble,
        tickMs = kv("tick_ms").toInt, triggerMs = kv("trigger_ms").toInt, backlog = kv("backlog").toInt), rec, trace)
    } else
      Batch.run(spark, kv("data"), kv("queries").split(',').toSeq, seed,
        kv("warm").toInt, kv("seconds").toDouble, kv("min_passes").toInt, trace, rec)
    if (trace) Trace.drain(spark)
    rec.add("k" -> "end", "run_ms" -> (Clock.ms - t0), "cores" -> cpus)
    rec.write(kv("out"))
    stopSession(spark)
  }

  private def fingerprintSelftest(): Unit = {
    val spark = GraftSession.local(cpus)
    import org.apache.spark.sql.functions._
    val df = spark.range(0, 20000).select(
      col("id"), (col("id") % 7).as("k"), (rand(1) * 1e6).as("d"),
      array((col("id") / 3.0).cast("float"), lit(0.1)).as("arr"),
      struct((col("id") * 0.7).as("x"), lit("s").as("y")).as("st"),
      map(lit("a"), col("id")).as("m"),
      concat(lit("t"), col("id")).as("s"))
    def agg(p: Int) = df.repartition(p).groupBy("k").agg(sum("d").as("sd"), count(lit(1)).as("n"))
    val byPartitions = Seq(1, 3, 8).map(p =>
      (Fingerprint.of(df.repartition(p)), Fingerprint.of(agg(p))))
    val sorted = Fingerprint.of(df.repartition(5).orderBy(col("d").desc))
    val changed = Fingerprint.of(df.withColumn("d", when(col("id") === 5, lit(-1.0)).otherwise(col("d"))))
    val invariant = byPartitions.distinct.size == 1 && sorted == byPartitions.head._1
    val detects = changed != byPartitions.head._1
    println(Json.obj("partition_invariant" -> invariant, "detects_change" -> detects,
      "ok" -> (invariant && detects)))
    stopSession(spark)
  }
}
