package graft

import org.scalatest.funsuite.AnyFunSuite

/** Loader-contract tests for the parquet table readers: the ns→µs
  * normalization semantics the round-5 ADVICE items pinned down, and
  * the per-session schema memo — a repeated read of an unchanged table
  * starts no Spark job, and a changed table is never read with a stale
  * schema.
  */
class TablesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("events loader floors ns→µs like DuckDB, including pre-epoch timestamps") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tables").toString
    // nanos-as-long physical shape, with pre-epoch values where
    // truncate-toward-zero and floor DISAGREE: -1500 ns is -2 µs under
    // DuckDB's flooring `//`, -1 µs under `div`
    Seq(
      (1L, -1L), // -1 ns → floor = -1 µs
      (2L, -1500L), // → -2 µs (truncation would say -1)
      (3L, -1000L), // exact boundary → -1 µs
      (4L, 1500L), // post-epoch: → 1 µs either way
      (5L, 0L))
      .toDF("event_id", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = sources.Tables(spark, dir).events
      .select($"event_id", org.apache.spark.sql.functions.unix_micros($"ts"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> -1L, 2L -> -2L, 3L -> -1L, 4L -> 1L, 5L -> 0L))
  }

  test("events loader fails fast on an unexpected physical type for ts") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tables").toString
    Seq((1L, "not-a-timestamp")).toDF("event_id", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val e = intercept[IllegalArgumentException](sources.Tables(spark, dir).events)
    assert(e.getMessage.contains("generator drift"))
  }

  private def tempDir(): String =
    java.nio.file.Files.createTempDirectory("graft_tables").toString

  test("a second read of an unchanged table starts no Spark job") {
    import spark.implicits._
    val dir = tempDir()
    Seq((1L, 10L), (2L, 20L)).toDF("l_orderkey", "l_quantity")
      .write.parquet(s"$dir/lineitem.parquet")
    Seq((1L, 1500L), (2L, -1500L)).toDF("event_id", "ts")
      .write.parquet(s"$dir/events.parquet")
    val (first, firstJobs) = TestSpark.jobsDuring(sources.Tables(spark, dir).lineitem)
    assert(firstJobs.nonEmpty, "the first read infers the schema with a Spark job")
    val (second, secondJobs) = TestSpark.jobsDuring(sources.Tables(spark, dir).lineitem)
    assert(secondJobs.isEmpty, s"a memo hit must start no job; got:\n${secondJobs.mkString("\n--\n")}")
    assert(second.schema == first.schema)
    assert(second.collect().toSet == first.collect().toSet)

    val e1 = sources.Tables(spark, dir).events
    val (e2, eventJobs) = TestSpark.jobsDuring(sources.Tables(spark, dir).events)
    assert(eventJobs.isEmpty, s"a memo hit must start no job; got:\n${eventJobs.mkString("\n--\n")}")
    assert(e2.schema == e1.schema)
    assert(e2.collect().toSet == e1.collect().toSet)
  }

  test("overwriting a table with a different schema is seen by the next read") {
    import spark.implicits._
    val dir = tempDir()
    Seq((1L, 2L)).toDF("a", "b").write.parquet(s"$dir/part.parquet")
    assert(sources.Tables(spark, dir).part.schema.map(_.dataType.typeName) == Seq("long", "long"))
    Seq(("x", 3, true)).toDF("a", "b", "c")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    val df = sources.Tables(spark, dir).part
    assert(df.schema.map(f => f.name -> f.dataType.typeName) ==
      Seq("a" -> "string", "b" -> "integer", "c" -> "boolean"))
    assert(df.collect().map(r => (r.getString(0), r.getInt(1), r.getBoolean(2))).toSeq ==
      Seq(("x", 3, true)))
  }

  test("a file added under a partition subdirectory misses the memo") {
    import spark.implicits._
    val path = s"${tempDir()}/lists"
    Seq((1L, 0), (2L, 1)).toDF("vec_id", "cluster_id")
      .write.partitionBy("cluster_id").parquet(path)
    sources.Tables.parquet(spark, path)
    val (_, hitJobs) = TestSpark.jobsDuring(sources.Tables.parquet(spark, path))
    assert(hitJobs.isEmpty)
    Seq(3L).toDF("vec_id").write.mode("append").parquet(s"$path/cluster_id=1")
    val (df, missJobs) = TestSpark.jobsDuring(sources.Tables.parquet(spark, path))
    assert(missJobs.nonEmpty, "a new file in a partition directory must re-infer the schema")
    assert(df.collect().map(r => r.getLong(0) -> r.getInt(1)).toSet ==
      Set(1L -> 0, 2L -> 1, 3L -> 1))
  }

  test("flipping a conf that changes inference misses the memo") {
    // this events.ts is TIMESTAMP(MICROS) with isAdjustedToUTC=false:
    // it infers as TIMESTAMP_NTZ by default, as TIMESTAMP with NTZ
    // inference off
    val path = s"${tempDir()}/events.parquet"
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"${TestSpark.sfDir}/events.parquet"),
      java.nio.file.Paths.get(path))
    def tsType = sources.Tables.parquet(spark, path).schema("ts").dataType.typeName
    assert(tsType == "timestamp_ntz")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    try assert(tsType == "timestamp")
    finally spark.conf.unset("spark.sql.parquet.inferTimestampNTZ.enabled")
    assert(tsType == "timestamp_ntz")
  }

  test("a memo hit on a malformed events.ts still fails fast") {
    import spark.implicits._
    val dir = tempDir()
    Seq((1L, "not-a-timestamp")).toDF("event_id", "ts")
      .write.parquet(s"$dir/events.parquet")
    intercept[IllegalArgumentException](sources.Tables(spark, dir).events)
    val (e, jobs) = TestSpark.jobsDuring(
      intercept[IllegalArgumentException](sources.Tables(spark, dir).events))
    assert(jobs.isEmpty, "the second read is a memo hit")
    assert(e.getMessage.contains("generator drift"))
  }
}
