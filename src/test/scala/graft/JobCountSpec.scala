package graft

import org.scalatest.funsuite.AnyFunSuite

/** Job-count pins for query construction, beside `PlanPinSpec`'s plan
  * pins. Spark's parquet schema inference submits one small job per
  * `spark.read.parquet`; `Tables` remembers each table's schema per
  * session so a warm session skips it. A loader change that brought the
  * per-read job back would keep every result green and only cost time,
  * so the job itself is pinned here.
  */
class JobCountSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** A job submitted from inside `DataFrameReader.parquet`, the first
    * frame of its call-site details. For a single table path, whose
    * file listing stays on the driver, that job is schema inference.
    */
  private def isSchemaInference(details: String): Boolean =
    details.linesIterator.nextOption().exists(_.contains("DataFrameReader.parquet"))

  test("a warm session builds the batch_small queries without a schema-inference job") {
    import spark.implicits._
    // the detector sees the inference job of a cold read
    val path = java.nio.file.Files.createTempDirectory("graft_jobs").resolve("t").toString
    Seq(1L, 2L).toDF("id").write.parquet(path)
    val (_, cold) = TestSpark.jobsDuring(sources.Tables.parquet(spark, path))
    assert(cold.exists(isSchemaInference),
      s"a cold read must show its inference job; got:\n${cold.mkString("\n--\n")}")

    for (q <- Seq("q25_supplier_flow", "ev_session_gap", "dd_containment_strat_budget")) {
      SparkEntry.queries(q)(spark, TestSpark.sfDir) // warms the session
      val (_, jobs) = TestSpark.jobsDuring(SparkEntry.queries(q)(spark, TestSpark.sfDir))
      val inference = jobs.filter(isSchemaInference)
      assert(inference.isEmpty,
        s"$q re-inferred a table schema on a warm session:\n${inference.mkString("\n--\n")}")
    }
  }

  test("a warm session builds dd_containment_strat_budget in at most 10 jobs") {
    // the stratified containment path's construction-time probes are
    // one grouped query over the held per-doc table, its oversize
    // decision comes from that query's max(s), and each pair side is
    // one (hs, s) lookup. Before that shape the same build launched 17
    // jobs (separate class-histogram, occurrence/vocabulary and max(s)
    // queries, and four per-side lookups); a reintroduced probe or
    // lookup job fails here, though every result would stay correct
    val q = "dd_containment_strat_budget"
    SparkEntry.queries(q)(spark, TestSpark.sfDir) // warms the session
    val (_, jobs) = TestSpark.jobsDuring(SparkEntry.queries(q)(spark, TestSpark.sfDir))
    assert(jobs.size <= 10, s"$q launched ${jobs.size} jobs:\n${jobs.mkString("\n--\n")}")
  }
}
