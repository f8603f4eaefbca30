package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** Co-located join via bucketing: both sides pre-bucketed on the join
  * key ⇒ the join plan contains no shuffle exchange at all.
  */
class BucketingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Write `df` as a bucketed, sorted datasource table; both join
    * sides must agree on the bucket count.
    */
  private def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      nBuckets: Int): Unit =
    df.write
      .mode("overwrite")
      .bucketBy(nBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)

  test("bucketed fact tables join without any shuffle exchange") {
    val t = Tables(spark, TestSpark.sfDir)
    writeBucketed(t.lineitem, "lineitem_b", "l_orderkey", 4)
    writeBucketed(t.orders, "orders_b", "o_orderkey", 4)

    // force a sort-merge join so the exchange question is real; the
    // join-only plan must contain zero shuffle exchanges (the later
    // groupBy on a non-bucket key legitimately shuffles once)
    val joinOnly = spark.table("lineitem_b").hint("merge")
      .join(spark.table("orders_b").hint("merge"),
        col("l_orderkey") === col("o_orderkey"))
    val plan = joinOnly.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"expected shuffle-free bucketed join, got:\n$plan")
    assert(plan.contains("SortMergeJoin"))

    val joined = joinOnly
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"))

    // and it computes the same result as the plain parquet join
    val expected = t.lineitem.join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val got = joined.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == expected)
  }

  test("user-bucketed event store runs sessionization without a shuffle") {
    val t = Tables(spark, TestSpark.sfDir)
    writeBucketed(t.events, "events_b", "user_id", 4)
    val sessions = graft.operators.EventOps.sessionGap(
      spark.table("events_b"))
    // the user-keyed window AND the (user, session) groupBy both ride
    // the bucket partitioning — the only exchange left is the final
    // presentation orderBy (rangepartitioning), never a hash shuffle
    val plan = sessions.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"expected shuffle-free bucketed sessionization, got:\n$plan")
    val expected = graft.operators.EventOps.sessionGap(t.events)
      .collect().map(_.toSeq).toSeq
    assert(sessions.collect().map(_.toSeq).toSeq == expected)
  }

  test("custom as-of join over the user-bucketed store is exchange-free") {
    import graft.operators.{EventOps, Temporal}
    val t = Tables(spark, TestSpark.sfDir)
    writeBucketed(t.events, "events_asof_b", "user_id", 4)
    val e = EventOps.withTsUs(spark.table("events_asof_b"))
    val views = e.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts_us").as("v_us"))
      .agg(max(col("event_id")).as("v_event_id"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us").as("p_us"))
    val out = Temporal.asofBackwardExec(purchases, "p_us", views, "v_us",
      "user_id", Seq("v_event_id"))
    // both children ride the bucket partitioning: the view dedup agg,
    // the purchase filter, AND the as-of itself — zero hash exchanges
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("AsofJoin"))
    assert(!plan.contains("Exchange hashpartitioning"),
      s"expected exchange-free bucketed as-of join, got:\n$plan")
    assert(out.count() > 0)
  }
}
