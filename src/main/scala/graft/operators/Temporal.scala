package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal join operators: generic backward as-of join and
  * key-bounded range (interval) join. The reference's
  * request/response correlation (`messages/base.py:593` — a response
  * points at the latest matching request) is exactly a backward as-of
  * match; these generalize it into reusable library operators.
  *
  * Scale design (100 TB): the as-of join is the union-of-sorted-sides
  * formulation — ONE shuffle on the join key, then a running
  * last-non-null inside each key partition; no per-row probe, no
  * broadcast, no n×m blowup, skew-safe for any one key's volume that
  * fits a partition's sort. The range join keeps the equi-key in the
  * join condition so Spark plans a hash/sort-merge join on the key and
  * evaluates only the range predicate inside each key group.
  */
object Temporal {

  /** Backward as-of join: for every left row, the single most recent
    * right row (same `key`, right ts ≤ left ts). Right rows must be
    * unique per (key, ts) — pre-aggregate ties away, or matches are
    * nondeterministic.
    *
    * Implementation: tag + union both sides, one window per key
    * ordered by (ts, side) — right sorts before left on equal ts so
    * `≤` semantics hold — and carry the last non-null right payload
    * forward. Returns every left column plus `asof` (struct of
    * `carry` columns from the matched right row, null when no match).
    */
  def asofBackwardDeclarative(left: DataFrame, leftTs: String,
      right: DataFrame, rightTs: String,
      key: String, carry: Seq[String]): DataFrame = {
    val rowType = org.apache.spark.sql.types.StructType(left.schema.fields)
    val carryType = org.apache.spark.sql.types.StructType(
      right.select(carry.map(col): _*).schema.fields)
    val lU = left.select(
      col(key).as("__k"), col(leftTs).as("__t"), lit(1).as("__side"),
      struct(left.columns.map(col): _*).as("__row"),
      lit(null).cast(carryType).as("__carry"))
    val rU = right.select(
        col(key).as("__k"), col(rightTs).as("__t"), lit(0).as("__side"),
        lit(null).cast(rowType).as("__row"),
        struct(carry.map(col): _*).as("__carry"))
      // null key/ts right rows never match (same contract as
      // AsofJoinExec); without this they'd sort first and leak their
      // payload into last(ignoreNulls)
      .filter(col("__k").isNotNull && col("__t").isNotNull)
    val w = Window.partitionBy(col("__k"))
      .orderBy(col("__t"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lU.unionByName(rU)
      .withColumn("__m", last(col("__carry"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(Seq(col("__row.*"), col("__m").as("asof")): _*)
  }

  /** Backward as-of join on the custom [[graft.plans.AsofJoinExec]]
    * operator — same semantics as [[asofBackwardDeclarative]], but as a
    * first-class Catalyst plan: one exchange per side (none over a
    * store already partitioned on the key), per-partition streaming
    * merge holding a single buffered right row. Right rows must be
    * unique per (key, ts). Returns every left column plus the aliased
    * carry columns (null on no match).
    *
    * Self-registers the planner strategy through
    * `spark.experimental.extraStrategies`, so it works in sessions
    * without `spark.sql.extensions=graft.GraftExtensions` too.
    */
  def asofBackwardExec(left: DataFrame, leftTs: String,
      right: DataFrame, rightTs: String,
      key: String, carry: Seq[String]): DataFrame = {
    import org.apache.spark.sql.graftinternal.ColumnBridge
    val spark = left.sparkSession
    if (!spark.experimental.extraStrategies.contains(graft.plans.GraftStrategies))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.GraftStrategies
    if (!spark.experimental.extraOptimizations
        .contains(graft.plans.PushFilterThroughAsofJoin))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.PushFilterThroughAsofJoin
    require(carry.forall(c => !left.columns.contains(c)),
      "carry column names must not collide with left columns")
    // project-with-alias gives the right side fresh exprIds, so both
    // sides may derive from the same scan (self-as-of) without
    // attribute ambiguity
    val rSel = right.select(
      col(key).as("__asof_k") +: col(rightTs).as("__asof_t") +:
        carry.map(c => col(c).as(c)): _*)
    val lPlan = ColumnBridge.analyzed(left)
    val rPlan = ColumnBridge.analyzed(rSel)
    def attr(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
        n: String) = p.output.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"column $n not found"))
    val node = graft.plans.AsofJoin(lPlan, rPlan,
      attr(lPlan, key), attr(rPlan, "__asof_k"),
      attr(lPlan, leftTs), attr(rPlan, "__asof_t"))
    ColumnBridge.ofRows(spark, node).drop("__asof_k", "__asof_t")
  }

  /** Range (interval) join, aggregated: for every left row, aggregate
    * the right rows of the same `key` whose ts falls in
    * [left ts − lookback, left ts). Returns left ids + count and
    * min/max matched right ts. Inner semantics — left rows with no
    * right row in range drop out.
    */
  def rangeJoinAgg(left: DataFrame, leftId: String, leftTs: String,
      right: DataFrame, rightTs: String,
      key: String, lookbackUs: Long): DataFrame = {
    // rename the right side up front: left and right often derive from
    // the same scan (events vs events), and df(col) disambiguation of
    // a self-join is fragile — distinct names make the equi-key
    // unambiguous by construction
    val r = right.select(col(key).as("__rk"), col(rightTs).as("__rt"))
    left.join(r,
        col(key) === col("__rk") &&
          col("__rt") >= col(leftTs) - lookbackUs &&
          col("__rt") < col(leftTs))
      .groupBy(col(leftId), col(key), col(leftTs))
      .agg(count(lit(1)).as("n_matched"),
        min(col("__rt")).as("first_match_us"),
        max(col("__rt")).as("last_match_us"))
  }
}
