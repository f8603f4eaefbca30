package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational / OLAP operator suite (SURVEY.md §2.2).
  *
  * Oracle-parity rules (SURVEY.md §5): money aggregates go through
  * exact DECIMAL sums (associative ⇒ shuffle-order independent) and
  * are cast to DOUBLE at the very end; every query ends in a full
  * deterministic ORDER BY; rank-style ints are cast to LONG to match
  * DuckDB's BIGINT window results. Plans stay fully declarative so
  * Catalyst pushes filters/projections into the parquet scan and
  * picks broadcast joins for the dims.
  *
  * Scale notes (100 TB): every aggregation keys on a natural
  * high-cardinality column (map-side partial agg does the heavy
  * lifting); dimension joins (`nation`, `region`, per-group scalar
  * aggregates) are explicitly `broadcast()`; the only wide shuffles
  * are the unavoidable fact-fact joins on their join keys, which AQE
  * re-plans at runtime (skew-join splitting + coalescing).
  */
object Relational {

  /** Exact 2-decimal view of a money/quantity double: decimal sums are
    * exact and associative, so aggregation order (shuffle layout) can't
    * change the result — required for hash-stable oracle comparison.
    */
  private def dec2(c: Column): Column = graft.functions.Parity.dec2(c)

  private def revenue: Column =
    dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount")))

  /** TPC-H Q1 shape: pricing summary. One shuffle on the (tiny) group
    * key; map-side partial aggregation does nearly all the work, so
    * this scales linearly with input at 100 TB.
    */
  def q1PricingSummary(lineitem: DataFrame): DataFrame =
    lineitem
      .filter(col("l_shipdate") <= lit("1998-09-01 00:00:00").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec2(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(dec2(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        sum(revenue).cast("double").as("sum_disc_price"),
        (sum(dec2(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
        count(lit(1)).as("count_order")
      )
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** TPC-H Q5 shape: revenue per nation in one region. lineitem⋈orders
    * shuffles on orderkey, orders⋈customer on custkey; nation/region
    * are broadcast so the fact side never reshuffles for them.
    */
  def q2RevenuePerNation(lineitem: DataFrame, orders: DataFrame,
                         customer: DataFrame, nation: DataFrame,
                         region: DataFrame): DataFrame =
    lineitem
      .join(orders.filter(
        col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") <  lit("1998-01-01").cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region.filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(sum(revenue).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))

  /** TPC-H Q7 shape: bilateral trade flows — revenue between each
    * supplier nation and customer nation pair. The fact table reaches
    * both nation dims through different keys (l_suppkey → supplier,
    * o_custkey → customer), so lineitem streams through one orderkey
    * join while both fixed-25-row nation copies broadcast. Supplier
    * and customer grow with SF (billions of rows at 100 TB), so their
    * joins carry no hint — AQE picks broadcast at bench scale and
    * flips to shuffled hash when either outgrows the threshold; a
    * forced broadcast hint would never flip and would OOM the
    * executors at the stated scale. Exact decimal revenue.
    */
  def q25SupplierFlow(lineitem: DataFrame, orders: DataFrame,
      customer: DataFrame, supplier: DataFrame, nation: DataFrame): DataFrame =
    lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(supplier, col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation.select(col("n_nationkey").as("sn_key"),
        col("n_name").as("supp_nation"))), col("s_nationkey") === col("sn_key"))
      .join(broadcast(nation.select(col("n_nationkey").as("cn_key"),
        col("n_name").as("cust_nation"))), col("c_nationkey") === col("cn_key"))
      .groupBy(col("supp_nation"), col("cust_nation"))
      .agg(sum(revenue).cast("double").as("revenue"),
        count(lit(1)).as("n"))
      .orderBy(col("supp_nation"), col("cust_nation"))

  /** TPC-H Q3 shape: unshipped-order revenue top-k. The order-by+limit
    * runs as TakeOrderedAndProject — per-partition top-k then a single
    * driver merge of k·partitions rows, no global sort at scale.
    */
  def q3TopUnshipped(lineitem: DataFrame, orders: DataFrame,
                     customer: DataFrame): DataFrame =
    customer.filter(col("c_mktsegment") === "BUILDING")
      .join(orders.filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
        col("c_custkey") === col("o_custkey"))
      .join(lineitem.filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp")),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(sum(revenue).cast("double").as("revenue"))
      .select(col("l_orderkey"), col("revenue"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)

  /** TPC-H Q4 shape: EXISTS → left_semi join (no row duplication, the
    * probe side short-circuits on first match).
    */
  def q4PriorityExists(orders: DataFrame, lineitem: DataFrame): DataFrame =
    orders.filter(
        col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") <  lit("1997-01-01").cast("timestamp"))
      .join(lineitem.filter(col("l_quantity") > 45),
        col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))

  /** NOT EXISTS → left_anti: customers with no open ('O') order. */
  def q5AntiJoin(customer: DataFrame, orders: DataFrame): DataFrame =
    customer
      .join(orders.filter(col("o_orderstatus") === "O"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("c_mktsegment"))

  /** TPC-H Q6 shape: selective scan aggregation — all three predicates
    * reach the parquet reader as PushedFilters; only 4 columns read.
    */
  def q6ForecastRevenue(lineitem: DataFrame): DataFrame =
    lineitem.filter(
        col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") <  lit("1997-01-01").cast("timestamp") &&
        col("l_discount").between(0.05, 0.07) &&
        col("l_quantity") < 24)
      .agg(
        sum(dec2(col("l_extendedprice")) * dec2(col("l_discount")))
          .cast("double").as("revenue"),
        count(lit(1)).as("n"))

  /** Window rank per partition: top-3 customers by balance per segment.
    * One shuffle on the partition key; rank cast to LONG (DuckDB BIGINT).
    */
  def q7WindowRank(customer: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    customer
      .withColumn("rnk", rank().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"), col("rnk"))
      .orderBy(col("c_mktsegment"), col("rnk"), col("c_custkey"))
  }

  /** Running aggregate over an ordered frame, partitioned by customer —
    * scales as one shuffle on o_custkey, frames evaluated streamingly.
    */
  def q8RunningSum(orders: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    orders
      .withColumn("running_spend", sum(dec2(col("o_totalprice"))).over(w).cast("double"))
      .select(col("o_custkey"), col("o_orderkey"), col("running_spend"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** Event-time RANGE-frame window: the 90-day trailing spend
    * average per customer — the frame shape [[q8RunningSum]]'s ROWS
    * frame can't express (peers at the same day share one frame;
    * gaps in the calendar shrink it). Dates become epoch-day longs
    * so the range bound is integer arithmetic, identical in any
    * engine and orderable without timestamp round-trip hazards. One
    * shuffle on the customer key serves both window functions.
    */
  def q26MovingAvg(orders: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("day"))
      .rangeBetween(-90, 0)
    orders
      .withColumn("day",
        datediff(col("o_orderdate"), lit("1970-01-01").cast("date")).cast("long"))
      .withColumn("n_90d", count(lit(1)).over(w))
      .withColumn("avg_90d",
        round(sum(dec2(col("o_totalprice"))).over(w).cast("double")
          / col("n_90d"), 6))
      .select(col("o_custkey"), col("o_orderkey"), col("day"),
        col("n_90d"), col("avg_90d"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** Multi-distinct aggregation: Spark expands to a two-phase
    * (expand + partial) plan; distinct counts stay exact.
    */
  def q9DistinctAgg(lineitem: DataFrame): DataFrame =
    lineitem.groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))

  /** Post-aggregation filter (HAVING). */
  def q10Having(orders: DataFrame): DataFrame =
    orders.groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(dec2(col("o_totalprice"))).cast("double").as("spend"))
      .filter(col("n_orders") >= 12)
      .orderBy(col("o_custkey"))

  /** Conditional aggregation / manual pivot: per-nation segment counts
    * in one pass (no per-segment scans).
    */
  def q11CasePivot(customer: DataFrame, nation: DataFrame): DataFrame = {
    def seg(s: String) =
      sum(when(col("c_mktsegment") === s, 1).otherwise(0)).cast("long")
    customer.join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        seg("BUILDING").as("n_building"),
        seg("MACHINERY").as("n_machinery"),
        seg("AUTOMOBILE").as("n_automobile"),
        count(lit(1)).as("n_total"))
      .orderBy(col("n_name"))
  }

  /** Rollup hierarchy aggregation; grouping nulls coalesced to a
    * sentinel so null-ordering differences can't bite the oracle.
    */
  def q12Rollup(customer: DataFrame, nation: DataFrame,
                region: DataFrame): DataFrame =
    customer
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(sum(dec2(col("c_acctbal"))).cast("double").as("total_bal"),
        count(lit(1)).as("n"))
      .select(
        coalesce(col("r_name"), lit("(all)")).as("region_name"),
        coalesce(col("n_name"), lit("(all)")).as("nation_name"),
        col("total_bal"), col("n"))
      .orderBy(col("region_name"), col("nation_name"))

  /** Union + dedup across branches (hash-distinct on the merged key). */
  def q13Union(customer: DataFrame, orders: DataFrame): DataFrame =
    customer.filter(col("c_acctbal") > 9000)
      .select(col("c_custkey").as("cust_key"))
      .union(orders.filter(col("o_totalprice") > 300000)
        .select(col("o_custkey").as("cust_key")))
      .distinct()
      .orderBy(col("cust_key"))

  /** Scalar subquery (global aggregate vs per-row comparison): the
    * 1-row aggregate is broadcast, the fact side streams past it.
    * Exact-decimal average ⇒ both engines see the same threshold.
    */
  def q14ScalarSubquery(part: DataFrame): DataFrame = {
    val avgPrice = part.agg(
      (sum(dec2(col("p_retailprice"))).cast("double") / count(lit(1)))
        .as("avg_price"))
    part.crossJoin(broadcast(avgPrice))
      .filter(col("p_retailprice") > col("avg_price"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_above"))
      .orderBy(col("p_brand"))
  }

  /** Exact percentiles per group (sort-based). Rounded to 6 dp so the
    * interpolation arithmetic can't drift across engines.
    */
  def q15Percentiles(customer: DataFrame): DataFrame =
    customer.groupBy(col("c_mktsegment"))
      .agg(
        round(expr("percentile(c_acctbal, 0.25)"), 6).as("p25"),
        round(expr("percentile(c_acctbal, 0.5)"), 6).as("p50"),
        round(expr("percentile(c_acctbal, 0.75)"), 6).as("p75"))
      .orderBy(col("c_mktsegment"))

  /** Small-dim cross product with a non-equi predicate → broadcast
    * nested-loop join (both sides tiny; never shuffles the cluster).
    */
  def q16CrossJoin(nation: DataFrame, region: DataFrame): DataFrame =
    nation.crossJoin(broadcast(region))
      .filter(col("n_regionkey") =!= col("r_regionkey"))
      .select(col("n_name"), col("r_name"))
      .orderBy(col("n_name"), col("r_name"))

  /** TPC-H Q17 shape: correlated subquery decorrelated into a join
    * against per-part aggregates. The agg side is tiny relative to the
    * fact table and shares the l_partkey shuffle key.
    * Threshold arithmetic mirrored operation-for-operation in the
    * oracle so float comparisons bit-match.
    */
  def q17CorrSubquery(lineitem: DataFrame): DataFrame = {
    val perPart = lineitem.groupBy(col("l_partkey").as("pk"))
      .agg(sum(dec2(col("l_quantity"))).cast("double").as("sq"),
        count(lit(1)).as("cnt"))
    lineitem.join(perPart, col("l_partkey") === col("pk"))
      .filter(col("l_quantity") * lit(5) * col("cnt") < col("sq"))
      .agg(
        (sum(dec2(col("l_extendedprice"))).cast("double") / 7.0).as("avg_yearly"),
        count(lit(1)).as("n"))
  }

  /** Sketch-based distinct counts (HyperLogLog++): the at-scale
    * variant of [[q9DistinctAgg]] — one pass, mergeable partial
    * sketches, no expand. The sketch estimates themselves are
    * implementation-defined, so the result carries exact companion
    * columns (hash-checked by the oracle) plus in-query tolerance
    * booleans proving the sketches land within 10% of exact; the
    * oracle emits literal TRUE for those. The sketch-only form (no
    * exact companions, no expand) is the documented 100 TB path.
    */
  def q19ApproxDistinct(lineitem: DataFrame): DataFrame = {
    // one distinct column per aggregate branch: a single-distinct agg
    // plans as partial-on-(group, value) → final — map-side combined,
    // no Expand. Two countDistinct in ONE agg would triple the input
    // through an Expand before the shuffle, which is what made the
    // first cut of this query 3× slower.
    //
    // The approx sketches live in their OWN aggregate, never in the
    // countDistinct branches: an agg mixing approx with a distinct
    // column plans the partial stage on (group, value) — one
    // multi-KB HLL buffer PER DISTINCT PAIR in every partition's
    // hash map. With key-clustered input (the replica bench) partial
    // maps stay small and it hides; on uniformly-spread keys (true
    // generated sf1) every partition materializes the full pair
    // space × sketch bytes — measured 2.4 s → 7.5–34 s (spill/GC
    // bound). Separated, sketch state is |groups| × 2 buffers and
    // the extra corpus scan is cheap (scan-bound, round-7 audit).
    val parts = lineitem.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n_parts"),
        count(lit(1)).as("n_rows")) // non-distinct long rides the
    // single-distinct plan through PartialMerge — no extra job
    val supps = lineitem.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_suppkey")).as("n_supps"))
    val approx = lineitem.groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey"), 0.02).as("parts_approx"),
        approx_count_distinct(col("l_suppkey"), 0.02).as("supps_approx"))
    parts.join(supps, Seq("l_returnflag")).join(approx, Seq("l_returnflag"))
      .select(col("l_returnflag"), col("n_parts"), col("n_supps"), col("n_rows"),
        (abs(col("parts_approx") - col("n_parts")) <= col("n_parts") * lit(0.1))
          .as("parts_ok"),
        (abs(col("supps_approx") - col("n_supps")) <= col("n_supps") * lit(0.1))
          .as("supps_ok"))
      .orderBy(col("l_returnflag"))
  }

  /** Sketch-based percentiles: the at-scale variant of
    * [[q15Percentiles]] — bounded-memory mergeable summaries instead
    * of a per-group sort. Companion exact discrete percentiles
    * (percentile_disc = smallest value with cume_dist >= p, identical
    * semantics in DuckDB) are hash-checked by the oracle; in-query
    * booleans prove the GK sketch lands within 5% of exact.
    */
  def q20ApproxPercentile(lineitem: DataFrame, buckets: Int = 4096): DataFrame =
    // small-input floor (round 8): the two-level prefix sum exists so
    // three flag-partitioned tasks never sort a 100 TB histogram —
    // below ~1M input rows the histogram persist + bucket machinery
    // + checkpoint cost more than the three small single-task sorts
    // they parallelize (~0.35 s flat at sf0.1, measured), so the
    // single-level window runs there; cum arithmetic and results are
    // identical by construction (bucket offset + within-bucket prefix
    // = the global prefix), same oracle either side.
    if (Caching.smallInput(lineitem, 1L << 20)) q20SingleLevel(lineitem)
    else Caching.materialized(q20ApproxPercentilePlan(_, lineitem, buckets))

  /** The small-input shape: one flag-partitioned window directly over
    * the raw rows — row_number stands in for the cumulative count
    * (max rn among rows of value v IS cum(v), so `min value whose rn
    * satisfies the cut` = `min value whose cum satisfies` — the
    * boundary value's last duplicate carries the qualifying rank, and
    * every smaller value's ranks all fall short). Value-equal to the
    * histogram + prefix-sum formulation, which round 13 measured as a
    * pure extra exchange here: l_extendedprice is 99% distinct at
    * this scale (600 k rows → 594 k histogram rows), so the
    * groupBy(flag, value) pre-aggregate shrank nothing and the window
    * sorted the same row count anyway. The at-scale two-level plan
    * keeps its histogram — there the bucketing needs it.
    */
  private def q20SingleLevel(lineitem: DataFrame): DataFrame = {
    val wf = Window.partitionBy(col("l_returnflag"))
    // ranked window FIRST: the unordered count frame only needs
    // flag-clustering, which the (flag, price) sort below it already
    // provides — this order plans one sort; the reverse planned a
    // second flag-only sort under the count window
    val ranked = lineitem.select(col("l_returnflag"), col("l_extendedprice"))
      .withColumn("rn", row_number().over(wf.orderBy(col("l_extendedprice"))))
      .withColumn("n", count(lit(1)).over(wf))
    val exact = ranked.groupBy(col("l_returnflag"))
      .agg(min(when(col("rn") * 2 >= col("n"), col("l_extendedprice"))).as("p50"),
        min(when(col("rn") * 20 >= col("n") * 19, col("l_extendedprice"))).as("p95"))
    // ONE array-form sketch, not two scalar calls: approx_percentile's
    // GK summary is built from the data alone (the queried quantiles
    // only index the finished sketch), so two scalar aggregates build
    // two IDENTICAL sketches and the array form returns the same two
    // values for half the insertion work (round 13: sketch branch
    // 0.59 s of q20's 2.37 s at sf0.1; OPTIMIZATION_r13.md
    // "q20_approx_percentile").
    val sketches = lineitem.groupBy(col("l_returnflag"))
      .agg(expr("approx_percentile(l_extendedprice, array(0.5, 0.95), 1000)").as("pa"))
      .select(col("l_returnflag"), col("pa").getItem(0).as("p50_approx"),
        col("pa").getItem(1).as("p95_approx"))
    exact.join(sketches, Seq("l_returnflag"))
      .select(col("l_returnflag"), col("p50"), col("p95"),
        (abs(col("p50_approx") - col("p50")) <= col("p50") * lit(0.05)).as("p50_ok"),
        (abs(col("p95_approx") - col("p95")) <= col("p95") * lit(0.05)).as("p95_ok"))
      .orderBy(col("l_returnflag"))
  }

  /** The un-materialized plan, holding its histogram cache through
    * `held` — split out (package-private) so PlanPinSpec can assert
    * the two-level window shape before the checkpoint truncates the
    * lineage.
    */
  private[graft] def q20ApproxPercentilePlan(held: Caching.Held,
      lineitem: DataFrame, buckets: Int = 4096): DataFrame = {
    // Exact discrete percentiles from a VALUE HISTOGRAM, not Spark's
    // percentile_disc aggregate (which buffers every group member —
    // a non-starter at scale, and 4× slower here): one map-side-
    // combined (flag, value) count, a TWO-LEVEL distributed prefix
    // sum over the distinct values, then the smallest value whose
    // cumulative count reaches p·n — integer arithmetic only
    // (cum·2 ≥ n ⟺ cume_dist ≥ 0.5; cum·20 ≥ 19·n ⟺ ≥ 0.95), so the
    // pick is engine-exact and matches DuckDB's PERCENTILE_DISC
    // definition symbolically.
    //
    // Why two-level: a near-continuous value column makes the
    // histogram ~row-count-sized, and a cumulative window partitioned
    // only by the 3-value flag runs ONE task per flag over all its
    // distinct values — the whole corpus sorted by three tasks at
    // 100 TB (the round-7 generated-sf1 audit caught this shape at
    // 3.2× for 10× data). Instead: bucket each value by its position
    // in the per-flag [min, max] range (monotone in value, so bucket
    // order IS value order), cumulate the ~3·4096 per-bucket totals
    // in a tiny window, and run the within-bucket prefix windows
    // partitioned by (flag, bucket) — thousands of parallel
    // value-cardinality/B-sized sorts instead of three corpus-sized
    // ones. cum = bucket offset + within-bucket prefix, exactly.
    // feeds the range probe, bucket totals and the final cut
    val hist = held(lineitem.groupBy(col("l_returnflag"), col("l_extendedprice"))
      .agg(count(lit(1)).as("c")))
    // per-flag value range + total: a tiny broadcast aggregate
    val rng = broadcast(hist.groupBy(col("l_returnflag"))
      .agg(min(col("l_extendedprice")).as("mn"),
        max(col("l_extendedprice")).as("mx"),
        sum(col("c")).as("n")))
    val bucketed = hist.join(rng, Seq("l_returnflag"))
      .withColumn("bkt",
        when(col("mx") === col("mn"), lit(0)).otherwise(
          least(lit(buckets - 1),
            floor((col("l_extendedprice") - col("mn"))
              / ((col("mx") - col("mn")) / lit(buckets.toDouble))).cast("int"))))
    // level 1: per-bucket totals (≤ flags·B rows) → exclusive offsets
    val offsets = bucketed.groupBy(col("l_returnflag"), col("bkt"))
      .agg(sum(col("c")).as("bc"))
      .withColumn("off", sum(col("bc")).over(Window.partitionBy(col("l_returnflag"))
        .orderBy(col("bkt"))) - col("bc"))
      .select(col("l_returnflag"), col("bkt"), col("off"))
    // level 2: within-bucket prefix, parallel across (flag, bucket)
    val cum = bucketed.join(offsets, Seq("l_returnflag", "bkt"))
      .withColumn("cum", col("off")
        + sum(col("c")).over(Window.partitionBy(col("l_returnflag"), col("bkt"))
          .orderBy(col("l_extendedprice"))))
    val exact = cum.groupBy(col("l_returnflag"))
      .agg(min(when(col("cum") * 2 >= col("n"), col("l_extendedprice"))).as("p50"),
        min(when(col("cum") * 20 >= col("n") * 19, col("l_extendedprice"))).as("p95"))
    // same single-sketch array form as the small-input branch (round 13)
    val sketches = lineitem.groupBy(col("l_returnflag"))
      .agg(expr("approx_percentile(l_extendedprice, array(0.5, 0.95), 1000)").as("pa"))
      .select(col("l_returnflag"), col("pa").getItem(0).as("p50_approx"),
        col("pa").getItem(1).as("p95_approx"))
    exact.join(sketches, Seq("l_returnflag"))
      .select(col("l_returnflag"), col("p50"), col("p95"),
        (abs(col("p50_approx") - col("p50")) <= col("p50") * lit(0.05)).as("p50_ok"),
        (abs(col("p95_approx") - col("p95")) <= col("p95") * lit(0.05)).as("p95_ok"))
      .orderBy(col("l_returnflag"))
  }

  /** Skew-resilient two-phase aggregation: explicit salting splits any
    * hot group across `salts` reducers before the final combine —
    * the manual fallback when AQE skew handling can't apply (e.g.
    * single extreme key in a groupBy). Result provably identical to
    * the direct aggregation (decimal sums are associative), which the
    * oracle checks with a plain GROUP BY.
    */
  def q21SaltedAgg(lineitem: DataFrame, salts: Int = 16): DataFrame =
    lineitem
      .withColumn("salt", pmod(hash(col("l_orderkey")), lit(salts)))
      .groupBy(col("l_returnflag"), col("salt"))
      .agg(sum(dec2(col("l_extendedprice"))).as("partial_rev"),
        count(lit(1)).as("partial_n"))
      .groupBy(col("l_returnflag"))
      .agg(sum(col("partial_rev")).cast("double").as("revenue"),
        sum(col("partial_n")).cast("long").as("n"))
      .orderBy(col("l_returnflag"))

  /** TPC-H Q22 shape: global-aggregate scalar filter + anti-join.
    * The positive-balance average is one tiny broadcast row (exact
    * decimal mean, the double division mirrored by the oracle); the
    * anti-join discards customers holding any high-value order
    * (pushed filter on the orders scan, key column only); the final
    * rollup groups by nation.
    */
  def q22AntijoinScalar(customer: DataFrame, orders: DataFrame): DataFrame = {
    val avgBal = customer.filter(col("c_acctbal") > 0)
      .agg((sum(dec2(col("c_acctbal"))).cast("double") / count(lit(1)))
        .as("avg_bal"))
    customer
      .crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(orders.filter(col("o_totalprice") > 350000).select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_cust"),
        sum(dec2(col("c_acctbal"))).cast("double").as("total_bal"))
      .orderBy(col("c_nationkey"))
  }

  /** Hot keys of a fact table, detected from a DETERMINISTIC hash
    * sample (1-in-`sampleMod` rows by a row-unique hash coin — no
    * rand(), stable across retries): keys whose sampled count reaches
    * `minSampleRows` (≈ `minSampleRows · sampleMod` true rows) are the
    * ones worth salting. Bounded output by construction — `maxKeys`
    * caps the broadcast even on a pathological all-hot table. The scan
    * is projection-pruned to the key + coin columns, a small fraction
    * of the join it protects.
    */
  private[graft] def hotJoinKeys(lineitem: DataFrame, sampleMod: Int = 100,
      minSampleRows: Long = 50, maxKeys: Int = 1000): DataFrame =
    lineitem
      .filter(pmod(hash(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey")), lit(sampleMod)) === 0)
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minSampleRows)
      .orderBy(col("cnt").desc, col("l_orderkey"))
      .limit(maxKeys)
      .select(col("l_orderkey").as("hot_key"))

  /** Skew-resilient salted join, TARGETED: only keys the sample pass
    * ([[hotJoinKeys]]) flags as hot get salted — the hot fact rows
    * spread across `salts` reducers via a row-unique hash, and the
    * dimension side replicates `salts`× for the hot keys ONLY (a
    * handful of extra rows, not `salts`× the dimension). The hot set
    * is bounded ≤ `maxKeys` BY CONSTRUCTION, so it collects
    * driver-side (the same bounded-collect precedent as the ANN train
    * samples) and folds into the salt expressions as a codegen'd
    * `InSet` probe — no broadcast join, no duplicated detection
    * subplan per join side, and when the sample finds nothing hot the
    * operator returns the PLAIN join, literally: uniform data pays
    * exactly one projection-pruned sample aggregate and nothing else.
    * That degeneracy is what makes it deployable as a default at
    * 100 TB, where replicating a dimension 8× unconditionally would
    * dominate the join. The manual fallback when AQE's skew-join split
    * can't apply (e.g. the skewed side feeds a co-partitioned
    * downstream op). Result provably identical to the plain join —
    * the oracle IS the plain join in an independent engine.
    *
    * EAGER semantics, by design: the detection sample runs (and
    * `collect()`s) at DataFrame-CONSTRUCTION time, so the hot-key
    * set is frozen into the returned plan when the operator is
    * built, not when it executes — re-invoking the builder re-runs
    * the sample job, and a fact table that changes between build and
    * execute is salted against the stale set (still CORRECT — the
    * salt only redistributes rows — just possibly mistuned). The
    * old broadcast-join shape evaluated detection at execution time
    * but duplicated the detection subplan on both join sides; batch
    * pipelines build-then-run immediately, so construction-time
    * detection is the right trade here.
    */
  def q24SaltedJoin(lineitem: DataFrame, orders: DataFrame, salts: Int = 8,
      sampleMod: Int = 100, minSampleRows: Long = 50): DataFrame = {
    val hot = hotJoinKeys(lineitem, sampleMod, minSampleRows)
      .collect().map(_.getLong(0)).toSeq // ≤ maxKeys rows, bounded
    if (hot.isEmpty) q24PlainJoin(lineitem, orders)
    else {
      // salt entropy from the full row (orderkey+linenumber alone stop
      // being row-unique exactly when a key is hot), near-uniform
      val l = lineitem
        .withColumn("salt", when(col("l_orderkey").isInCollection(hot),
          pmod(hash(col("l_orderkey"), col("l_linenumber"),
            col("l_partkey"), col("l_suppkey")), lit(salts))).otherwise(lit(0)))
      val o = orders
        .withColumn("salt", explode(when(col("o_orderkey").isInCollection(hot),
          sequence(lit(0), lit(salts - 1))).otherwise(array(lit(0)))))
      l.join(o, l("l_orderkey") === o("o_orderkey") && l("salt") === o("salt"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("l_extendedprice"))).cast("double").as("revenue"))
        .orderBy(col("o_orderstatus"))
    }
  }

  /** The plain (unsalted) join with the same rollup — what
    * [[q24SaltedJoin]] returns when the sample finds no hot key.
    */
  private[graft] def q24PlainJoin(lineitem: DataFrame, orders: DataFrame): DataFrame =
    lineitem.join(orders, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(dec2(col("l_extendedprice"))).cast("double").as("revenue"))
      .orderBy(col("o_orderstatus"))

  /** TPC-H Q19 shape: disjunction of conjunctive range predicates
    * across a join. Catalyst extracts the common `l_partkey` equi-key,
    * pushes the brand/size disjunction to the part scan and the
    * quantity bounds to the lineitem scan (CNF conversion), and the
    * small filtered part side broadcasts — the classic test that
    * OR-of-ANDs doesn't defeat pushdown.
    */
  def q23OrPushdown(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val j = lineitem.join(part, col("l_partkey") === col("p_partkey"))
    j.filter(
        (col("p_brand") === "Brand#11" && col("p_size").between(1, 15) &&
          col("l_quantity").between(1, 20)) ||
        (col("p_brand") === "Brand#22" && col("p_size").between(10, 30) &&
          col("l_quantity").between(10, 30)) ||
        (col("p_brand") === "Brand#33" && col("p_size").between(20, 50) &&
          col("l_quantity").between(20, 40)))
      .groupBy(col("p_brand"))
      .agg(sum(revenue).cast("double").as("revenue"),
        count(lit(1)).as("n"))
      .orderBy(col("p_brand"))
  }

  /** TPC-H Q18 shape: large-group aggregation feeding a join + top-k.
    * The HAVING prunes before the join; top-k is TakeOrdered.
    */
  def q18GroupJoinTopK(lineitem: DataFrame, orders: DataFrame,
                       customer: DataFrame): DataFrame = {
    val big = lineitem.groupBy(col("l_orderkey"))
      .agg(sum(dec2(col("l_quantity"))).cast("double").as("total_qty"))
      .filter(col("total_qty") > 150)
    big.join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(customer, col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("o_totalprice"), col("total_qty"))
      .orderBy(col("total_qty").desc, col("o_orderkey"))
      .limit(20)
  }
}
