package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev tool: GENERATE the TPC-H-side tables at an arbitrary scale
  * factor, matching the driver generator's schemas and distributions
  * (measured off /root/testdata: sequential keys, uniform dims,
  * Poisson(4) lineitem fanout, uniform value ranges) — the true-scale
  * alternative to a union of sf0.1 replicas.
  *
  * Why it exists (round-6 verdict item 7): a replica keeps every
  * join's key space partitioned into disjoint blocks — o_custkey from
  * replica i only ever meets c_custkey from replica i — so join
  * selectivities, group cardinalities and AQE's runtime statistics
  * are replica-invariant. Generated data scales them the way a real
  * corpus does: orders reference the FULL grown customer space, the
  * distinct-key counts of every aggregate grow with SF, and
  * filter+join selectivity compounds instead of repeating.
  *
  * Everything derives deterministically from the row id via hash
  * folds (no rand(): reruns are identical, and generation is a
  * narrow per-row map — no shuffle except lineitem's fanout explode,
  * which is also narrow). The events table generates too (monotone
  * arrival timestamps, full grown user space, Exponential(50)
  * values), and so do the content tables, with the driver
  * generator's measured rules: documents = uniform words from the
  * 30-word vocabulary, word count uniform 10..100, source round-robin
  * over 20, lang multinomial (en 0.40, others 0.15), 5% near-dup
  * docs that append " dup" to a uniformly-chosen base doc's text
  * (colliding bases yield the driver's handful of exact-dup pairs);
  * embeddings = 64-dim unit-normalized Gaussians (Box–Muller over
  * hash uniforms) with a uniform label 0..9 — measured independent
  * of the vector (the driver corpus has no planted vector near-dups:
  * max off-diagonal cosine 0.60 at sf0.1). Unlike a replica corpus
  * with per-replica vocab suffixing, the generated corpus keeps ONE
  * shared shingle space, so document frequencies, LSH bucket
  * occupancies and near-dup pair counts grow the way a real corpus
  * grows — the property the dedup-family scale claims need.
  *
  * Usage: runMain graft.GenData <srcDir> <outDir> <sf> [tables,csv]
  * The optional 4th arg restricts generation to the named tables —
  * the sf300 dedup probe needs only documents + embeddings (~3 GB)
  * where the full set (lineitem at 39 GB) would not fit the disk.
  */
object GenData {

  /** The driver generator's 30-word document vocabulary. */
  private val DocVocab: IndexedSeq[String] = IndexedSeq(
    "a", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line",
    "merge", "order", "part", "query", "row", "scan", "slow", "small",
    "sort", "spark", "stream", "table", "the", "value", "vector",
    "window")

  def main(args: Array[String]): Unit = {
    val srcDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1) else "/tmp/sf1gen"
    val sf = if (args.length > 2) args(2).toDouble else 1.0
    val spark = GraftSession.local(32)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val tables = if (args.length > 3) args(3).split(',').toSet else Set.empty[String]
    try generate(spark, srcDir, outDir, sf, tables)
    finally spark.stop()
  }

  /** Uniform double in [0, 1) from (id, salt) — the deterministic
    * stand-in for rand(), stable across partitionings and reruns.
    */
  private def u(salt: Int) =
    (pmod(hash(col("id"), lit(salt)), lit(1000000)).cast("double") / 1e6)

  def generate(spark: SparkSession, srcDir: String, outDir: String,
      sf: Double, tables: Set[String] = Set.empty): Unit = {
    val nCust = (150000 * sf).toLong
    val nSupp = (10000 * sf).toLong
    val nPart = (200000 * sf).toLong
    val nOrd = (1500000 * sf).toLong
    val nEvt = (1000000 * sf).toLong
    val nUsr = (15000 * sf).toLong

    // empty `tables` = everything; a named subset skips the others
    // BEFORE building their frames' actions run (the skipped writes
    // are the whole cost — frame construction is driver-side algebra)
    def write(df: => DataFrame, name: String): Unit =
      if (tables.nonEmpty && !tables.contains(name))
        println(s"[gen] skipped $name (not in requested subset)")
      else {
        df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
        println(s"[gen] wrote $name")
      }
    // fixed dims: TPC-H's own rule — region/nation do not scale
    write(graft.sources.Tables(spark, srcDir).region, "region")
    write(graft.sources.Tables(spark, srcDir).nation, "nation")

    val segs = "array('AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY')"
    write(spark.range(nCust).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      pmod(hash(col("id"), lit(1)), lit(25)).cast("int").as("c_nationkey"),
      round(u(2) * 11000 - 1000, 2).as("c_acctbal"),
      expr(s"element_at($segs, cast(pmod(hash(id, 3), 5) + 1 as int))")
        .as("c_mktsegment")), "customer")

    write(spark.range(nSupp).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      pmod(hash(col("id"), lit(4)), lit(25)).cast("int").as("s_nationkey"),
      round(u(5) * 11000 - 1000, 2).as("s_acctbal")), "supplier")

    val adjs = "array('large','hot','blue','small','dim','fast','calm','new')"
    val nouns = "array('ring','bolt','case','disk','gear','pipe','cowl','fan')"
    val types = "array('LARGE','ECONOMY','SMALL','MEDIUM','STANDARD','PROMO')"
    write(spark.range(nPart).select(
      col("id").as("p_partkey"),
      expr(s"concat(element_at($adjs, cast(pmod(hash(id, 6), 8) + 1 as int)), ' ', " +
        s"element_at($nouns, cast(pmod(hash(id, 7), 8) + 1 as int)))").as("p_name"),
      concat(lit("Brand#"),
        (pmod(hash(col("id"), lit(8)), lit(25)) + 1).cast("string")).as("p_brand"),
      expr(s"element_at($types, cast(pmod(hash(id, 9), 6) + 1 as int))").as("p_type"),
      (pmod(hash(col("id"), lit(10)), lit(50)) + 1).cast("int").as("p_size"),
      round(lit(900.0) + col("id").cast("double") / 10.0, 2).as("p_retailprice")),
      "part")

    // orders: ~6.6 years of order dates, all value columns uniform —
    // o_custkey spans the FULL grown customer space (the property the
    // replica cannot have)
    val dateSpanDays = 2404 // 1995-01-01 .. 2001-08-01
    val orders = spark.range(nOrd).select(
      col("id").as("o_orderkey"),
      pmod(hash(col("id"), lit(11)), lit(nCust)).as("o_custkey"),
      expr("element_at(array('F','O','P'), cast(pmod(hash(id, 12), 3) + 1 as int))")
        .as("o_orderstatus"),
      round(u(13) * 499000 + 1000, 2).as("o_totalprice"),
      expr(s"timestamp(date_add(date'1995-01-01', " +
        s"cast(pmod(hash(id, 14), $dateSpanDays) as int)))").as("o_orderdate"),
      expr("element_at(array('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'), " +
        "cast(pmod(hash(id, 15), 5) + 1 as int))").as("o_orderpriority"))
    write(orders, "orders")

    // lineitem: fanout ~ Poisson(4) per order (measured: mean 4.07,
    // ~1.8% zero-lineitem orders ≈ e^-4), via inverse-CDF lookup on a
    // literal table; every per-line value re-hashes (orderkey, line)
    val pois4Cdf: Seq[Double] = { // P(N <= k), k = 0..16
      val lambda = 4.0
      val pmf = (0 to 16).scanLeft(math.exp(-lambda)) { case (p, k) =>
        p * lambda / (k + 1) }.take(17)
      pmf.scanLeft(0.0)(_ + _).drop(1)
    }
    val cdfArr = pois4Cdf.map(p => f"$p%.9f").mkString("array(", ",", ")")
    val fanout = spark.range(nOrd).select(
      col("id"),
      // smallest k with u < CDF(k) — 0..17 (17 if u beyond the table)
      expr(s"size(filter($cdfArr, p -> p <= pmod(hash(id, 16), 1000000) / 1e6))")
        .as("nl"))
    val li = fanout.filter(col("nl") >= 1)
      .select(col("id").as("l_orderkey"),
        explode(expr("sequence(1, nl)")).as("l_linenumber"))
      .withColumn("lid", hash(col("l_orderkey"), col("l_linenumber")))
    def lu(salt: Int) =
      (pmod(hash(col("lid"), lit(salt)), lit(1000000)).cast("double") / 1e6)
    // o_orderdate re-derives from the same (orderkey, salt) hash the
    // orders table used — no join, generation stays a narrow map
    write(li
      .withColumn("o_orderdate", expr("timestamp(date_add(date'1995-01-01', " +
        s"cast(pmod(hash(l_orderkey, 14), $dateSpanDays) as int)))"))
      .select(
        col("l_orderkey"),
        pmod(hash(col("lid"), lit(20)), lit(nPart)).as("l_partkey"),
        pmod(hash(col("lid"), lit(21)), lit(nSupp)).as("l_suppkey"),
        col("l_linenumber").cast("int").as("l_linenumber"),
        (pmod(hash(col("lid"), lit(22)), lit(50)) + 1).cast("double").as("l_quantity"),
        round(lu(23) * 104100 + 900, 2).as("l_extendedprice"),
        (pmod(hash(col("lid"), lit(24)), lit(11)).cast("double") / 100.0).as("l_discount"),
        (pmod(hash(col("lid"), lit(25)), lit(9)).cast("double") / 100.0).as("l_tax"),
        expr("element_at(array('A','N','R'), cast(pmod(hash(lid, 26), 3) + 1 as int))")
          .as("l_returnflag"),
        expr("element_at(array('F','O'), cast(pmod(hash(lid, 27), 2) + 1 as int))")
          .as("l_linestatus"),
        expr("timestamp(date_add(to_date(o_orderdate), " +
          "cast(pmod(hash(lid, 28), 95) + 1 as int)))").as("l_shipdate")),
      "lineitem")

    // events: ~30 days of arrivals, monotone ts in event_id (spacing +
    // sub-spacing jitter — the bus-delivery order the streaming twins
    // replay), users spanning the FULL grown user space, uniform
    // types, Exponential(50) values via inverse-CDF, {"k": 0..99}
    // props — all measured off the driver tables
    val spacingUs = 2592000000000L / math.max(1L, nEvt) // 30 days / N
    write(spark.range(nEvt).select(
      col("id").as("event_id"),
      expr(s"timestamp_micros(cast(unix_micros(timestamp'2024-01-01 00:00:00Z') " +
        s"+ id * ${spacingUs}L + pmod(hash(id, 30), ${spacingUs}L) as bigint))")
        .as("ts"),
      pmod(hash(col("id"), lit(31)), lit(nUsr)).as("user_id"),
      expr("element_at(array('click','error','purchase','signup','view'), " +
        "cast(pmod(hash(id, 32), 5) + 1 as int))").as("event_type"),
      round(expr(s"-50.0 * ln(1.0 - pmod(hash(id, 33), 1000000) / 1e6)"), 2)
        .as("value"),
      concat(lit("{\"k\": "), pmod(hash(col("id"), lit(34)), lit(100)),
        lit("}")).as("props")), "events")

    // documents: 30-word uniform vocabulary, word count uniform
    // 10..100, 5% near-dup docs = (uniform base doc's text) + " dup".
    // Every doc's words derive from its BASE id (bid = self for the
    // 95%), so a dup doc reproduces its base's exact word sequence —
    // two dups colliding on a base become the driver's exact-dup
    // pairs (expected nDup²/2nDoc, ≈8 at sf0.1, growing linearly).
    // The base is drawn from the NON-dup ids: a dup base's own text
    // carries a different word sequence (it derives from ITS base),
    // so a dup-of-a-dup would share no shingles with anything —
    // ~0.25% of docs near-dups of nothing, silently shrinking the
    // modeled pair count. The draw walks forward from a uniform
    // start to the first non-dup id (≤8 probes; all-dup windows have
    // probability 0.05^8 ≈ 4e-11 and fall back to the raw draw).
    val nDoc = (50000 * sf).toLong
    val vocab = DocVocab.mkString("array('", "','", "')")
    write(spark.range(nDoc)
      .withColumn("is_dup", pmod(hash(col("id"), lit(40)), lit(20)) === 0)
      .withColumn("bid0", pmod(hash(col("id"), lit(41)), lit(nDoc)))
      .withColumn("bid",
        // get(), not [0]: under ANSI (Spark 4 default) indexing an
        // empty array THROWS, so the all-dup-window fallback would
        // crash the job instead of coalescing to the raw draw
        when(col("is_dup"), expr(
          s"coalesce(pmod(bid0 + get(filter(sequence(0, 7), " +
            s"k -> pmod(hash(pmod(bid0 + k, ${nDoc}L), 40), 20) != 0), 0), ${nDoc}L), bid0)"))
          .otherwise(col("id")))
      .withColumn("nw", (pmod(hash(col("bid"), lit(42)), lit(91)) + 10).cast("int"))
      .withColumn("text", concat(
        expr(s"array_join(transform(sequence(1, nw), i -> " +
          s"element_at($vocab, cast(pmod(hash(bid, i, 43), 30) + 1 as int))), ' ')"),
        when(col("is_dup"), lit(" dup")).otherwise(lit(""))))
      .select(
        col("id").as("doc_id"),
        col("text"),
        expr("case when pmod(hash(id, 44), 1000000) / 1e6 < 0.40 then 'en' " +
          "when pmod(hash(id, 44), 1000000) / 1e6 < 0.55 then 'es' " +
          "when pmod(hash(id, 44), 1000000) / 1e6 < 0.70 then 'fr' " +
          "when pmod(hash(id, 44), 1000000) / 1e6 < 0.85 then 'de' " +
          "else 'zh' end").as("lang"),
        concat(lit("src"), pmod(col("id"), lit(20))).as("source"),
        length(col("text")).cast("long").as("n_chars")), "documents")

    // embeddings: 64-dim unit Gaussians via Box–Muller on two hash
    // uniforms per component (u1 offset by 0.5 keeps ln() finite),
    // label uniform 0..9 independent of the vector
    val nVec = (20000 * sf).toLong
    write(spark.range(nVec)
      .withColumn("raw", expr("transform(sequence(0, 63), j -> " +
        "sqrt(-2.0 * ln((pmod(hash(id, j, 51), 1000000) + 0.5) / 1e6)) * " +
        "cos(6.283185307179586 * pmod(hash(id, j, 52), 1000000) / 1e6))"))
      .withColumn("nrm", expr("sqrt(aggregate(raw, 0.0d, (a, x) -> a + x * x))"))
      .select(
        col("id").as("vec_id"),
        expr("transform(raw, x -> cast(x / nrm as float))").as("embedding"),
        pmod(hash(col("id"), lit(53)), lit(10)).cast("int").as("label")),
      "embeddings")
    println(s"[gen] done: $outDir at sf=$sf")
  }
}
