package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators._
import graft.sources.Tables

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator in SURVEY.md §2 appears in [[queries]]; each entry
  * that is ANSI-SQL-expressible also appears in [[oracleSql]] with
  * *identical* output column names (the driver sorts columns by name
  * and hashes values).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q1PricingSummary(Tables(spark, "/root/testdata/sf0.001").lineitem)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- §2.2 relational / OLAP core ----
    "q1_agg" -> ((s, dir) => Relational.q1PricingSummary(Tables(s, dir).lineitem)),
    "q2_join_agg" -> ((s, dir) => {
      val t = Tables(s, dir)
      Relational.q2RevenuePerNation(t.lineitem, t.orders, t.customer, t.nation, t.region)
    }),
    "q3_topk" -> ((s, dir) => {
      val t = Tables(s, dir)
      Relational.q3TopUnshipped(t.lineitem, t.orders, t.customer)
    }),
    "q4_semijoin" -> ((s, dir) => {
      val t = Tables(s, dir)
      Relational.q4PriorityExists(t.orders, t.lineitem)
    }),
    "q5_antijoin" -> ((s, dir) => {
      val t = Tables(s, dir)
      Relational.q5AntiJoin(t.customer, t.orders)
    }),
    "q6_filter_agg" -> ((s, dir) => Relational.q6ForecastRevenue(Tables(s, dir).lineitem)),
    "q7_window_rank" -> ((s, dir) => Relational.q7WindowRank(Tables(s, dir).customer)),
    "q8_running_sum" -> ((s, dir) => Relational.q8RunningSum(Tables(s, dir).orders)),
    "q26_moving_avg" -> ((s, dir) => Relational.q26MovingAvg(Tables(s, dir).orders)),
    "q9_distinct_agg" -> ((s, dir) => Relational.q9DistinctAgg(Tables(s, dir).lineitem)),
    "q10_having" -> ((s, dir) => Relational.q10Having(Tables(s, dir).orders)),
    "q11_case_pivot" -> ((s, dir) => {
      val t = Tables(s, dir)
      Relational.q11CasePivot(t.customer, t.nation)
    }),
    "q12_rollup" -> ((s, dir) => {
      val t = Tables(s, dir)
      Relational.q12Rollup(t.customer, t.nation, t.region)
    }),
    "q13_union" -> ((s, dir) => {
      val t = Tables(s, dir)
      Relational.q13Union(t.customer, t.orders)
    }),
    "q14_scalar_subquery" -> ((s, dir) => Relational.q14ScalarSubquery(Tables(s, dir).part)),
    "q15_percentiles" -> ((s, dir) => Relational.q15Percentiles(Tables(s, dir).customer)),
    "q16_crossjoin_small" -> ((s, dir) => {
      val t = Tables(s, dir)
      Relational.q16CrossJoin(t.nation, t.region)
    }),
    "q17_corr_subquery" -> ((s, dir) => Relational.q17CorrSubquery(Tables(s, dir).lineitem)),
    "q18_groupjoin_topk" -> ((s, dir) => {
      val t = Tables(s, dir)
      Relational.q18GroupJoinTopK(t.lineitem, t.orders, t.customer)
    }),
    "q19_approx_distinct" -> ((s, dir) => Relational.q19ApproxDistinct(Tables(s, dir).lineitem)),
    "q21_salted_agg" -> ((s, dir) => Relational.q21SaltedAgg(Tables(s, dir).lineitem)),
    "q20_approx_percentile" -> ((s, dir) => Relational.q20ApproxPercentile(Tables(s, dir).lineitem)),
    "q22_antijoin_scalar" -> ((s, dir) => {
      val t = Tables(s, dir)
      Relational.q22AntijoinScalar(t.customer, t.orders)
    }),
    "q23_or_pushdown" -> ((s, dir) => {
      val t = Tables(s, dir)
      Relational.q23OrPushdown(t.lineitem, t.part)
    }),
    "q24_salted_join" -> ((s, dir) => {
      val t = Tables(s, dir)
      Relational.q24SaltedJoin(t.lineitem, t.orders)
    }),
    "q25_supplier_flow" -> ((s, dir) => {
      val t = Tables(s, dir)
      Relational.q25SupplierFlow(t.lineitem, t.orders, t.customer, t.supplier, t.nation)
    }),
    // ---- §2.1 event-stream semantics ----
    "ev_route_counts" -> ((s, dir) => EventOps.routeCounts(Tables(s, dir).events)),
    "ev_route_dispatch" -> ((s, dir) =>
      EventOps.routeDispatch(Tables(s, dir).events, EventOps.handlerRegistry(s))),
    "ev_echo" -> ((s, dir) => EventOps.echo(Tables(s, dir).events)),
    "ev_instance_info" -> ((s, dir) => EventOps.instanceInfo(Tables(s, dir).events)),
    "ev_trim_last_n" -> ((s, dir) => EventOps.trimLastN(Tables(s, dir).events, 50)),
    "ev_trim_overflow" -> ((s, dir) => EventOps.trimOverflow(Tables(s, dir).events, 50)),
    "ev_response_asof" -> ((s, dir) => EventOps.responseAsof(Tables(s, dir).events)),
    "ev_response_latency" -> ((s, dir) => EventOps.responseLatency(Tables(s, dir).events)),
    "ev_session_gap" -> ((s, dir) => EventOps.sessionGap(Tables(s, dir).events)),
    "ev_window_tumbling" -> ((s, dir) => EventOps.windowTumbling(Tables(s, dir).events)),
    "ev_window_sliding" -> ((s, dir) => EventOps.windowSliding(Tables(s, dir).events)),
    "ev_props_extract" -> ((s, dir) => EventOps.propsExtract(Tables(s, dir).events)),
    "ev_workflow_latency" -> ((s, dir) => EventOps.workflowLatency(Tables(s, dir).events)),
    "ev_rate_limit" -> ((s, dir) => EventOps.rateLimit(Tables(s, dir).events)),
    "ev_funnel" -> ((s, dir) => EventOps.funnel(Tables(s, dir).events)),
    "ev_retention" -> ((s, dir) => EventOps.retention(Tables(s, dir).events)),
    "ev_first_last" -> ((s, dir) => EventOps.firstLast(Tables(s, dir).events)),
    "ev_pending_stats" -> ((s, dir) => EventOps.pendingStats(Tables(s, dir).events)),
    "ev_top_users" -> ((s, dir) => EventOps.topUsers(Tables(s, dir).events)),
    "ev_topk_per_type" -> ((s, dir) => EventOps.topKPerType(Tables(s, dir).events)),
    "ev_zscore_outliers" -> ((s, dir) => EventOps.zscoreOutliers(Tables(s, dir).events)),
    "ev_dedup_exact" -> ((s, dir) => EventOps.dedupExact(Tables(s, dir).events)),
    "ev_asof_join" -> ((s, dir) => EventOps.asofViewMatch(Tables(s, dir).events)),
    "ev_dead_letter" -> ((s, dir) => EventOps.deadLetter(Tables(s, dir).events)),
    "ev_applied_to_all" -> ((s, dir) =>
      EventOps.universalStatus(Tables(s, dir).events, EventOps.handlerRegistry(s))),
    "ev_idle_messages" -> ((s, dir) => EventOps.idleMessages(Tables(s, dir).events)),
    "ev_range_join" -> ((s, dir) => EventOps.rangeViewsBeforePurchase(Tables(s, dir).events)),
    "ev_close_streams" -> ((s, dir) =>
      EventOps.closeStreams(Tables(s, dir).events, EventOps.targetInstances(s))),
    "ev_purge_consumers" -> ((s, dir) =>
      EventOps.purgeConsumers(Tables(s, dir).events, EventOps.targetInstances(s))),
    "ev_requeue" -> ((s, dir) => EventOps.requeue(Tables(s, dir).events)),
    "ev_inbox_read" -> ((s, dir) =>
      EventOps.inboxRead(Tables(s, dir).events, EventOps.targetInstances(s))),
    "ev_organize" -> ((s, dir) => EventOps.organizeStreams(Tables(s, dir).events)),
    "ev_config_registry" -> ((s, _) =>
      EventOps.registryFromConfig(s, EventOps.sampleBusConfig)),
    "ev_journeys" -> ((s, dir) => EventOps.journeys(Tables(s, dir).events)),
    // ---- §2.3 LLM-training-data pipeline ----
    "txt_tokens" -> ((s, dir) => TextOps.tokens(Tables(s, dir).documents)),
    "txt_quality" -> ((s, dir) => TextOps.quality(Tables(s, dir).documents)),
    "txt_langid" -> ((s, dir) => TextOps.langId(Tables(s, dir).documents)),
    "txt_fingerprint" -> ((s, dir) => TextOps.fingerprint(Tables(s, dir).documents)),
    "txt_entropy" -> ((s, dir) => TextOps.charEntropy(Tables(s, dir).documents)),
    "txt_surprisal" -> ((s, dir) => TextOps.surprisal(Tables(s, dir).documents)),
    "txt_bigram_surprisal" -> ((s, dir) => TextOps.bigramSurprisal(Tables(s, dir).documents)),
    "txt_lr_quality" -> ((s, dir) => TextOps.lrQuality(Tables(s, dir).documents)),
    "txt_tfidf_terms" -> ((s, dir) => TextOps.tfidfTopTerms(Tables(s, dir).documents)),
    "txt_bpe_pairs" -> ((s, dir) => TextOps.bpePairStats(Tables(s, dir).documents)),
    "txt_bpe_apply" -> ((s, dir) => TextOps.bpeApply(Tables(s, dir).documents)),
    "txt_vocab" -> ((s, dir) => TextOps.vocab(Tables(s, dir).documents)),
    "dd_clean_pipeline" -> ((s, dir) => TextOps.cleanPipeline(Tables(s, dir).documents)),
    "pipe_curate" -> ((s, dir) => TextOps.curatePipeline(Tables(s, dir).documents)),
    "dd_incremental" -> ((s, dir) => Dedup.incrementalDedup(Tables(s, dir).documents)),
    "dd_minhash_est_eval" -> ((s, dir) => Dedup.minhashEstEval(Tables(s, dir).documents)),
    "dd_exact" -> ((s, dir) => Dedup.exact(Tables(s, dir).documents)),
    "dd_ngram_jaccard" -> ((s, dir) => Dedup.ngramJaccard(Tables(s, dir).documents)),
    "dd_containment" -> ((s, dir) => Dedup.containmentPairs(Tables(s, dir).documents)),
    "dd_containment_lsh" -> ((s, dir) => Dedup.containmentPairsLsh(Tables(s, dir).documents)),
    "dd_containment_auto" -> ((s, dir) => Dedup.containmentAuto(Tables(s, dir).documents)),
    "dd_containment_strat" -> ((s, dir) => Dedup.containmentStratified(Tables(s, dir).documents)),
    // planted-pair twin (r11 verdict #6): a verbatim copy of doc 0
    // under a far-away id is a gap-0 containment pair at J = 1, where
    // ANY kept gap-0 arm's candidate probability is exactly
    // 1 − (1 − 1^r)^b = 1 — so the driver hash provably exercises a
    // FOUND planted pair (the base row matches its oracle only
    // because this corpus's organic true pairs all sit at gap ≤ 1)
    "dd_containment_strat_planted" -> ((s, dir) => {
      import org.apache.spark.sql.functions.{col, lit}
      val docs = Tables(s, dir).documents.select(col("doc_id"), col("text"))
      Dedup.containmentStratified(docs.unionByName(
        docs.filter(col("doc_id") === 0)
          .select((col("doc_id") + lit(900000000000L)).as("doc_id"), col("text"))))
    }),
    // budget-knob twin (r12 verdict #4): the planted doc is doc 0's
    // text followed by a zq-suffixed copy of every word — with S
    // distinct trigram shingles in doc 0 that makes exactly 2S + 2
    // (the suffixing is a bijection on shingles; 2 seam shingles mix
    // suffixes), so ⌊log₂(2S+2)⌋ − ⌊log₂ S⌋ = 1: a GAP-1 containment
    // pair at C = 1, J = S/(2S+2) ≈ 0.48, which only the gap-1 arm
    // can surface. Run through the candBudgetPerDoc = 16 knob, the
    // driver hash certifies a FOUND gap-1 pair through the budget
    // path end-to-end (DedupSpec pins the dense-corpus flip: at sf10
    // density the DEFAULT budget drops the gap-1 arm and misses this
    // pair; 16 buys it back — here at oracle density both budgets
    // keep the arm, so the row certifies plumbing, not the flip)
    "dd_containment_strat_budget" -> ((s, dir) => {
      import org.apache.spark.sql.functions.{col, concat, lit, regexp_replace}
      val docs = Tables(s, dir).documents.select(col("doc_id"), col("text"))
      val planted = docs.filter(col("doc_id") === 0)
        .select((col("doc_id") + lit(900000000000L)).as("doc_id"),
          concat(col("text"), lit(" "),
            regexp_replace(col("text"), "(\\S+)", "$1zq")).as("text"))
      Dedup.containmentStratified(docs.unionByName(planted),
        candBudgetPerDoc = 16L)
    }),
    "dd_jaccard_adaptive" -> ((s, dir) => Dedup.ngramJaccardAdaptive(Tables(s, dir).documents)),
    "dd_jaccard_lsh" -> ((s, dir) => Dedup.jaccardLshVerified(Tables(s, dir).documents)),
    "dd_minhash_lsh" -> ((s, dir) => Dedup.minhashLsh(Tables(s, dir).documents)),
    "dd_url_dedup" -> ((s, dir) => Dedup.urlDedup(Tables(s, dir).documents)),
    "dd_bloom" -> ((s, dir) => Dedup.bloomShingleFilter(Tables(s, dir).documents)),
    "dd_simhash" -> ((s, dir) => Dedup.simhashNearDup(Tables(s, dir).documents)),
    "dd_embed_neardup" -> ((s, dir) => Dedup.embedNearDup(Tables(s, dir).embeddings)),
    // relaxed-τ twin whose driver oracle has ROWS on this corpus
    // (τ = 0.95 yields 0 pairs at every oracled scale, so its
    // hash-match is vacuous — this row is the one that can fail)
    "dd_embed_neardup_t30" ->
      ((s, dir) => Dedup.embedNearDup(Tables(s, dir).embeddings, tau = 0.3)),
    "dd_contamination" -> ((s, dir) => Dedup.contamination(Tables(s, dir).documents)),
    "dd_dup_spans" -> ((s, dir) => Dedup.dupSpans(Tables(s, dir).documents)),
    // the pair-graph consumers feed off the ADAPTIVE pair source so a
    // dense corpus dispatches their candidate generation to the
    // LSH-verified regime (identical pairs at the oracle scale, where
    // the probe picks an exact regime — spec-pinned)
    "dd_cluster_cc" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
      Dedup.connectedComponents(docs, Dedup.ngramJaccardAdaptive(docs))
    }),
    "dd_canonicalize" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
      Dedup.canonicalize(docs, Dedup.ngramJaccardAdaptive(docs))
    }),
    "dd_soft_dedup" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
      Dedup.softDedupWeights(docs, Dedup.ngramJaccardAdaptive(docs))
    }),
    // semantic (embedding-space) near-dup clustering: the same CC
    // machinery over the hyperplane-LSH candidate pair graph
    "dd_semantic_canon" -> ((s, dir) => {
      val emb = Tables(s, dir).embeddings
      Dedup.connectedComponents(
        emb.selectExpr("vec_id AS doc_id"),
        Dedup.embedNearDup(emb).selectExpr("id1 AS doc1", "id2 AS doc2"))
    }),
    "txt_pii_redact" -> ((s, dir) => TextOps.piiRedact(Tables(s, dir).documents)),
    "txt_repetition" -> ((s, dir) => TextOps.repetitionStats(Tables(s, dir).documents)),
    "txt_bm25" -> ((s, dir) => TextOps.bm25TopK(Tables(s, dir).documents)),
    "samp_chunk" -> ((s, dir) => Sampling.chunkSequences(Tables(s, dir).documents)),
    "samp_interleave" -> ((s, dir) => Sampling.interleaveSources(Tables(s, dir).documents)),
    "samp_curriculum" -> ((s, dir) => Sampling.curriculumStages(Tables(s, dir).documents)),
    "samp_token_budget" -> ((s, dir) => Sampling.tokenBudgetSelect(Tables(s, dir).documents)),
    "samp_stratified" -> ((s, dir) => Sampling.stratifiedSample(Tables(s, dir).documents)),
    "samp_split" -> ((s, dir) => Sampling.holdoutSplit(Tables(s, dir).documents)),
    "samp_shard" -> ((s, dir) => Sampling.shardShuffle(Tables(s, dir).documents)),
    "samp_dsir" -> ((s, dir) => Sampling.dsirScore(Tables(s, dir).documents)),
    "samp_len_bucket" -> ((s, dir) => Sampling.lengthBuckets(Tables(s, dir).documents)),
    "emb_sq8_drift" -> ((s, dir) => Similarity.sq8DriftStats(Tables(s, dir).embeddings)),
    "samp_corpus_report" -> ((s, dir) => Sampling.corpusReport(Tables(s, dir).documents)),
    "samp_domain_mix" -> ((s, dir) => Sampling.domainMixQuota(Tables(s, dir).documents)),
    "samp_pack" -> ((s, dir) => Sampling.packSequences(Tables(s, dir).documents)),
    "samp_mix_weights" -> ((s, dir) => Sampling.mixtureWeights(Tables(s, dir).documents)),
    "samp_len_hist" -> ((s, dir) => Sampling.lengthHistogram(Tables(s, dir).documents)),
    "ann_range_search" -> ((s, dir) => Similarity.rangeSearch(Tables(s, dir).embeddings)),
    "emb_centroids" -> ((s, dir) => Similarity.labelCentroids(Tables(s, dir).embeddings)),
    "emb_dim_stats" -> ((s, dir) => Similarity.dimStats(Tables(s, dir).embeddings)),
    "emb_pca_project" -> ((s, dir) => Similarity.pcaProject(Tables(s, dir).embeddings)),
    "emb_pca_var" -> ((s, dir) => Similarity.pcaVariance(Tables(s, dir).embeddings)),
    "emb_whiten" -> ((s, dir) => Similarity.whiten(Tables(s, dir).embeddings)),
    "txt_topics" -> ((s, dir) => {
      val t = Tables(s, dir)
      Similarity.clusterTopics(t.documents, t.embeddings)
    }),
    "ann_brute_topk" -> ((s, dir) => Similarity.bruteTopK(Tables(s, dir).embeddings)),
    "ann_lsh_topk" -> ((s, dir) => Similarity.annLshTopK(Tables(s, dir).embeddings)),
    "ann_recall_eval" -> ((s, dir) => Similarity.recallAtK(Tables(s, dir).embeddings)),
    "ann_ivf_topk" -> ((s, dir) => Similarity.annIvfTopK(Tables(s, dir).embeddings)),
    "ann_knn_vote" -> ((s, dir) => Similarity.knnVote(Tables(s, dir).embeddings)),
    "emb_pq_codes" -> ((s, dir) => Similarity.pqCodes(Tables(s, dir).embeddings)),
    "emb_sq8_codes" -> ((s, dir) => Similarity.sq8Codes(Tables(s, dir).embeddings)),
    "ann_sq8_topk" -> ((s, dir) => Similarity.annSq8TopK(Tables(s, dir).embeddings)),
    "ann_ivf_sq8_topk" -> ((s, dir) => Similarity.annIvfSq8TopK(Tables(s, dir).embeddings)),
    "ann_hybrid_rrf" -> ((s, dir) => {
      val t = Tables(s, dir)
      Similarity.hybridRrf(t.documents, t.embeddings)
    }),
    "ann_pq_topk" -> ((s, dir) => Similarity.annPqTopK(Tables(s, dir).embeddings)),
    "ann_ivfpq_topk" -> ((s, dir) => Similarity.annIvfPqTopK(Tables(s, dir).embeddings)),
    "ann_ivfpq_res_topk" -> ((s, dir) => Similarity.annIvfPqResTopK(Tables(s, dir).embeddings)),
    "ev_parse_weighted" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val superset = StructType(Seq(
        StructField("k", LongType), StructField("v", StringType),
        StructField("event", StringType)))
      val registry = Seq(
        graft.model.MessageSchema("keyed", Seq("k")),
        graft.model.MessageSchema("generic", Seq.empty))
      graft.model.MessageParser
        .parse(Tables(s, dir).events, org.apache.spark.sql.functions.col("props"),
          registry, superset)
        .groupBy(org.apache.spark.sql.functions.col("schema_name"))
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"))
        .orderBy(org.apache.spark.sql.functions.col("schema_name"))
    }),
    "mm_meta" -> ((s, dir) => Multimodal.meta(Tables(s, dir).documents)),
    "mm_frames" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      implicit val sp: SparkSession = s
      Multimodal.frameSample(Multimodal.records(Tables(s, dir).documents))
        .select(col("doc_id"), col("n_frames").cast("long").as("n_frames"),
          col("frame_idx").cast("long").as("frame_idx"))
        .orderBy(col("doc_id"), col("frame_idx"))
    }),
    "mm_resize" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      implicit val sp: SparkSession = s
      Multimodal.resizeMeta(Multimodal.records(Tables(s, dir).documents))
        .orderBy(col("doc_id"))
    }),
    // the PAIRING half of perceptual-hash dedup, hash-checked: the
    // banded-Hamming pairer is front-end-agnostic, so feeding it the
    // SQL-derivable SimHash fingerprint (same 64-bit near-collision
    // structure as a dHash) lets DuckDB re-derive the hashes AND
    // brute-force all pairs ≤ 3 bits — proving the 4×16-bit banding's
    // exact-recall claim against an engine with no banding at all.
    // The image decode front-end stays spec-verified (pixel
    // codecs can't run in SQL); this pins everything downstream of
    // the hash column.
    "mm_phash_pairs" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      Multimodal.phashPairs(
        Dedup.simhashSignatures(Tables(s, dir).documents)
          .select(col("doc_id"), col("sim").as("phash")))
    }),
    // same pairs through the multi-index generator (2×32-bit blocks +
    // radius-1 ball probes — the clustered-corpus scale path): the
    // SAME brute-force oracle proves its exact-recall claim too
    "mm_phash_pairs_mih" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      Multimodal.phashPairsMih(
        Dedup.simhashSignatures(Tables(s, dir).documents)
          .select(col("doc_id"), col("sim").as("phash")))
    }),
    // the ADAPTIVE pairer: bucket-occupancy probe picks banded vs MIH
    // per corpus (the dd_jaccard_adaptive precedent) — same
    // brute-force oracle, so whichever generator the probe picks must
    // produce the identical pair set
    "mm_phash_pairs_auto" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      Multimodal.phashPairsAuto(
        Dedup.simhashSignatures(Tables(s, dir).documents)
          .select(col("doc_id"), col("sim").as("phash")))
    })
  )

  /** The MinHash permutation family as a DuckDB VALUES body —
    * interpolating the exact (i, aᵢ, bᵢ) constants keeps ONE
    * definition of the family ([[graft.expressions.MinhashTextSignature]])
    * shared by the operator, its declarative twin, and the oracle.
    */
  private def minhashPermValues(n: Int = graft.expressions.MinhashTextSignature.NumPerms): String =
    graft.expressions.MinhashTextSignature.permA
      .zip(graft.expressions.MinhashTextSignature.permB).zipWithIndex.take(n)
      .map { case ((a, b), i) => s"($i, $a, $b)" }
      .mkString(", ")

  /** The word-3-gram shingle CTEs over relation `src` (doc_id,
    * text): `toks` splits the text, `tri(doc_id, g)` holds each
    * document's distinct shingles; documents under three words have
    * none. ONE definition for every oracle that shingles — the
    * Jaccard, containment, contamination, Bloom and MinHash rows.
    */
  private def shingleCtes(src: String): String =
    s"""toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM $src
      |  WHERE len(string_split(text, ' ')) >= 3),
      |tri AS (
      |  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
      |  FROM toks, UNNEST(generate_series(1, len(w) - 2)) AS t(i))""".stripMargin

  /** Per-doc shingle counts `sizes` and the shingle-sharing pair
    * counts `pairs(doc1, doc2, inter)` over `tri`.
    */
  private val PairCountCtes =
    """sizes AS (SELECT doc_id, COUNT(*) AS s FROM tri GROUP BY doc_id),
      |pairs AS (
      |  SELECT a.doc_id AS doc1, b.doc_id AS doc2, COUNT(*) AS inter
      |  FROM tri a JOIN tri b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)""".stripMargin

  /** The Jaccard cut on `pairs` joined to `sizes` s1/s2, at
    * [[Dedup.JaccardTauNum]] / [[Dedup.TauDenom]].
    */
  private val JaccardCutSql =
    s"inter * ${Dedup.TauDenom} >= (s1.s + s2.s - inter) * ${Dedup.JaccardTauNum}"

  /** The exact n-gram Jaccard contract: every dd_* row whose operator
    * emits (doc1, doc2, inter, s1, s2) at the Jaccard cut, whichever
    * candidate plan it runs.
    */
  private def jaccardPairsSql: String =
    "WITH " + shingleCtes("documents") + ",\n" + PairCountCtes + "\n" +
      s"""|SELECT doc1, doc2, inter, s1.s AS s1, s2.s AS s2
        |FROM pairs
        |JOIN sizes s1 ON doc1 = s1.doc_id
        |JOIN sizes s2 ON doc2 = s2.doc_id
        |WHERE $JaccardCutSql
        |ORDER BY doc1, doc2""".stripMargin

  /** The exact containment contract over relation `src`, after the
    * `head` of the WITH clause (`"WITH "`, or a `corpus` CTE that
    * `src` names): every containment row, whichever candidate
    * generator it runs, at [[Dedup.ContainmentTauNum]].
    */
  private def containmentPairsSql(head: String, src: String): String =
    head + shingleCtes(src) + ",\n" + PairCountCtes + "\n" +
      s"""|SELECT doc1, doc2, inter, s1.s AS s1, s2.s AS s2,
        |  ROUND(CAST(inter AS DOUBLE) / LEAST(s1.s, s2.s), 6) AS containment,
        |  ROUND(CAST(inter AS DOUBLE) / (s1.s + s2.s - inter), 6) AS jaccard
        |FROM pairs
        |JOIN sizes s1 ON doc1 = s1.doc_id
        |JOIN sizes s2 ON doc2 = s2.doc_id
        |WHERE inter * ${Dedup.TauDenom} >= LEAST(s1.s, s2.s) * ${Dedup.ContainmentTauNum}
        |ORDER BY doc1, doc2""".stripMargin

  /** The components of the exact Jaccard pair graph, `comp(v,
    * component)` over its vertices by a recursive reachability CTE —
    * shared by dd_cluster_cc, dd_canonicalize and dd_soft_dedup.
    */
  private val JaccardComponentCtes =
    "WITH RECURSIVE " + shingleCtes("documents") + ",\n" +
      s"""|sizes AS (SELECT doc_id, COUNT(*) AS s FROM tri GROUP BY doc_id),
        |pr AS (
        |  SELECT doc1, doc2 FROM (
        |    SELECT a.doc_id AS doc1, b.doc_id AS doc2, COUNT(*) AS inter
        |    FROM tri a JOIN tri b ON a.g = b.g AND a.doc_id < b.doc_id
        |    GROUP BY 1, 2) p
        |  JOIN sizes s1 ON doc1 = s1.doc_id
        |  JOIN sizes s2 ON doc2 = s2.doc_id
        |  WHERE $JaccardCutSql),
        |e AS (SELECT doc1 AS a, doc2 AS b FROM pr
        |      UNION SELECT doc2, doc1 FROM pr),
        |reach(v, r) AS (
        |  SELECT a, a FROM e
        |  UNION
        |  SELECT e.b, reach.r FROM reach JOIN e ON e.a = reach.v),
        |comp AS (SELECT v, MIN(r) AS component FROM reach GROUP BY v)""".stripMargin

  /** The SimHash signature chain `words → sigs(doc_id, sim)` —
    * salted-token 62-bit fold, 64 signed bit votes — shared by
    * dd_simhash and the three mm_phash_pairs rows.
    */
  private val SimhashCtes =
    """WITH words AS (
      |  SELECT doc_id, 'xq' || w AS w FROM (
      |    SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents) t),
      |wc AS (SELECT doc_id, <<CODES:w>> AS cps FROM words),
      |h AS (SELECT doc_id, <<HASH62:cps>> AS h FROM wc),
      |bits AS (
      |  SELECT doc_id, j, SUM(((h >> j) & 1) * 2 - 1) AS s
      |  FROM h CROSS JOIN (SELECT UNNEST(generate_series(0, 63)) AS j) js
      |  GROUP BY doc_id, j),
      |sigs AS (
      |  SELECT doc_id,
      |    CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS sim
      |  FROM bits GROUP BY doc_id)""".stripMargin
      .replace("<<CODES:w>>", charCodesSql("w"))
      .replace("<<HASH62:cps>>", hash62Sql("cps"))

  /** The band-free brute-force Hamming pairs over [[SimhashCtes]]:
    * ALL signature pairs, filtered on popcount alone at
    * [[Multimodal.HammingMaxDist]].
    */
  private def phashBruteForceSql: String =
    SimhashCtes + "\n" +
      s"""|SELECT s1.doc_id AS doc_a, s2.doc_id AS doc_b,
        |  CAST(bit_count(xor(s1.sim, s2.sim)) AS BIGINT) AS dist
        |FROM sigs s1 JOIN sigs s2 ON s1.doc_id < s2.doc_id
        |WHERE bit_count(xor(s1.sim, s2.sim)) <= ${Multimodal.HammingMaxDist}
        |ORDER BY doc_a, doc_b""".stripMargin

  /** The quality cut of `TextOps.cleanScored` over (n_words, n_stop). */
  private val CleanCutSql =
    s"n_words >= ${TextOps.CleanMinWords} AND " +
      s"n_stop * 1000 <= n_words * ${TextOps.CleanMaxStopPerMille}"

  /** The MinHash signature/banding CTE chain (toks → … → cand) —
    * ONE definition shared by the dd_minhash_lsh and
    * dd_minhash_est_eval oracles so the derivation cannot drift
    * between them. Callers append their own scoring CTEs and
    * substitute <<PERMS>>/<<HASH31:*>>.
    */
  private val MinhashCtes =
    "WITH " + shingleCtes("documents") + ",\n" +
      s"""|h AS (
        |  SELECT doc_id, <<HASH31:g>> AS h
        |  FROM tri),
        |perms AS (SELECT * FROM (VALUES <<PERMS>>) v(i, a, b)),
        |mins AS (
        |  SELECT doc_id, i, MIN((a * h + b) % 2147483647) AS m
        |  FROM h CROSS JOIN perms GROUP BY doc_id, i),
        |mh AS (SELECT doc_id, list(m ORDER BY i) AS mh FROM mins GROUP BY doc_id),
        |bands AS (
        |  SELECT doc_id, b,
        |    <<HASH31:band>> AS band_hash
        |  FROM mh CROSS JOIN (SELECT UNNEST(generate_series(0, ${Dedup.MinhashBands - 1})) AS b) bs),
        |cand AS (
        |  SELECT DISTINCT b1.doc_id AS doc1, b2.doc_id AS doc2
        |  FROM bands b1 JOIN bands b2 ON b1.b = b2.b AND b1.band_hash = b2.band_hash
        |  WHERE b1.doc_id < b2.doc_id)""".stripMargin

  /** One band's hash: the fold over its [[Dedup.MinhashRows]]
    * signature values, for <<HASH31:band>>.
    */
  private val MinhashBandHashSql = {
    val r = Dedup.MinhashRows
    foldSql(s"mh[b * $r + 1 : b * $r + $r]", 2147483647L)
  }

  /** The first n LSH hyperplanes as DuckDB VALUES rows of (pid,
    * 64-double list literal). Double.toString round-trips and
    * DuckDB's parser is correctly rounded, so the oracle's planes are
    * bit-identical to [[graft.functions.VectorOps]]'s.
    */
  private def planeValues(n: Int): String =
    graft.functions.VectorOps.planeRows.take(n).zipWithIndex
      .map { case (p, i) => s"($i, [${p.mkString(", ")}])" }
      .mkString(", ")

  /** The verification sign sketch's plane range [896, 1024) as DuckDB
    * VALUES rows — spid re-based to 0 so the SQL packs bits exactly
    * like `lshTableKeys(vd, 4, 32, planeOffset = 896)` does.
    */
  private def sketchPlaneValues: String =
    graft.functions.VectorOps.planeRows.slice(896, 1024).zipWithIndex
      .map { case (p, i) => s"($i, [${p.mkString(", ")}])" }
      .mkString(", ")

  /** Embedding near-dup oracle: buckets AND the 128-bit sign-sketch
    * pre-filter both modeled bit-for-bit (same plane literals, same
    * word packing, same Hamming cut as
    * [[graft.operators.Dedup.sketchMismatchCut]]), so oracle equality
    * is exact at every scale — the probabilistic filter is replicated,
    * not assumed lossless (ADVICE r10). Emits the CTE chain ending in
    * `fcand(id1, id2)` (sketch-surviving candidate pairs) plus the
    * vector view `v`; callers append the verification SELECT.
    */
  private def embedCandCtes(tau: Double): String =
    s"""v AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS vd FROM embeddings),
      |planes AS (SELECT * FROM (VALUES <<PLANES>>) pl(pid, p)),
      |sigs AS (
      |  SELECT vec_id, (pid // ${Dedup.EmbedSmallBits})::BIGINT * 4294967296
      |    + CAST(SUM(CASE WHEN list_dot_product(vd, p) > 0
      |        THEN (1::BIGINT << (pid % ${Dedup.EmbedSmallBits})) ELSE 0 END) AS BIGINT) AS bucket
      |  FROM v CROSS JOIN planes GROUP BY vec_id, pid // ${Dedup.EmbedSmallBits}),
      |cand AS (
      |  SELECT DISTINCT s1.vec_id AS id1, s2.vec_id AS id2
      |  FROM sigs s1 JOIN sigs s2 ON s1.bucket = s2.bucket
      |  WHERE s1.vec_id < s2.vec_id),
      |skplanes AS (SELECT * FROM (VALUES <<SKPLANES>>) sp(spid, sp)),
      |skw AS (
      |  SELECT vec_id, spid // 32 AS g,
      |    CAST(SUM(CASE WHEN list_dot_product(vd, sp) > 0
      |        THEN (1::BIGINT << (spid % 32)) ELSE 0 END) AS BIGINT) AS w
      |  FROM v CROSS JOIN skplanes GROUP BY vec_id, spid // 32),
      |skl AS (SELECT vec_id, list(w ORDER BY g) AS ws FROM skw GROUP BY vec_id),
      |fcand AS (
      |  SELECT id1, id2 FROM cand
      |  JOIN skl a ON a.vec_id = cand.id1
      |  JOIN skl b ON b.vec_id = cand.id2
      |  WHERE bit_count(xor(a.ws[1], b.ws[1])) + bit_count(xor(a.ws[2], b.ws[2]))
      |    + bit_count(xor(a.ws[3], b.ws[3])) + bit_count(xor(a.ws[4], b.ws[4]))
      |    <= <<SKCUT>>)""".stripMargin
      .replace("<<PLANES>>", planeValues(Dedup.EmbedSmallTables * Dedup.EmbedSmallBits))
      .replace("<<SKPLANES>>", sketchPlaneValues)
      .replace("<<SKCUT>>", Dedup.sketchMismatchCut(tau).toString)

  private def embedNearDupSql(tau: Double): String =
    ("WITH " + embedCandCtes(tau) + "\n" +
      """|SELECT id1, id2, ROUND(cos, 6) AS cos FROM (
        |  SELECT id1, id2, list_dot_product(v1.vd, v2.vd) /
        |    (sqrt(list_dot_product(v1.vd, v1.vd)) * sqrt(list_dot_product(v2.vd, v2.vd)))
        |      AS cos
        |  FROM fcand
        |  JOIN v v1 ON fcand.id1 = v1.vec_id
        |  JOIN v v2 ON fcand.id2 = v2.vec_id) t
        |WHERE cos >= <<TAU>>
        |ORDER BY id1, id2""".stripMargin)
      .replace("<<TAU>>", tau.toString)

  /** The trained IVF coarse quantizer as DuckDB VALUES rows of
    * (cluster_id, 64-double list literal), and the trained PQ codebook
    * as (s, cc, subDim-double list literal) rows. Training is
    * deterministic and driver-side ([[Similarity.ivfTrain]] and
    * Similarity's PQ Lloyd), so the model constants interpolate into
    * the oracle exactly like the LSH planes: ONE model shared by
    * operator and oracle, with assignment, routing, ADC scan and
    * ranking all re-derived independently in SQL.
    */
  private def centroidValues(m: Seq[Similarity.Centroid]): String =
    m.map(c => s"(${c.cluster_id}, [${c.centroid.mkString(", ")}])").mkString(", ")

  private def pqCodebookValues(m: Seq[Similarity.PqCentroid]): String =
    m.map(c => s"(${c.s}, ${c.c}, [${c.centroid.mkString(", ")}])").mkString(", ")

  /** The rolling-fingerprint fold family as DuckDB SQL — ONE emitter
    * shared by every oracle that hashes text
    * ([[graft.expressions.RollingFingerprint]]'s twin), so the fold
    * constants and shape cannot drift between sites.
    */
  private def foldSql(listExpr: String, prime: Long): String =
    s"list_reduce(list_prepend(0::BIGINT, $listExpr), " +
      s"(acc, c) -> (acc * 1000003 + c) % $prime)"
  private def charCodesSql(strExpr: String): String =
    s"list_transform(string_split($strExpr, ''), ch -> ascii(ch)::BIGINT)"
  private def hash31Sql(listExpr: String): String =
    foldSql(listExpr, 2147483647L)
  private def hash62Sql(listExpr: String): String =
    s"${foldSql(listExpr, 2147483647L)} * 4294967296 + ${foldSql(listExpr, 2147483629L)}"

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    *
    * The ANN model oracles ([[modelOracles]]) join only after their
    * query has trained a model this JVM: Verify runs every query
    * before dumping oracle SQL, so the dump always carries them; a
    * standalone call before any training degrades to rows-only for
    * those four, never to a wrong oracle.
    */
  def oracleSql: Map[String, String] = modelOracles ++ Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q2_join_agg" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,
    "q3_topk" ->
      """SELECT l_orderkey,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  STRFTIME(o_orderdate, '%Y-%m-%d') AS o_orderdate
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin,
    "q4_semijoin" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q5_antijoin" ->
      """SELECT c_mktsegment, COUNT(*) AS n_customers
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,
    "q6_filter_agg" ->
      """SELECT
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,
    "q7_window_rank" ->
      """SELECT c_mktsegment, c_custkey, c_acctbal, rnk FROM (
        |  SELECT c_mktsegment, c_custkey, c_acctbal,
        |    RANK() OVER (PARTITION BY c_mktsegment
        |                 ORDER BY c_acctbal DESC, c_custkey) AS rnk
        |  FROM customer) t
        |WHERE rnk <= 3
        |ORDER BY c_mktsegment, rnk, c_custkey""".stripMargin,
    "q8_running_sum" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
        |FROM orders
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    // event-time RANGE frame on epoch-day ints: peers at one day
    // share a frame, calendar gaps shrink it — ROWS can't express it
    "q26_moving_avg" ->
      """WITH o AS (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(date_diff('day', DATE '1970-01-01', o_orderdate) AS BIGINT)
        |      AS day
        |  FROM orders)
        |SELECT o_custkey, o_orderkey, day,
        |  CAST(COUNT(*) OVER w AS BIGINT) AS n_90d,
        |  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
        |    / (COUNT(*) OVER w), 6) AS avg_90d
        |FROM o
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY day
        |  RANGE BETWEEN 90 PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q9_distinct_agg" ->
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_partkey) AS n_parts,
        |  COUNT(DISTINCT l_suppkey) AS n_supps,
        |  COUNT(*) AS n_rows
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q10_having" ->
      """SELECT o_custkey, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        |FROM orders
        |GROUP BY o_custkey
        |HAVING COUNT(*) >= 12
        |ORDER BY o_custkey""".stripMargin,
    "q11_case_pivot" ->
      """SELECT n_name,
        |  CAST(SUM(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END) AS BIGINT) AS n_building,
        |  CAST(SUM(CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 ELSE 0 END) AS BIGINT) AS n_machinery,
        |  CAST(SUM(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END) AS BIGINT) AS n_automobile,
        |  COUNT(*) AS n_total
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin,
    "q12_rollup" ->
      """SELECT COALESCE(r_name, '(all)') AS region_name,
        |  COALESCE(n_name, '(all)') AS nation_name,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal,
        |  COUNT(*) AS n
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY region_name, nation_name""".stripMargin,
    "q13_union" ->
      """SELECT c_custkey AS cust_key FROM customer WHERE c_acctbal > 9000
        |UNION
        |SELECT o_custkey AS cust_key FROM orders WHERE o_totalprice > 300000
        |ORDER BY cust_key""".stripMargin,
    "q14_scalar_subquery" ->
      """SELECT p_brand, COUNT(*) AS n_above
        |FROM part
        |WHERE p_retailprice > (
        |  SELECT CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
        |  FROM part)
        |GROUP BY p_brand
        |ORDER BY p_brand""".stripMargin,
    "q15_percentiles" ->
      """SELECT c_mktsegment,
        |  ROUND(quantile_cont(c_acctbal, 0.25), 6) AS p25,
        |  ROUND(quantile_cont(c_acctbal, 0.5), 6) AS p50,
        |  ROUND(quantile_cont(c_acctbal, 0.75), 6) AS p75
        |FROM customer
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,
    "q16_crossjoin_small" ->
      """SELECT n_name, r_name
        |FROM nation CROSS JOIN region
        |WHERE n_regionkey <> r_regionkey
        |ORDER BY n_name, r_name""".stripMargin,
    "q17_corr_subquery" ->
      """WITH pa AS (
        |  SELECT l_partkey AS pk,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sq,
        |    COUNT(*) AS cnt
        |  FROM lineitem GROUP BY l_partkey)
        |SELECT
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly,
        |  COUNT(*) AS n
        |FROM lineitem JOIN pa ON l_partkey = pk
        |WHERE l_quantity * 5 * cnt < sq""".stripMargin,
    "q18_groupjoin_topk" ->
      """WITH big AS (
        |  SELECT l_orderkey,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 150)
        |SELECT c_custkey, c_name, o_orderkey,
        |  STRFTIME(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_totalprice, total_qty
        |FROM big
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY total_qty DESC, o_orderkey
        |LIMIT 20""".stripMargin,
    "q19_approx_distinct" ->
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_partkey) AS n_parts,
        |  COUNT(DISTINCT l_suppkey) AS n_supps,
        |  COUNT(*) AS n_rows,
        |  TRUE AS parts_ok,
        |  TRUE AS supps_ok
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q20_approx_percentile" ->
      """SELECT l_returnflag,
        |  PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY l_extendedprice) AS p50,
        |  PERCENTILE_DISC(0.95) WITHIN GROUP (ORDER BY l_extendedprice) AS p95,
        |  TRUE AS p50_ok,
        |  TRUE AS p95_ok
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q21_salted_agg" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q22_antijoin_scalar" ->
      """WITH ab AS (
        |  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_bal
        |  FROM customer WHERE c_acctbal > 0)
        |SELECT c_nationkey, COUNT(*) AS n_cust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM customer, ab
        |WHERE c_acctbal > avg_bal
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 350000)
        |GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin,
    "q23_or_pushdown" ->
      """SELECT p_brand,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 1 AND 20)
        |   OR (p_brand = 'Brand#22' AND p_size BETWEEN 10 AND 30
        |       AND l_quantity BETWEEN 10 AND 30)
        |   OR (p_brand = 'Brand#33' AND p_size BETWEEN 20 AND 50
        |       AND l_quantity BETWEEN 20 AND 40)
        |GROUP BY p_brand
        |ORDER BY p_brand""".stripMargin,
    "q24_salted_join" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    "q25_supplier_flow" ->
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |GROUP BY sn.n_name, cn.n_name
        |ORDER BY supp_nation, cust_nation""".stripMargin,
    "ev_asof_join" ->
      """WITH v AS (
        |  SELECT user_id, epoch_us(ts) AS v_us, MAX(event_id) AS v_event_id
        |  FROM events WHERE event_type = 'view'
        |  GROUP BY user_id, epoch_us(ts)),
        |p AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS p_us
        |  FROM events WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, p.p_us,
        |  COALESCE(v.v_event_id, -1) AS v_event_id,
        |  COALESCE(v.v_us, -1) AS v_us
        |FROM p ASOF LEFT JOIN v
        |  ON p.user_id = v.user_id AND v.v_us <= p.p_us
        |ORDER BY p.event_id""".stripMargin,
    "ev_range_join" ->
      """WITH v AS (
        |  SELECT user_id, epoch_us(ts) AS v_us
        |  FROM events WHERE event_type = 'view'),
        |p AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS p_us
        |  FROM events WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, p.p_us,
        |  COUNT(*) AS n_views,
        |  MIN(v.v_us) AS first_v_us,
        |  MAX(v.v_us) AS last_v_us
        |FROM p JOIN v
        |  ON p.user_id = v.user_id
        |  AND v.v_us >= p.p_us - 3600000000
        |  AND v.v_us < p.p_us
        |GROUP BY p.event_id, p.user_id, p.p_us
        |ORDER BY p.event_id""".stripMargin,
    "ev_applied_to_all" ->
      """SELECT event_id, event_type,
        |  COUNT(*) AS n_handlers,
        |  CAST(SUM(CASE WHEN (event_id * 31 + length(handler)) % 10 <> 0
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_acked,
        |  CASE WHEN CAST(SUM(CASE WHEN (event_id * 31 + length(handler)) % 10 <> 0
        |                     THEN 1 ELSE 0 END) AS BIGINT) = COUNT(*)
        |       THEN 'complete' ELSE 'pending' END AS status
        |FROM events
        |JOIN (VALUES
        |    ('click', 'click_handler'),
        |    ('purchase', 'billing_handler'),
        |    ('purchase', 'audit_handler'),
        |    ('signup', 'account_handler')) AS registry(r_event, handler)
        |  ON event_type = r_event
        |GROUP BY event_id, event_type
        |ORDER BY event_id""".stripMargin,
    "ev_dead_letter" ->
      """SELECT MIN(event_id) AS event_id, user_id, event_type,
        |  COUNT(*) AS delivery_count, 'dead_letter' AS destination
        |FROM events
        |GROUP BY user_id, event_type, CAST(FLOOR(value) AS BIGINT)
        |HAVING COUNT(*) >= 3
        |ORDER BY event_id""".stripMargin,
    "ev_idle_messages" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
        |  FROM events),
        |h AS (SELECT MAX(ts_us) AS head_us FROM e),
        |r AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
        |    ORDER BY ts_us DESC, event_id DESC) AS rn
        |  FROM e)
        |SELECT event_id, user_id, event_type,
        |  head_us - ts_us AS idle_us, 'claimable' AS status
        |FROM r, h
        |WHERE rn <= 10 AND head_us - ts_us > 86400000000
        |ORDER BY event_id""".stripMargin,
    "ev_route_counts" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "ev_route_dispatch" ->
      """SELECT event_type, COALESCE(handler, 'unhandled') AS handler,
        |  COUNT(*) AS n_events
        |FROM events
        |LEFT JOIN (VALUES
        |    ('click', 'click_handler'),
        |    ('purchase', 'billing_handler'),
        |    ('purchase', 'audit_handler'),
        |    ('signup', 'account_handler')) AS registry(r_event, handler)
        |  ON event_type = r_event
        |GROUP BY event_type, COALESCE(handler, 'unhandled')
        |ORDER BY event_type, COALESCE(handler, 'unhandled')""".stripMargin,
    "ev_echo" ->
      """SELECT event_id, event_type, user_id, value,
        |  'graft' AS application_name,
        |  'user-' || CAST(user_id AS VARCHAR) AS application_instance
        |FROM events
        |ORDER BY event_id""".stripMargin,
    "ev_instance_info" ->
      """SELECT user_id, COUNT(*) AS n_events,
        |  MIN(epoch_us(ts)) AS first_us,
        |  MAX(epoch_us(ts)) AS last_us,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  COUNT(DISTINCT event_type) AS n_types
        |FROM events
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,
    "ev_trim_last_n" ->
      """SELECT event_id, user_id, ts_us, event_type FROM (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events) t
        |WHERE rn <= 50
        |ORDER BY user_id, event_id""".stripMargin,
    "ev_trim_overflow" ->
      """SELECT user_id, COUNT(*) AS n_archived,
        |  MIN(ts_us) AS min_us, MAX(ts_us) AS max_us
        |FROM (
        |  SELECT user_id, epoch_us(ts) AS ts_us,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events) t
        |WHERE rn > 50
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,
    "ev_response_asof" ->
      """SELECT event_id, user_id, view_us, next_purchase_us FROM (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS view_us,
        |    MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) OVER (
        |      PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_purchase_us
        |  FROM events) t
        |WHERE event_type = 'view' AND next_purchase_us IS NOT NULL
        |ORDER BY event_id""".stripMargin,
    "ev_response_latency" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(gap_us) AS DOUBLE) / COUNT(*) AS avg_gap_us,
        |  MAX(gap_us) AS max_gap_us
        |FROM (
        |  SELECT event_type,
        |    LEAD(epoch_us(ts), 1) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) - epoch_us(ts) AS gap_us
        |  FROM events) t
        |WHERE gap_us IS NOT NULL
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "ev_session_gap" ->
      """SELECT user_id, session_idx, COUNT(*) AS n_events,
        |  MIN(ts_us) AS start_us, MAX(ts_us) AS end_us
        |FROM (
        |  SELECT user_id, ts_us,
        |    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
        |  FROM (
        |    SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |      CASE WHEN LAG(epoch_us(ts), 1) OVER (PARTITION BY user_id
        |          ORDER BY epoch_us(ts), event_id) IS NULL
        |        OR epoch_us(ts) - LAG(epoch_us(ts), 1) OVER (PARTITION BY user_id
        |          ORDER BY epoch_us(ts), event_id) > 1800000000
        |        THEN 1 ELSE 0 END AS is_new
        |    FROM events) x) y
        |GROUP BY user_id, session_idx
        |ORDER BY user_id, session_idx""".stripMargin,
    "ev_window_tumbling" ->
      """SELECT (epoch_us(ts) // 3600000000) * 3600 AS hour_start_s,
        |  event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY 1, event_type
        |ORDER BY hour_start_s, event_type""".stripMargin,
    "ev_window_sliding" ->
      """SELECT (epoch_us(ts) // 1800000000 - off) * 1800 AS win_start_s,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events CROSS JOIN (VALUES (0), (1)) AS offs(off)
        |GROUP BY 1
        |ORDER BY win_start_s""".stripMargin,
    "ev_props_extract" ->
      """SELECT TRY_CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) % 10 AS k_bucket,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY 1
        |ORDER BY k_bucket""".stripMargin,
    "ev_workflow_latency" ->
      """SELECT wf, COUNT(*) AS n_events,
        |  COUNT(DISTINCT event_type) AS n_types,
        |  COUNT(DISTINCT user_id) AS n_users,
        |  MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS span_us
        |FROM (
        |  SELECT TRY_CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT)
        |    AS wf, event_type, user_id, ts
        |  FROM events) t
        |WHERE wf IS NOT NULL
        |GROUP BY wf
        |ORDER BY wf""".stripMargin,
    // trailing 7-day RANGE frame on µs epochs; flood when count > 15
    "ev_rate_limit" ->
      """SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |  CAST(COUNT(*) OVER w AS BIGINT) AS n_in_window,
        |  CAST(CASE WHEN COUNT(*) OVER w > 15 THEN 1 ELSE 0 END AS BIGINT)
        |    AS flood
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin,
    "ev_funnel" ->
      """SELECT COUNT(v) AS n_view,
        |  COUNT(CASE WHEN c > v THEN 1 END) AS n_view_click,
        |  COUNT(CASE WHEN c > v AND p > c THEN 1 END) AS n_funnel
        |FROM (
        |  SELECT user_id,
        |    MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS v,
        |    MIN(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS c,
        |    MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS p
        |  FROM events GROUP BY user_id) t""".stripMargin,
    "ev_retention" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS d FROM events)
        |SELECT a.d AS day_idx, COUNT(*) AS active,
        |  CAST(SUM(CASE WHEN b.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS retained
        |FROM ud a LEFT JOIN ud b
        |  ON a.user_id = b.user_id AND b.d = a.d + 1
        |GROUP BY a.d
        |ORDER BY day_idx""".stripMargin,
    "ev_first_last" ->
      """SELECT user_id,
        |  MIN(CASE WHEN rn_a = 1 THEN event_type END) AS first_type,
        |  MIN(CASE WHEN rn_a = 1 THEN ts_us END) AS first_us,
        |  MIN(CASE WHEN rn_d = 1 THEN event_type END) AS last_type,
        |  MIN(CASE WHEN rn_d = 1 THEN ts_us END) AS last_us
        |FROM (
        |  SELECT user_id, event_type, epoch_us(ts) AS ts_us,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS rn_a,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn_d
        |  FROM events) t
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,
    "ev_pending_stats" ->
      """SELECT event_type,
        |  CAST(SUM(CASE WHEN value < 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_small,
        |  CAST(SUM(CASE WHEN value >= 50 AND value < 200 THEN 1 ELSE 0 END) AS BIGINT) AS n_mid,
        |  CAST(SUM(CASE WHEN value >= 200 THEN 1 ELSE 0 END) AS BIGINT) AS n_big,
        |  COUNT(*) AS n_total
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "ev_top_users" ->
      """SELECT user_id,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  COUNT(*) AS n
        |FROM events
        |GROUP BY user_id
        |ORDER BY total_value DESC, user_id
        |LIMIT 10""".stripMargin,
    "ev_topk_per_type" ->
      """SELECT event_type, rank, user_id, total_value FROM (
        |  SELECT event_type, user_id, total_value,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY total_value DESC, user_id) AS rank
        |  FROM (
        |    SELECT event_type, user_id,
        |      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |    FROM events GROUP BY event_type, user_id) t) w
        |WHERE rank <= 3
        |ORDER BY event_type, rank""".stripMargin,
    "ev_zscore_outliers" ->
      """WITH m AS (
        |  SELECT event_type AS m_type,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS mean,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS msq,
        |    COUNT(*) AS n
        |  FROM events GROUP BY event_type)
        |SELECT event_id, event_type, value,
        |  ROUND((value - mean) / sqrt(msq - mean * mean), 6) AS z
        |FROM events JOIN m ON event_type = m_type
        |WHERE msq - mean * mean > 0
        |  AND ABS((value - mean) / sqrt(msq - mean * mean)) > 2.5
        |ORDER BY event_id""".stripMargin,
    "ev_dedup_exact" ->
      """SELECT MIN(event_id) AS event_id, user_id, event_type, value,
        |  COUNT(*) AS dup_count
        |FROM events
        |GROUP BY user_id, event_type, props, value
        |ORDER BY event_id""".stripMargin,
    "ev_config_registry" ->
      """SELECT * FROM (VALUES
        |  ('accounts', 'B', 'signup', 'graft.handlers.account_handler'),
        |  ('ingest', 'A', 'click', 'graft.handlers.click_handler'),
        |  ('ingest', 'A', 'purchase', 'graft.audit.audit_handler'),
        |  ('ingest', 'A', 'purchase', 'graft.billing.billing_handler'))
        |  v(bus, bus_group, r_event, handler)
        |ORDER BY bus, r_event, handler""".stripMargin,
    "ev_journeys" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id
        |  FROM events),
        |r AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id) AS rn
        |  FROM e),
        |j AS (
        |  SELECT user_id,
        |    string_agg(event_type, '>' ORDER BY ts_us, event_id) AS journey
        |  FROM r WHERE rn <= 8 GROUP BY user_id)
        |SELECT journey, COUNT(*) AS n_users
        |FROM j GROUP BY journey
        |ORDER BY n_users DESC, journey
        |LIMIT 20""".stripMargin,
    "ev_close_streams" ->
      """SELECT user_id, COUNT(*) AS n_events,
        |  MIN(epoch_us(ts)) AS first_us, MAX(epoch_us(ts)) AS last_us
        |FROM events
        |WHERE user_id IN (3, 7, 11)
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,
    "ev_requeue" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us,
        |    CAST(FLOOR(value) AS BIGINT) AS value_key
        |  FROM events),
        |w AS (
        |  SELECT *,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY ts_us DESC, event_id DESC) AS rn,
        |    COUNT(*) OVER (PARTITION BY user_id, event_type, value_key) + 1
        |      AS delivery_count
        |  FROM e)
        |SELECT event_id, user_id, event_type, delivery_count,
        |  CASE WHEN delivery_count >= 3 THEN 'dead_letter' ELSE 'inbox' END
        |    AS destination
        |FROM w WHERE rn <= 10
        |ORDER BY event_id""".stripMargin,
    "ev_inbox_read" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, value, epoch_us(ts) AS ts_us
        |  FROM events WHERE user_id IN (3, 7, 11)),
        |p AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
        |    ORDER BY ts_us DESC, event_id DESC) AS rn
        |  FROM e),
        |i AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |    ORDER BY ts_us DESC, event_id DESC) AS ir
        |  FROM p WHERE rn <= 10)
        |SELECT event_id, user_id, event_type, value, ts_us,
        |  'worker_1' AS claimed_by
        |FROM i WHERE ir = 1
        |ORDER BY event_id""".stripMargin,
    "ev_organize" ->
      """SELECT 'stream_' || CAST(user_id % 4 AS VARCHAR) AS stream, event_type,
        |  COUNT(*) AS n_messages,
        |  MIN(event_id) AS first_id, MAX(event_id) AS last_id,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY stream, event_type""".stripMargin,
    "ev_purge_consumers" ->
      """SELECT event_id, user_id, event_type, 'inbox' AS destination FROM (
        |  SELECT event_id, user_id, event_type,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events WHERE user_id IN (3, 7, 11)) t
        |WHERE rn <= 10
        |ORDER BY event_id""".stripMargin,
    "txt_tokens" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_bpe_tokens
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    "txt_quality" ->
      """SELECT doc_id, n_words, n_stop,
        |  ROUND(stop_ratio, 6) AS stop_ratio,
        |  ROUND(CAST(length(text) - n_words + 1 AS DOUBLE) / n_words, 6) AS mean_word_len,
        |  ROUND(LEAST(1.0, n_words / 100.0) * 0.5 + (1.0 - stop_ratio) * 0.5, 6) AS score
        |FROM (
        |  SELECT doc_id, text,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |    CAST(len(list_filter(string_split(text, ' '), w -> w IN ('the', 'a'))) AS BIGINT) AS n_stop,
        |    CAST(len(list_filter(string_split(text, ' '), w -> w IN ('the', 'a'))) AS DOUBLE)
        |      / len(string_split(text, ' ')) AS stop_ratio
        |  FROM documents) t
        |ORDER BY doc_id""".stripMargin,
    "txt_langid" ->
      """SELECT doc_id, predicted_lang,
        |  CAST(CASE WHEN predicted_lang = lang THEN 1 ELSE 0 END AS BIGINT) AS is_match
        |FROM (
        |  SELECT doc_id, lang,
        |    CASE WHEN c_en >= c_fr AND c_en >= c_es AND c_en >= c_de THEN 'en'
        |         WHEN c_fr >= c_es AND c_fr >= c_de THEN 'fr'
        |         WHEN c_es >= c_de THEN 'es'
        |         ELSE 'de' END AS predicted_lang
        |  FROM (
        |    SELECT doc_id, lang,
        |      (length(text) - length(replace(text, ' the ', ''))) // 5 AS c_en,
        |      (length(text) - length(replace(text, ' le ', ''))) // 4 AS c_fr,
        |      (length(text) - length(replace(text, ' el ', ''))) // 4 AS c_es,
        |      (length(text) - length(replace(text, ' der ', ''))) // 5 AS c_de
        |    FROM documents) x) t
        |ORDER BY doc_id""".stripMargin,
    "txt_fingerprint" ->
      s"""WITH cp AS (SELECT doc_id, ${charCodesSql("text")} AS cps FROM documents)
         |SELECT doc_id, ${hash62Sql("cps")} AS fp
         |FROM cp
         |ORDER BY doc_id""".stripMargin,
    "txt_entropy" ->
      """WITH ch AS (
        |  SELECT doc_id, UNNEST(string_split(text, '')) AS ch
        |  FROM documents WHERE length(text) > 0),
        |cc AS (SELECT doc_id, ch, COUNT(*) AS c FROM ch GROUP BY doc_id, ch),
        |ag AS (
        |  SELECT doc_id, COUNT(*) AS distinct_chars,
        |    CAST(SUM(c) AS BIGINT) AS n_chars,
        |    SUM(CAST(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE))
        |        AS DECIMAL(28,12))) AS sl
        |  FROM cc GROUP BY doc_id)
        |SELECT doc_id, distinct_chars, n_chars,
        |  ROUND(log2(CAST(n_chars AS DOUBLE))
        |    - CAST(sl AS DOUBLE) / CAST(n_chars AS DOUBLE), 6) AS entropy
        |FROM ag
        |ORDER BY doc_id""".stripMargin,
    "txt_surprisal" ->
      """WITH words AS (
        |  SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents),
        |tf AS (SELECT w, COUNT(*) AS tf FROM words GROUP BY w),
        |n AS (SELECT CAST(SUM(tf) AS BIGINT) AS n_total FROM tf)
        |SELECT doc_id, COUNT(*) AS n_tokens,
        |  ROUND(CAST(SUM(CAST(log2(CAST(n_total AS DOUBLE))
        |        - log2(CAST(tf AS DOUBLE)) AS DECIMAL(28,12))) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE), 6) AS avg_surprisal_bits
        |FROM words JOIN tf USING (w) CROSS JOIN n
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,
    // add-1 smoothed bigram LM: c1 derives from the bigram table
    // (Σ_w2 c12), V from the model's own w1/w2 marginals — all
    // re-derived here so the model is trained twice independently
    "txt_bigram_surprisal" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |bg AS (
        |  SELECT doc_id, w[i] AS w1, w[i+1] AS w2
        |  FROM toks, UNNEST(generate_series(1, len(w) - 1)) AS t(i)),
        |stats AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY w1, w2),
        |hist AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM stats GROUP BY w1),
        |voc AS (
        |  SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS v
        |  FROM (SELECT w1 AS w FROM stats UNION ALL SELECT w2 FROM stats) t)
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |  ROUND(CAST(SUM(CAST(log2(CAST(c1 AS DOUBLE) + CAST(v AS DOUBLE))
        |        - log2(CAST(c12 AS DOUBLE) + CAST(1.0 AS DOUBLE))
        |      AS DECIMAL(28,12))) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE), 6) AS avg_bigram_bits
        |FROM bg JOIN stats USING (w1, w2) JOIN hist USING (w1) CROSS JOIN voc
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,
    // frozen LR weights (-0.5 bias, 2.2 len, 1.8 stop, -3.0 digit,
    // 0.7 word-len) mirrored from TextOps.lrQuality; note DuckDB
    // regexp_replace needs the 'g' flag to match Spark's replace-all
    "txt_lr_quality" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    LEAST(CAST(1.0 AS DOUBLE),
        |      CAST(len(string_split(text, ' ')) AS BIGINT)
        |        / CAST(100.0 AS DOUBLE)) AS x1,
        |    CAST(len(list_filter(string_split(text, ' '),
        |        w -> w IN ('the', 'a'))) AS DOUBLE)
        |      / len(string_split(text, ' ')) AS x2,
        |    CAST(length(text)
        |        - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
        |      / length(text) AS x3,
        |    LEAST(CAST(1.0 AS DOUBLE),
        |      CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
        |        / len(string_split(text, ' ')) / CAST(10.0 AS DOUBLE)) AS x4
        |  FROM documents),
        |z AS (
        |  SELECT doc_id,
        |    CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE)
        |      + exp(-(-0.5 + 2.2 * x1 + 1.8 * x2 - 3.0 * x3 + 0.7 * x4))) AS p
        |  FROM f)
        |SELECT doc_id, ROUND(p, 6) AS lr_score,
        |  CAST(CASE WHEN p >= 0.5 THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM z
        |ORDER BY doc_id""".stripMargin,
    // ranking orders on the ROUNDED score — a raw-double order could
    // flip the rank-k cut on a last-ulp ln() difference across engines
    "txt_tfidf_terms" ->
      """WITH words AS (
        |  SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents),
        |tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM words GROUP BY doc_id, w),
        |dfreq AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |sc AS (
        |  SELECT doc_id, w, ROUND(CAST(tf AS DOUBLE)
        |      * ln(CAST(n_docs + 1 AS DOUBLE) / CAST(df + 1 AS DOUBLE)), 6)
        |    AS score
        |  FROM tf JOIN dfreq USING (w) CROSS JOIN n)
        |SELECT doc_id, rnk, term, score FROM (
        |  SELECT doc_id, w AS term, score,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, w) AS BIGINT) AS rnk
        |  FROM sc) t
        |WHERE rnk <= 5
        |ORDER BY doc_id, rnk""".stripMargin,
    "txt_bpe_pairs" ->
      """WITH wtf AS (
        |  SELECT w, COUNT(*) AS tf FROM (
        |    SELECT UNNEST(string_split(text, ' ')) AS w FROM documents) t
        |  WHERE length(w) >= 2
        |  GROUP BY w),
        |pairs AS (
        |  SELECT substring(w, i, 1) || substring(w, i + 1, 1) AS pair, tf
        |  FROM wtf, UNNEST(generate_series(1, length(w) - 1)) AS t(i))
        |SELECT pair, CAST(SUM(tf) AS BIGINT) AS n
        |FROM pairs GROUP BY pair
        |ORDER BY n DESC, pair
        |LIMIT 50""".stripMargin,
    // merge chain emitted by the SAME TextOps.bpeMergedSql the
    // operator uses — the rewrites cannot drift between engines
    "txt_bpe_apply" -> {
      val m = TextOps.bpeMergedSql("w", sparkSql = false)
      s"""WITH t AS (
         |  SELECT doc_id,
         |    COALESCE(CAST(list_sum(list_transform(
         |      list_filter(string_split(text, ' '), w -> length(w) > 0),
         |      w -> length(w))) AS BIGINT), 0) AS n_char_tokens,
         |    COALESCE(CAST(list_sum(list_transform(
         |      list_filter(string_split(text, ' '), w -> length(w) > 0),
         |      w -> length($m) - length(replace($m, '${TextOps.BpeSep}', '')) - 1)) AS BIGINT), 0)
         |      AS n_bpe_tokens
         |  FROM documents)
         |SELECT doc_id, n_char_tokens, n_bpe_tokens,
         |  CASE WHEN n_bpe_tokens = 0 THEN CAST(1.0 AS DOUBLE)
         |    ELSE ROUND(CAST(n_char_tokens AS DOUBLE) / n_bpe_tokens, 6) END
         |    AS compression
         |FROM t
         |ORDER BY doc_id""".stripMargin
    },
    "txt_vocab" ->
      """SELECT word, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
        |FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS word
        |      FROM documents) t
        |GROUP BY word
        |ORDER BY tf DESC, word
        |LIMIT 100""".stripMargin,
    "dd_clean_pipeline" ->
      s"""WITH n AS (
        |  SELECT doc_id,
        |    regexp_replace(trim(lower(text)), ' +', ' ', 'g') AS norm_text
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, norm_text,
        |    CAST(len(string_split(norm_text, ' ')) AS BIGINT) AS n_words,
        |    CAST(len(list_filter(string_split(norm_text, ' '),
        |      w -> w IN ('the', 'a'))) AS BIGINT) AS n_stop
        |  FROM n)
        |SELECT MIN(doc_id) AS doc_id, md5(norm_text) AS h,
        |  COUNT(*) AS n_dups, MIN(n_words) AS n_words
        |FROM f
        |WHERE $CleanCutSql
        |GROUP BY md5(norm_text)
        |ORDER BY doc_id""".stripMargin,
    // the composed curation pipeline: every CTE is the corresponding
    // stage oracle (clean/score from dd_clean_pipeline, canonical via
    // the h window, budget window from samp_token_budget) chained
    "pipe_curate" ->
      s"""WITH n AS (
        |  SELECT doc_id, source,
        |    regexp_replace(trim(lower(text)), ' +', ' ', 'g') AS norm_text
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, source, md5(norm_text) AS h,
        |    CAST(len(string_split(norm_text, ' ')) AS BIGINT) AS n_words,
        |    CAST(len(list_filter(string_split(norm_text, ' '),
        |      w -> w IN ('the', 'a'))) AS BIGINT) AS n_stop
        |  FROM n),
        |sc AS (
        |  SELECT * FROM f
        |  WHERE $CleanCutSql),
        |canon AS (
        |  SELECT doc_id, source, h, n_words, n_stop,
        |    ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY h) AS n_dups
        |  FROM sc),
        |q AS (
        |  SELECT doc_id, source, h, CAST(n_dups AS BIGINT) AS n_dups, n_words,
        |    ROUND(LEAST(1.0, n_words / 100.0) * 0.5
        |      + (1.0 - CAST(n_stop AS DOUBLE) / n_words) * 0.5, 6) AS score
        |  FROM canon WHERE rn = 1),
        |cum AS (
        |  SELECT doc_id, source, h, n_dups, n_words, score,
        |    CAST(SUM(n_words) OVER (PARTITION BY source
        |      ORDER BY score DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_tokens
        |  FROM q)
        |SELECT doc_id, source, h, n_dups, n_words, score, cum_tokens,
        |  CAST(CASE WHEN cum_tokens <= 5000 THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM cum
        |ORDER BY doc_id""".stripMargin,
    "dd_incremental" ->
      s"""WITH n AS (
        |  SELECT doc_id,
        |    regexp_replace(trim(lower(text)), ' +', ' ', 'g') AS norm_text
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, md5(norm_text) AS h,
        |    CAST(len(string_split(norm_text, ' ')) AS BIGINT) AS n_words,
        |    CAST(len(list_filter(string_split(norm_text, ' '),
        |      w -> w IN ('the', 'a'))) AS BIGINT) AS n_stop
        |  FROM n),
        |sc AS (
        |  SELECT * FROM f
        |  WHERE $CleanCutSql),
        |old AS (SELECT DISTINCT h FROM sc WHERE doc_id < ${Dedup.SeenSplitId})
        |SELECT MIN(doc_id) AS doc_id, h, COUNT(*) AS n_batch_dups,
        |  MIN(n_words) AS n_words
        |FROM sc
        |WHERE doc_id >= ${Dedup.SeenSplitId} AND h NOT IN (SELECT h FROM old)
        |GROUP BY h
        |ORDER BY doc_id""".stripMargin,
    "dd_exact" ->
      """SELECT md5(text) AS h, COUNT(*) AS n_docs, MIN(doc_id) AS canonical
        |FROM documents
        |GROUP BY md5(text)
        |ORDER BY h""".stripMargin,
    "dd_ngram_jaccard" -> jaccardPairsSql,
    // near-superset pairs: same shingle derivation, containment cut
    // (min-size denominator) instead of the union denominator
    "dd_containment" -> containmentPairsSql("WITH ", "documents"),
    // the prefix-filtered candidate generator is LOSSLESS for the
    // containment cut (pigeonhole over the smaller doc's rarest
    // shingles), so its exact-SQL contract is identical to
    // dd_containment's — same oracle, different (scalable) plan
    "dd_containment_lsh" -> containmentPairsSql("WITH ", "documents"),
    // the containment dispatcher: whichever candidate generator the
    // density probe picks (rarest-prefix lossless or banded-MinHash),
    // verification is exact and on this corpus the result set equals
    // the exact contract — same oracle as dd_containment
    "dd_containment_auto" -> containmentPairsSql("WITH ", "documents"),
    // the size-stratified banded generator: per size-class-gap arms
    // band for the gap-adjusted Jaccard threshold, every candidate
    // exactly verified — on this corpus (true containment pairs all
    // within gap ≤ 5 and J ≥ 0.89, where the gap-0 arm's recall is
    // 1 − 10⁻¹⁶) the result set equals the full exact contract
    "dd_containment_strat" -> containmentPairsSql("WITH ", "documents"),
    // planted-pair twin: same exact-containment contract over the
    // corpus plus one verbatim copy of doc 0 — the (0, 9e11) pair is
    // a J = 1 gap-0 containment pair the stratified generator finds
    // with probability exactly 1, so a hash match here certifies a
    // FOUND planted pair, not a vacuous empty-set equality
    "dd_containment_strat_planted" -> containmentPairsSql(
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 900000000000 AS doc_id, text FROM documents
        |  WHERE doc_id = 0),
        |""".stripMargin, "corpus"),
    // budget-knob twin: the same exact-containment contract over the
    // corpus plus one planted gap-1 embedded doc (doc 0 ++ suffixed
    // copy — 2S+2 shingles vs S, one size class up, C = 1); the
    // operator runs with candBudgetPerDoc = 16, so a hash match
    // certifies a FOUND gap-1 pair through the budget knob's path
    "dd_containment_strat_budget" -> containmentPairsSql(
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 900000000000 AS doc_id,
        |    text || ' ' || regexp_replace(text, '(\S+)', '\1zq', 'g') AS text
        |  FROM documents WHERE doc_id = 0),
        |""".stripMargin, "corpus"),
    // the LSH-verified dense-regime path: candidates are banded
    // MinHash buckets, but every candidate is verified with an exact
    // intersection count, so against THIS corpus (true pairs ≥ 0.89
    // Jaccard, where banded recall is 1 − 4·10⁻⁷) the result set is
    // the full exact contract — the oracle asserts exactly that
    "dd_jaccard_lsh" -> jaccardPairsSql,
    // the adaptive dispatcher must match the same exact-Jaccard
    // contract whichever physical strategy its vocabulary probe picks
    "dd_jaccard_adaptive" -> jaccardPairsSql,
    "dd_contamination" ->
      ("WITH " + shingleCtes("documents") + ",\n" +
        s"""|ev AS (SELECT doc_id AS eval_id, g FROM tri WHERE doc_id < ${Dedup.ContaminationEvalIds}),
        |es AS (SELECT eval_id, COUNT(*) AS s_eval FROM ev GROUP BY eval_id),
        |tr AS (SELECT doc_id AS train_id, g FROM tri WHERE doc_id >= ${Dedup.ContaminationEvalIds})
        |SELECT eval_id, train_id, inter, s_eval FROM (
        |  SELECT train_id, eval_id, COUNT(*) AS inter
        |  FROM tr JOIN ev USING (g) GROUP BY 1, 2) x
        |JOIN es USING (eval_id)
        |WHERE inter * ${Dedup.TauDenom} >= s_eval * ${Dedup.ContaminationTauNum}
        |ORDER BY eval_id, train_id""".stripMargin),
    "dd_dup_spans" ->
      ("""WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |base AS (SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n FROM toks),
        |gs AS (
        |  SELECT doc_id, i AS pos, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS gstr
        |  FROM base, UNNEST(generate_series(1, CAST(n AS INT) - 2)) AS t(i)
        |  WHERE n >= 3),
        |gc AS (SELECT doc_id, pos, <<CODES:gstr>> AS cps FROM gs),
        |grams AS (SELECT doc_id, pos, <<HASH62:cps>> AS g FROM gc),
        |dup AS (SELECT g FROM grams GROUP BY g
        |        HAVING MIN(doc_id) <> MAX(doc_id)),
        |cov AS (
        |  SELECT DISTINCT doc_id, p
        |  FROM grams JOIN dup USING (g),
        |       UNNEST(generate_series(pos, pos + 2)) AS c(p)),
        |cnt AS (SELECT doc_id, COUNT(*) AS n_dup_tokens FROM cov GROUP BY doc_id)
        |SELECT b.doc_id, b.n AS n_tokens,
        |  COALESCE(cnt.n_dup_tokens, 0) AS n_dup_tokens,
        |  COALESCE(cnt.n_dup_tokens, 0) * 100 // b.n AS dup_pct
        |FROM base b LEFT JOIN cnt USING (doc_id)
        |ORDER BY b.doc_id""".stripMargin
        .replace("<<CODES:gstr>>", charCodesSql("gstr"))
        .replace("<<HASH62:cps>>", hash62Sql("cps"))),
    "dd_cluster_cc" ->
      (JaccardComponentCtes + "\n" +
      """|SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component,
        |  CAST(CASE WHEN COALESCE(c.component, d.doc_id) = d.doc_id
        |       THEN 1 ELSE 0 END AS BIGINT) AS is_canonical
        |FROM documents d LEFT JOIN comp c ON d.doc_id = c.v
        |ORDER BY d.doc_id""".stripMargin),
    "dd_canonicalize" ->
      (JaccardComponentCtes + ",\n" +
      """|alldocs AS (
        |  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component, d.n_chars
        |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.v),
        |ranked AS (
        |  SELECT doc_id, component,
        |    COUNT(*) OVER (PARTITION BY component) AS n_members,
        |    ROW_NUMBER() OVER (PARTITION BY component
        |      ORDER BY n_chars DESC, doc_id) AS rnk
        |  FROM alldocs)
        |SELECT doc_id, component, n_members,
        |  CAST(CASE WHEN rnk = 1 THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM ranked
        |ORDER BY doc_id""".stripMargin),
    // soft dedup: same component derivation as dd_cluster_cc, then
    // weight = 1/|cluster| so each cluster sums to one unit of loss
    "dd_soft_dedup" ->
      (JaccardComponentCtes + ",\n" +
      """|lab AS (
        |  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
        |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.v)
        |SELECT doc_id, component,
        |  COUNT(*) OVER (PARTITION BY component) AS n_members,
        |  ROUND(CAST(1.0 AS DOUBLE)
        |    / COUNT(*) OVER (PARTITION BY component), 6) AS weight
        |FROM lab
        |ORDER BY doc_id""".stripMargin),
    "txt_pii_redact" ->
      """WITH wp AS (
        |  SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com'
        |    || ' or +1-555-01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
        |    || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |    || ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1' AS with_pii
        |  FROM documents),
        |r2 AS (
        |  SELECT doc_id, with_pii,
        |    regexp_replace(regexp_replace(with_pii,
        |      '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '[EMAIL]', 'g'),
        |      '\+[0-9]{1,2}-[0-9]{3}-[0-9]{3,4}-[0-9]{4}', '[PHONE]', 'g') AS part_red
        |  FROM wp)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(with_pii,
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(with_pii,
        |    '\+[0-9]{1,2}-[0-9]{3}-[0-9]{3,4}-[0-9]{4}')) AS BIGINT) AS n_phones,
        |  CAST(len(regexp_extract_all(part_red,
        |    '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS BIGINT) AS n_ips,
        |  md5(regexp_replace(part_red,
        |    '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '[IP]', 'g')) AS redacted_md5
        |FROM r2
        |ORDER BY doc_id""".stripMargin,
    "txt_repetition" ->
      """WITH wc AS (
        |  SELECT doc_id, w, COUNT(*) AS n FROM (
        |    SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents) t
        |  GROUP BY doc_id, w),
        |words AS (
        |  SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_words,
        |    COUNT(*) AS n_distinct_words, CAST(MAX(n) AS BIGINT) AS top_word_n
        |  FROM wc GROUP BY doc_id),
        |bg AS (
        |  SELECT doc_id, b, COUNT(*) AS n FROM (
        |    SELECT doc_id, w[i] || ' ' || w[i+1] AS b
        |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |          WHERE len(string_split(text, ' ')) >= 2) x,
        |         UNNEST(generate_series(1, len(w) - 1)) AS t(i)) y
        |  GROUP BY doc_id, b),
        |bigrams AS (
        |  SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_bigrams,
        |    COUNT(*) AS n_distinct_bigrams
        |  FROM bg GROUP BY doc_id)
        |SELECT w.doc_id, n_words, n_distinct_words, top_word_n,
        |  n_bigrams, n_distinct_bigrams,
        |  (n_bigrams - n_distinct_bigrams) * 100 // n_bigrams AS dup_bigram_pct,
        |  CAST(CASE WHEN (n_bigrams - n_distinct_bigrams) * 100 // n_bigrams >= 20
        |       THEN 1 ELSE 0 END AS BIGINT) AS is_repetitive
        |FROM words w JOIN bigrams USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "txt_bm25" ->
      """WITH qt AS (SELECT * FROM (VALUES
        |    (0, 'spark'), (0, 'join'), (1, 'hash'), (1, 'table'),
        |    (2, 'stream'), (2, 'window'), (2, 'batch'),
        |    (3, 'vector'), (3, 'scan')) v(query_id, term)),
        |corpus AS (
        |  SELECT COUNT(*) AS n_docs,
        |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_dl
        |  FROM documents),
        |tf0 AS (
        |  SELECT doc_id, term, COUNT(*) AS tf, MAX(dl) AS dl FROM (
        |    SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
        |      UNNEST(string_split(text, ' ')) AS term
        |    FROM documents) t
        |  WHERE term IN (SELECT DISTINCT term FROM qt)
        |  GROUP BY doc_id, term),
        |tf AS (SELECT *, COUNT(*) OVER (PARTITION BY term) AS df FROM tf0),
        |scored AS (
        |  SELECT query_id, doc_id,
        |    SUM(CAST(
        |      ln(1.0 + (CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
        |      * (CAST(tf AS DOUBLE) * 2.2)
        |      / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))
        |      AS DECIMAL(38,15))) AS score_exact
        |  FROM tf JOIN qt USING (term)
        |  CROSS JOIN (SELECT n_docs, CAST(sum_dl AS DOUBLE) / n_docs AS avgdl
        |              FROM corpus) c
        |  GROUP BY query_id, doc_id)
        |SELECT query_id, rank, doc_id,
        |  ROUND(CAST(score_exact AS DOUBLE), 6) AS score FROM (
        |  SELECT query_id, doc_id, score_exact,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY score_exact DESC, doc_id) AS rank
        |  FROM scored) t
        |WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin,
    "samp_chunk" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS w,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |ch AS (
        |  SELECT doc_id, w,
        |    UNNEST(generate_series(0, GREATEST(0, (n_tokens - 32 + 23) // 24)))
        |      AS chunk_idx
        |  FROM d)
        |SELECT doc_id, chunk_idx, chunk_idx * 24 + 1 AS start_tok,
        |  CAST(len(w[chunk_idx * 24 + 1 : chunk_idx * 24 + 32]) AS BIGINT)
        |    AS n_chunk_tokens,
        |  md5(array_to_string(w[chunk_idx * 24 + 1 : chunk_idx * 24 + 32], ' '))
        |    AS chunk_md5
        |FROM ch
        |ORDER BY doc_id, chunk_idx""".stripMargin,
    // per-shard budget = 20000/8 = 2500 tokens (mirrors the Scala
    // defaults); same quality-score CTE as samp_curriculum
    "samp_token_budget" ->
      """WITH q AS (
        |  SELECT doc_id, CAST(doc_id % 8 AS BIGINT) AS shard,
        |    ROUND(LEAST(1.0, n_words / 100.0) * 0.5
        |      + (1.0 - stop_ratio) * 0.5, 6) AS score,
        |    n_words
        |  FROM (
        |    SELECT doc_id,
        |      CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |      CAST(len(list_filter(string_split(text, ' '),
        |        w -> w IN ('the', 'a'))) AS DOUBLE)
        |        / len(string_split(text, ' ')) AS stop_ratio
        |    FROM documents) t),
        |cum AS (
        |  SELECT doc_id, shard, score, n_words,
        |    CAST(SUM(n_words) OVER (PARTITION BY shard
        |      ORDER BY score DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_tokens
        |  FROM q)
        |SELECT doc_id, shard, score, n_words, cum_tokens,
        |  CAST(CASE WHEN cum_tokens <= 2500 THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM cum
        |ORDER BY doc_id""".stripMargin,
    "samp_curriculum" ->
      """WITH q AS (
        |  SELECT doc_id,
        |    ROUND(LEAST(1.0, n_words / 100.0) * 0.5 + (1.0 - stop_ratio) * 0.5, 6)
        |      AS score
        |  FROM (
        |    SELECT doc_id,
        |      CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |      CAST(len(list_filter(string_split(text, ' '),
        |        w -> w IN ('the', 'a'))) AS DOUBLE)
        |        / len(string_split(text, ' ')) AS stop_ratio
        |    FROM documents) t)
        |SELECT q.doc_id, source, score,
        |  CAST(NTILE(4) OVER (PARTITION BY source
        |    ORDER BY score DESC, q.doc_id) AS BIGINT) AS stage
        |FROM q JOIN documents d ON q.doc_id = d.doc_id
        |ORDER BY q.doc_id""".stripMargin,
    "samp_interleave" ->
      """WITH r AS (
        |  SELECT doc_id, source,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id)
        |      AS rank_in_source,
        |    COUNT(*) OVER (PARTITION BY source) AS n_source
        |  FROM documents)
        |SELECT doc_id, source, rank_in_source, n_source
        |FROM r
        |ORDER BY CAST(rank_in_source AS DOUBLE) / n_source,
        |  source, doc_id""".stripMargin,
    "samp_stratified" ->
      """SELECT doc_id, lang, source, n_chars
        |FROM documents
        |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
        |  CASE WHEN lang = 'en' THEN '28' ELSE '50' END
        |ORDER BY doc_id""".stripMargin,
    "samp_corpus_report" ->
      s"""WITH n AS (
        |  SELECT doc_id, source,
        |    regexp_replace(trim(lower(text)), ' +', ' ', 'g') AS norm_text
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, source, norm_text,
        |    CAST(len(string_split(norm_text, ' ')) AS BIGINT) AS n_words,
        |    CAST(len(list_filter(string_split(norm_text, ' '),
        |      w -> w IN ('the', 'a'))) AS BIGINT) AS n_stop
        |  FROM n),
        |kept AS (
        |  SELECT MIN(doc_id) AS doc_id, MIN_BY(source, doc_id) AS source,
        |    MIN(n_words) AS n_words
        |  FROM f
        |  WHERE $CleanCutSql
        |  GROUP BY md5(norm_text))
        |SELECT
        |  CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
        |       WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
        |       ELSE 'test' END AS split,
        |  source, COUNT(*) AS n_docs, CAST(SUM(n_words) AS BIGINT) AS n_tokens
        |FROM kept
        |GROUP BY 1, 2
        |ORDER BY split, source""".stripMargin,
    "samp_shard" ->
      (s"""WITH k AS (
        |  SELECT doc_id, source,
        |    (${hash31Sql(charCodesSql("CAST(doc_id AS VARCHAR)"))}
        |      * 2654435761) % 2147483647 AS mx
        |  FROM documents)
        |SELECT mx % 8 AS shard,
        |  ROW_NUMBER() OVER (PARTITION BY mx % 8 ORDER BY mx, doc_id) AS pos,
        |  doc_id, source
        |FROM k
        |ORDER BY shard, pos""".stripMargin),
    "samp_dsir" ->
      """WITH wt AS (
        |  SELECT UNNEST(string_split(text, ' ')) AS w FROM documents
        |  WHERE source = 'src0'),
        |wg AS (
        |  SELECT UNNEST(string_split(text, ' ')) AS w FROM documents
        |  WHERE source <> 'src0'),
        |tft AS (SELECT w, COUNT(*) AS tf_t FROM wt GROUP BY w),
        |tfg AS (SELECT w, COUNT(*) AS tf_g FROM wg GROUP BY w),
        |vocab AS (
        |  SELECT COALESCE(tft.w, tfg.w) AS w,
        |    COALESCE(tf_t, 0) AS tf_t, COALESCE(tf_g, 0) AS tf_g
        |  FROM tft FULL OUTER JOIN tfg ON tft.w = tfg.w),
        |scal AS (
        |  SELECT CAST(SUM(tf_t) AS BIGINT) AS n_t,
        |    CAST(SUM(tf_g) AS BIGINT) AS n_g, COUNT(*) AS v
        |  FROM vocab),
        |dw AS (
        |  SELECT doc_id, source, UNNEST(string_split(text, ' ')) AS w
        |  FROM documents),
        |sc AS (
        |  SELECT doc_id, source, COUNT(*) AS n_tokens,
        |    SUM(CAST(
        |      log2(CAST(tf_t AS DOUBLE) + 1.0)
        |      - log2(CAST(n_t AS DOUBLE) + CAST(v AS DOUBLE))
        |      - log2(CAST(tf_g AS DOUBLE) + 1.0)
        |      + log2(CAST(n_g AS DOUBLE) + CAST(v AS DOUBLE))
        |      AS DECIMAL(28,12))) AS llr
        |  FROM dw JOIN vocab USING (w) CROSS JOIN scal
        |  GROUP BY doc_id, source)
        |SELECT doc_id, source, n_tokens,
        |  ROUND(CAST(llr AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS avg_llr_bits,
        |  llr > 0 AS target_like
        |FROM sc
        |ORDER BY doc_id""".stripMargin,
    "samp_len_bucket" ->
      """WITH t AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) // 16 AS bucket
        |  FROM documents),
        |r AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY doc_id) AS rk
        |  FROM t)
        |SELECT bucket, (rk - 1) // 8 AS batch_idx, COUNT(*) AS n_docs,
        |  MAX(n_tokens) AS max_tokens,
        |  CAST(MAX(n_tokens) * COUNT(*) - SUM(n_tokens) AS BIGINT) AS pad_waste
        |FROM r
        |GROUP BY bucket, (rk - 1) // 8
        |ORDER BY bucket, batch_idx""".stripMargin,
    "emb_sq8_drift" ->
      (EmbBase + ",\n" +
        """exc AS (
          |  SELECT CAST(generate_subscripts(cv, 1) - 1 AS BIGINT) AS dim,
          |    UNNEST(cv) AS x
          |  FROM c),
          |st AS (SELECT dim, MIN(x) AS lo, MAX(x) AS hi FROM exc GROUP BY dim),
          |exn AS (
          |  SELECT CAST(generate_subscripts(pv, 1) - 1 AS BIGINT) AS dim,
          |    UNNEST(pv) AS x
          |  FROM p)
          |SELECT dim, COUNT(*) AS n_new,
          |  CAST(SUM(CASE WHEN x < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_lo,
          |  CAST(SUM(CASE WHEN x > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_hi
          |FROM exn JOIN st USING (dim)
          |GROUP BY dim
          |ORDER BY dim""".stripMargin),
    "samp_split" ->
      """SELECT doc_id, source,
        |  CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
        |       WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    "samp_domain_mix" ->
      """SELECT doc_id, source, pick_rank FROM (
        |  SELECT doc_id, source,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY substring(md5(CAST(doc_id AS VARCHAR)), 1, 2), doc_id) AS pick_rank
        |  FROM documents) t
        |WHERE pick_rank <= 40
        |ORDER BY doc_id""".stripMargin,
    "samp_pack" ->
      """SELECT doc_id, source, n_tokens, cum_prev // 2048 AS bin_id
        |FROM (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    COALESCE(CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) OVER (
        |      PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cum_prev
        |  FROM documents) t
        |ORDER BY doc_id""".stripMargin,
    "samp_mix_weights" ->
      """WITH c AS (
        |  SELECT source, COUNT(*) AS n_docs,
        |    pow(CAST(COUNT(*) AS DOUBLE), 0.7) AS scaled
        |  FROM documents GROUP BY source),
        |t AS (SELECT CAST(SUM(CAST(scaled AS DECIMAL(28,12))) AS DOUBLE) AS total_scaled FROM c)
        |SELECT source, n_docs, ROUND(scaled / total_scaled, 6) AS weight
        |FROM c, t
        |ORDER BY source""".stripMargin,
    "samp_len_hist" ->
      """SELECT source, n_tokens // 50 AS bucket, COUNT(*) AS n_docs,
        |  MIN(n_tokens) AS min_tokens, MAX(n_tokens) AS max_tokens
        |FROM (
        |  SELECT source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents) t
        |GROUP BY source, n_tokens // 50
        |ORDER BY source, bucket""".stripMargin,
    "ann_range_search" ->
      """WITH p AS (
        |  SELECT vec_id AS probe_id, embedding::DOUBLE[] AS pv
        |  FROM embeddings WHERE vec_id < 10
        |    AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
        |c AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS cv
        |  FROM embeddings WHERE vec_id >= 10
        |    AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
        |s AS (
        |  SELECT probe_id, vec_id,
        |    list_dot_product(pv, cv) /
        |      (sqrt(list_dot_product(pv, pv)) * sqrt(list_dot_product(cv, cv))) AS cos
        |  FROM c CROSS JOIN p)
        |SELECT probe_id, vec_id, ROUND(cos, 6) AS cos
        |FROM s
        |WHERE cos >= 0.25
        |ORDER BY probe_id, vec_id""".stripMargin,
    "emb_centroids" ->
      """WITH ex AS (
        |  SELECT label,
        |    CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,
        |    UNNEST(embedding::DOUBLE[]) AS x
        |  FROM embeddings)
        |SELECT label, dim,
        |  ROUND(CAST(SUM(CAST(x AS DECIMAL(38,15))) AS DOUBLE) / COUNT(*), 9) AS mean,
        |  COUNT(*) AS n
        |FROM ex
        |GROUP BY label, dim
        |ORDER BY label, dim""".stripMargin,
    "emb_dim_stats" ->
      """WITH ex AS (
        |  SELECT CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,
        |    UNNEST(embedding::DOUBLE[]) AS x
        |  FROM embeddings)
        |SELECT dim, COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(x AS DECIMAL(38,15))) AS DOUBLE) / COUNT(*), 9) AS mean,
        |  ROUND(sqrt(GREATEST(0.0,
        |    CAST(SUM(CAST(x * x AS DECIMAL(38,15))) AS DOUBLE) / COUNT(*)
        |    - (CAST(SUM(CAST(x AS DECIMAL(38,15))) AS DOUBLE) / COUNT(*))
        |      * (CAST(SUM(CAST(x AS DECIMAL(38,15))) AS DOUBLE) / COUNT(*)))), 9)
        |    AS std
        |FROM ex
        |GROUP BY dim
        |ORDER BY dim""".stripMargin,
    // whitening applies UNROUNDED stats: decimal moment sums are
    // exact in both engines, so mu/sd are bit-identical doubles
    "emb_whiten" ->
      """WITH ex AS (
        |  SELECT vec_id,
        |    CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,
        |    UNNEST(embedding::DOUBLE[]) AS x
        |  FROM embeddings),
        |st AS (
        |  SELECT dim,
        |    CAST(SUM(CAST(x AS DECIMAL(38,15))) AS DOUBLE) / COUNT(*) AS mu,
        |    sqrt(GREATEST(0.0,
        |      CAST(SUM(CAST(x * x AS DECIMAL(38,15))) AS DOUBLE) / COUNT(*)
        |      - (CAST(SUM(CAST(x AS DECIMAL(38,15))) AS DOUBLE) / COUNT(*))
        |        * (CAST(SUM(CAST(x AS DECIMAL(38,15))) AS DOUBLE) / COUNT(*))))
        |      AS sd
        |  FROM ex GROUP BY dim)
        |SELECT vec_id, dim,
        |  ROUND(CASE WHEN sd = 0 THEN CAST(0.0 AS DOUBLE)
        |    ELSE (x - mu) / sd END, 6) AS z
        |FROM ex JOIN st USING (dim)
        |ORDER BY vec_id, dim""".stripMargin,
    "ann_brute_topk" ->
      """WITH p AS (
        |  SELECT vec_id AS probe_id, embedding::DOUBLE[] AS pv
        |  FROM embeddings WHERE vec_id < 10
        |    AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
        |c AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS cv
        |  FROM embeddings WHERE vec_id >= 10
        |    AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
        |s AS (
        |  SELECT probe_id, vec_id,
        |    list_dot_product(pv, cv) /
        |      (sqrt(list_dot_product(pv, pv)) * sqrt(list_dot_product(cv, cv))) AS cos
        |  FROM c CROSS JOIN p)
        |SELECT probe_id, rnk, vec_id, ROUND(cos, 6) AS cos FROM (
        |  SELECT probe_id, vec_id, cos,
        |    ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rnk
        |  FROM s) t
        |WHERE rnk <= 5
        |ORDER BY probe_id, rnk""".stripMargin,
    "emb_sq8_codes" ->
      (EmbBase + ",\n" + Sq8Ctes + ",\n" +
        s"""cl AS (SELECT vec_id, list(code ORDER BY dim) AS cs FROM codes GROUP BY vec_id)
          |SELECT vec_id,
          |  CAST(list_min(cs) AS BIGINT) AS code_min,
          |  CAST(list_max(cs) AS BIGINT) AS code_max,
          |  CAST(list_sum(cs) AS BIGINT) AS code_sum,
          |  ${hash62Sql("cs")} AS code_fp
          |FROM cl
          |ORDER BY vec_id""".stripMargin),
    "ann_sq8_topk" ->
      (EmbBase + ",\n" + Sq8Ctes + ",\n" +
        """dq AS (
          |  SELECT vec_id,
          |    list(lo + (CAST(code AS DOUBLE) * (hi - lo)) / 255.0 ORDER BY dim) AS dqv
          |  FROM codes GROUP BY vec_id),
          |s AS (
          |  SELECT probe_id, vec_id,
          |    list_dot_product(pv, dqv) /
          |      (sqrt(list_dot_product(pv, pv)) * sqrt(list_dot_product(dqv, dqv))) AS cos
          |  FROM dq CROSS JOIN p)
          |SELECT probe_id, rnk, vec_id, ROUND(cos, 6) AS cos FROM (
          |  SELECT probe_id, vec_id, cos,
          |    ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rnk
          |  FROM s) t
          |WHERE rnk <= 5
          |ORDER BY probe_id, rnk""".stripMargin),
    "ann_hybrid_rrf" ->
      """WITH qt AS (SELECT * FROM (VALUES
        |    (0, 'spark'), (0, 'join'), (1, 'hash'), (1, 'table'),
        |    (2, 'stream'), (2, 'window'), (2, 'batch'),
        |    (3, 'vector'), (3, 'scan')) v(query_id, term)),
        |corpus AS (
        |  SELECT COUNT(*) AS n_docs,
        |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_dl
        |  FROM documents),
        |tf0 AS (
        |  SELECT doc_id, term, COUNT(*) AS tf, MAX(dl) AS dl FROM (
        |    SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
        |      UNNEST(string_split(text, ' ')) AS term
        |    FROM documents) t
        |  WHERE term IN (SELECT DISTINCT term FROM qt)
        |  GROUP BY doc_id, term),
        |tf AS (SELECT *, COUNT(*) OVER (PARTITION BY term) AS df FROM tf0),
        |scored AS (
        |  SELECT query_id, doc_id,
        |    SUM(CAST(
        |      ln(1.0 + (CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
        |      * (CAST(tf AS DOUBLE) * 2.2)
        |      / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))
        |      AS DECIMAL(38,15))) AS score_exact
        |  FROM tf JOIN qt USING (term)
        |  CROSS JOIN (SELECT n_docs, CAST(sum_dl AS DOUBLE) / n_docs AS avgdl
        |              FROM corpus) c
        |  GROUP BY query_id, doc_id),
        |lexr AS (
        |  SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, rank AS lex_rank FROM (
        |    SELECT query_id, doc_id,
        |      ROW_NUMBER() OVER (PARTITION BY query_id
        |        ORDER BY score_exact DESC, doc_id) AS rank
        |    FROM scored) t
        |  WHERE rank <= 20),
        |p AS (
        |  SELECT vec_id AS probe_id, embedding::DOUBLE[] AS pv
        |  FROM embeddings WHERE vec_id < 10
        |    AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
        |c AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS cv
        |  FROM embeddings WHERE vec_id >= 10
        |    AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
        |s AS (
        |  SELECT probe_id, vec_id,
        |    list_dot_product(pv, cv) /
        |      (sqrt(list_dot_product(pv, pv)) * sqrt(list_dot_product(cv, cv))) AS cos
        |  FROM c CROSS JOIN p WHERE probe_id IN (0, 1, 2, 3)),
        |semr AS (
        |  SELECT CAST(probe_id AS BIGINT) AS query_id, vec_id AS doc_id,
        |    rnk AS sem_rank FROM (
        |    SELECT probe_id, vec_id,
        |      ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rnk
        |    FROM s) t
        |  WHERE rnk <= 20),
        |fused AS (
        |  SELECT COALESCE(l.query_id, r.query_id) AS query_id,
        |    COALESCE(l.doc_id, r.doc_id) AS doc_id, l.lex_rank, r.sem_rank,
        |    COALESCE(CAST(CAST(1.0 AS DOUBLE) / (60 + l.lex_rank)
        |        AS DECIMAL(38,15)), CAST(0 AS DECIMAL(38,15)))
        |      + COALESCE(CAST(CAST(1.0 AS DOUBLE) / (60 + r.sem_rank)
        |        AS DECIMAL(38,15)), CAST(0 AS DECIMAL(38,15))) AS rrf_exact
        |  FROM lexr l FULL OUTER JOIN semr r
        |    ON l.query_id = r.query_id AND l.doc_id = r.doc_id)
        |SELECT query_id, rrf_rank, doc_id,
        |  ROUND(CAST(rrf_exact AS DOUBLE), 9) AS rrf_score,
        |  COALESCE(lex_rank, 0) AS lex_rank, COALESCE(sem_rank, 0) AS sem_rank FROM (
        |  SELECT query_id, doc_id, lex_rank, sem_rank, rrf_exact,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY rrf_exact DESC, doc_id) AS rrf_rank
        |  FROM fused) t
        |WHERE rrf_rank <= 10
        |ORDER BY query_id, rrf_rank""".stripMargin,
    "ann_knn_vote" ->
      """WITH p AS (
        |  SELECT vec_id AS probe_id, embedding::DOUBLE[] AS pv
        |  FROM embeddings WHERE vec_id < 10
        |    AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
        |c AS (
        |  SELECT vec_id, label, embedding::DOUBLE[] AS cv
        |  FROM embeddings WHERE vec_id >= 10
        |    AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
        |s AS (
        |  SELECT probe_id, vec_id, label,
        |    list_dot_product(pv, cv) /
        |      (sqrt(list_dot_product(pv, pv)) * sqrt(list_dot_product(cv, cv))) AS cos
        |  FROM c CROSS JOIN p),
        |votes AS (
        |  SELECT probe_id, label, COUNT(*) AS n_votes FROM (
        |    SELECT probe_id, label,
        |      ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rnk
        |    FROM s) t
        |  WHERE rnk <= 10
        |  GROUP BY probe_id, label)
        |SELECT probe_id, label AS predicted_label, n_votes FROM (
        |  SELECT probe_id, label, n_votes,
        |    ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY n_votes DESC, label) AS r
        |  FROM votes) v
        |WHERE r = 1
        |ORDER BY probe_id""".stripMargin,
    "ev_parse_weighted" ->
      """SELECT CASE WHEN regexp_extract(props, '"k": (\d+)', 1) <> ''
        |    THEN 'keyed' ELSE 'generic' END AS schema_name,
        |  COUNT(*) AS n
        |FROM events
        |GROUP BY 1
        |ORDER BY schema_name""".stripMargin,
    "mm_meta" ->
      """SELECT doc_id,
        |  CAST(OCTET_LENGTH(ENCODE(SUBSTRING(text, 1, 16))) AS BIGINT) AS n_bytes,
        |  (['jpeg', 'png', 'mp4', 'wav'])[CAST(doc_id % 4 + 1 AS INT)] AS format,
        |  CAST(doc_id % 640 + 64 AS INT) AS width,
        |  CAST(doc_id % 480 + 48 AS INT) AS height,
        |  CAST(doc_id % 120 + 1 AS INT) AS n_frames
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    "mm_frames" ->
      """WITH m AS (
        |  SELECT doc_id, CAST(doc_id % 120 + 1 AS BIGINT) AS n_frames
        |  FROM documents WHERE doc_id % 4 = 2),
        |sel AS (
        |  SELECT doc_id, n_frames,
        |    UNNEST(generate_series(0, n_frames - 1, 30)) AS frame_idx
        |  FROM m)
        |SELECT doc_id, n_frames, CAST(frame_idx AS BIGINT) AS frame_idx
        |FROM sel
        |ORDER BY doc_id, frame_idx""".stripMargin,
    "mm_resize" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    (['jpeg', 'png', 'mp4', 'wav'])[CAST(doc_id % 4 + 1 AS INT)] AS format,
        |    CAST(doc_id % 640 + 64 AS INT) AS width,
        |    CAST(doc_id % 480 + 48 AS INT) AS height
        |  FROM documents)
        |SELECT doc_id, format, width, height,
        |  CAST(CASE WHEN GREATEST(width, height) <= 256 THEN width
        |       ELSE width * 256 // GREATEST(width, height) END AS INT) AS out_width,
        |  CAST(CASE WHEN GREATEST(width, height) <= 256 THEN height
        |       ELSE height * 256 // GREATEST(width, height) END AS INT) AS out_height
        |FROM m
        |ORDER BY doc_id""".stripMargin,
    "dd_url_dedup" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END)
        |    || '://'
        |    || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.Example.COM' ELSE 'www.example.com' END)
        |    || (CASE WHEN doc_id % 5 = 0 THEN
        |          (CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE ':443' END) ELSE '' END)
        |    || '/docs/' || CAST(doc_id % 50 AS VARCHAR)
        |    || (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END)
        |    || '?utm_source=feed&id=' || CAST(doc_id % 25 AS VARCHAR)
        |    || (CASE WHEN doc_id % 7 = 0 THEN '&ref=rss' ELSE '' END)
        |    || (CASE WHEN doc_id % 6 = 0 THEN '#top' ELSE '' END) AS url
        |  FROM documents),
        |parts AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
        |    lower(regexp_extract(url, '^[A-Za-z]+://([^/:?#]+)', 1)) AS host,
        |    regexp_extract(url, '^[A-Za-z]+://[^/:?#]+:([0-9]+)', 1) AS prt,
        |    regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1) AS p,
        |    regexp_extract(url, '\?([^#]*)', 1) AS q
        |  FROM u),
        |canon AS (
        |  SELECT doc_id,
        |    scheme || '://' || host
        |    || (CASE WHEN prt = '' OR (scheme = 'http' AND prt = '80')
        |             OR (scheme = 'https' AND prt = '443') THEN ''
        |        ELSE ':' || prt END)
        |    || (CASE WHEN p = '' OR p = '/' THEN '/'
        |        ELSE regexp_replace(p, '/$', '') END)
        |    || (CASE WHEN cq = '' THEN '' ELSE '?' || cq END) AS url_canon
        |  FROM (
        |    SELECT doc_id, scheme, host, prt, p,
        |      array_to_string(list_filter(string_split(q, '&'),
        |        kv -> NOT (starts_with(kv, 'utm_') OR starts_with(kv, 'ref='))), '&') AS cq
        |    FROM parts) t)
        |SELECT url_canon, COUNT(*) AS n_docs, MIN(doc_id) AS canonical
        |FROM canon GROUP BY url_canon
        |ORDER BY url_canon""".stripMargin,
    "dd_bloom" ->
      ("WITH " + shingleCtes("documents") + ",\n" +
        s"""|h AS (
        |  SELECT doc_id, g, <<HASH31:g>> AS h
        |  FROM tri),
        |perms AS (SELECT * FROM (VALUES <<PERMS>>) v(i, a, b)),
        |pos AS (
        |  SELECT doc_id, g, ((a * h + b) % 2147483647) % ${Dedup.BloomBits} AS pos
        |  FROM h CROSS JOIN perms),
        |fw AS (
        |  SELECT pos // 32 AS widx,
        |    bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS bits
        |  FROM pos WHERE doc_id < ${Dedup.SeenSplitId} GROUP BY pos // 32),
        |probe AS (
        |  SELECT p.doc_id, p.g,
        |    CASE WHEN ((COALESCE(fw.bits, 0) >> CAST(p.pos % 32 AS INT)) & 1) = 1
        |         THEN 1 ELSE 0 END AS hit
        |  FROM pos p LEFT JOIN fw ON (p.pos // 32) = fw.widx
        |  WHERE p.doc_id >= ${Dedup.SeenSplitId}),
        |per_shingle AS (
        |  SELECT doc_id, g, MIN(hit) AS all_set FROM probe GROUP BY doc_id, g)
        |SELECT doc_id, COUNT(*) AS n_shingles,
        |  CAST(SUM(all_set) AS BIGINT) AS n_maybe_seen
        |FROM per_shingle GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin
        .replace("<<PERMS>>", minhashPermValues(Dedup.BloomHashes))
        .replace("<<HASH31:g>>", hash31Sql(charCodesSql("g")))),
    "dd_simhash" ->
      (SimhashCtes + ",\n" +
        s"""|chunks AS (
        |  SELECT doc_id, sim, c AS chunk_idx, (sim >> (c * 16)) & 65535 AS chunk
        |  FROM sigs CROSS JOIN (SELECT UNNEST(generate_series(0, 3)) AS c) cs)
        |SELECT DISTINCT c1.doc_id AS doc1, c2.doc_id AS doc2,
        |  CAST(bit_count(xor(c1.sim, c2.sim)) AS BIGINT) AS hamming
        |FROM chunks c1
        |JOIN chunks c2 ON c1.chunk_idx = c2.chunk_idx AND c1.chunk = c2.chunk
        |WHERE c1.doc_id < c2.doc_id
        |  AND bit_count(xor(c1.sim, c2.sim)) <= ${Multimodal.HammingMaxDist}
        |ORDER BY doc1, doc2""".stripMargin),
    // the banded pairer vs a band-free brute-force twin: DuckDB joins
    // ALL signature pairs and filters on popcount alone, so a hash
    // match here proves the 4×16-bit pigeonhole banding loses nothing
    // at maxDist 3 (and the min-dedup across band collisions is exact)
    "mm_phash_pairs" -> phashBruteForceSql,
    // the multi-index generator must produce the IDENTICAL pair set —
    // same band-free brute-force oracle, so a hash match proves the
    // 2×32-block + radius-1-ball pigeonhole loses nothing at maxDist 3
    "mm_phash_pairs_mih" -> phashBruteForceSql,
    // the adaptive dispatcher must match the same brute-force pair
    // set whichever generator its occupancy probe picks
    "mm_phash_pairs_auto" -> phashBruteForceSql,
    "dd_minhash_lsh" ->
      ((MinhashCtes + "\n" + s"""|SELECT doc1, doc2, est_jaccard FROM (
        |  SELECT doc1, doc2,
        |    CAST(len(list_filter(m1.mh, (x, i) -> x = m2.mh[i])) AS DOUBLE) / 128.0
        |      AS est_jaccard
        |  FROM cand
        |  JOIN mh m1 ON cand.doc1 = m1.doc_id
        |  JOIN mh m2 ON cand.doc2 = m2.doc_id) t
        |WHERE est_jaccard >= ${Dedup.MinhashMinEst}
        |ORDER BY doc1, doc2""".stripMargin)
        .replace("<<PERMS>>", minhashPermValues())
        .replace("<<HASH31:g>>", hash31Sql(charCodesSql("g")))
        .replace("<<HASH31:band>>", MinhashBandHashSql)),
    // the accuracy harness: same signature/banding derivation, plus
    // exact shingle Jaccard verified on the candidate pairs only;
    // the est >= 0.2 cut applies UNROUNDED (mirrors the operator)
    "dd_minhash_est_eval" ->
      ((MinhashCtes + ",\n" + s"""|est AS (
        |  SELECT doc1, doc2, est_jaccard FROM (
        |    SELECT doc1, doc2,
        |      CAST(len(list_filter(m1.mh, (x, i) -> x = m2.mh[i])) AS DOUBLE) / 128.0
        |        AS est_jaccard
        |    FROM cand
        |    JOIN mh m1 ON cand.doc1 = m1.doc_id
        |    JOIN mh m2 ON cand.doc2 = m2.doc_id) t
        |  WHERE est_jaccard >= ${Dedup.MinhashMinEst}),
        |sizes AS (SELECT doc_id, COUNT(*) AS s FROM tri GROUP BY doc_id),
        |inters AS (
        |  SELECT e.doc1, e.doc2, COUNT(*) AS inter
        |  FROM est e
        |  JOIN tri t1 ON t1.doc_id = e.doc1
        |  JOIN tri t2 ON t2.doc_id = e.doc2 AND t1.g = t2.g
        |  GROUP BY e.doc1, e.doc2)
        |SELECT e.doc1, e.doc2, ROUND(e.est_jaccard, 6) AS est_jaccard,
        |  ROUND(CAST(COALESCE(i.inter, 0) AS DOUBLE)
        |    / (s1.s + s2.s - COALESCE(i.inter, 0)), 6) AS exact_jaccard,
        |  ROUND(ABS(ROUND(e.est_jaccard, 6)
        |    - ROUND(CAST(COALESCE(i.inter, 0) AS DOUBLE)
        |      / (s1.s + s2.s - COALESCE(i.inter, 0)), 6)), 6) AS abs_err
        |FROM est e
        |LEFT JOIN inters i ON e.doc1 = i.doc1 AND e.doc2 = i.doc2
        |JOIN sizes s1 ON e.doc1 = s1.doc_id
        |JOIN sizes s2 ON e.doc2 = s2.doc_id
        |ORDER BY e.doc1, e.doc2""".stripMargin)
        .replace("<<PERMS>>", minhashPermValues())
        .replace("<<HASH31:g>>", hash31Sql(charCodesSql("g")))
        .replace("<<HASH31:band>>", MinhashBandHashSql)),
    "dd_embed_neardup" -> embedNearDupSql(Dedup.EmbedNearDupTau),
    // the non-vacuous twin: τ low enough that this corpus's closest
    // bucket-collided pairs (max cosine ≈ 0.51 at sf0.01) actually
    // survive — the candidate/sketch/verify pipeline gets a driver
    // oracle row whose hash can FAIL, where the τ = 0.95 row passes
    // on 0 = 0 rows (VERDICT r10 #5)
    "dd_embed_neardup_t30" -> embedNearDupSql(0.3),
    // same candidate derivation as dd_embed_neardup (buckets + the
    // sketch pre-filter, both modeled), then the recursive-CTE
    // component labeling over ALL vec_ids
    "dd_semantic_canon" ->
      ("WITH RECURSIVE " + embedCandCtes(Dedup.EmbedNearDupTau) + ",\n" +
      s"""|pr AS (
        |  SELECT id1, id2 FROM (
        |    SELECT id1, id2, list_dot_product(v1.vd, v2.vd) /
        |      (sqrt(list_dot_product(v1.vd, v1.vd))
        |        * sqrt(list_dot_product(v2.vd, v2.vd))) AS cos
        |    FROM fcand
        |    JOIN v v1 ON fcand.id1 = v1.vec_id
        |    JOIN v v2 ON fcand.id2 = v2.vec_id) t
        |  WHERE cos >= ${Dedup.EmbedNearDupTau}),
        |e AS (SELECT id1 AS a, id2 AS b FROM pr
        |      UNION SELECT id2, id1 FROM pr),
        |reach(x, r) AS (
        |  SELECT a, a FROM e
        |  UNION
        |  SELECT e.b, reach.r FROM reach JOIN e ON e.a = reach.x),
        |comp AS (SELECT x, MIN(r) AS component FROM reach GROUP BY x)
        |SELECT emb.vec_id AS doc_id,
        |  COALESCE(c.component, emb.vec_id) AS component,
        |  CAST(CASE WHEN COALESCE(c.component, emb.vec_id) = emb.vec_id
        |       THEN 1 ELSE 0 END AS BIGINT) AS is_canonical
        |FROM embeddings emb LEFT JOIN comp c ON emb.vec_id = c.x
        |ORDER BY doc_id""".stripMargin),
    "ann_lsh_topk" ->
      ("""WITH p0 AS (
        |  SELECT vec_id AS probe_id, embedding::DOUBLE[] AS pv
        |  FROM embeddings WHERE vec_id < 10
        |    AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
        |c0 AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS cv
        |  FROM embeddings WHERE vec_id >= 10
        |    AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
        |planes AS (SELECT * FROM (VALUES <<PLANES>>) pl(pid, p)),
        |ps AS (
        |  SELECT probe_id, (pid // 6)::BIGINT * 4294967296
        |    + CAST(SUM(CASE WHEN list_dot_product(pv, p) > 0
        |        THEN (1::BIGINT << (pid % 6)) ELSE 0 END) AS BIGINT) AS bucket
        |  FROM p0 CROSS JOIN planes GROUP BY probe_id, pid // 6),
        |cs AS (
        |  SELECT vec_id, (pid // 6)::BIGINT * 4294967296
        |    + CAST(SUM(CASE WHEN list_dot_product(cv, p) > 0
        |        THEN (1::BIGINT << (pid % 6)) ELSE 0 END) AS BIGINT) AS bucket
        |  FROM c0 CROSS JOIN planes GROUP BY vec_id, pid // 6),
        |cand AS (SELECT DISTINCT probe_id, vec_id FROM ps JOIN cs USING (bucket)),
        |scored AS (
        |  SELECT probe_id, vec_id, list_dot_product(pv, cv) /
        |    (sqrt(list_dot_product(pv, pv)) * sqrt(list_dot_product(cv, cv))) AS cos
        |  FROM cand JOIN p0 USING (probe_id) JOIN c0 USING (vec_id))
        |SELECT probe_id, rnk, vec_id, ROUND(cos, 6) AS cos FROM (
        |  SELECT probe_id, vec_id, cos,
        |    ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rnk
        |  FROM scored) t
        |WHERE rnk <= 5
        |ORDER BY probe_id, rnk""".stripMargin
        .replace("<<PLANES>>", planeValues(72))),
    // recall@k: the brute and LSH top-5 pipelines above, joined —
    // n_hits = |brute ∩ lsh| per probe, recall = n_hits/k
    "ann_recall_eval" ->
      ("""WITH p0 AS (
        |  SELECT vec_id AS probe_id, embedding::DOUBLE[] AS pv
        |  FROM embeddings WHERE vec_id < 10
        |    AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
        |c0 AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS cv
        |  FROM embeddings WHERE vec_id >= 10
        |    AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
        |bs AS (
        |  SELECT probe_id, vec_id,
        |    list_dot_product(pv, cv) /
        |      (sqrt(list_dot_product(pv, pv)) * sqrt(list_dot_product(cv, cv))) AS cos
        |  FROM c0 CROSS JOIN p0),
        |bt AS (
        |  SELECT probe_id, vec_id FROM (
        |    SELECT probe_id, vec_id,
        |      ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rnk
        |    FROM bs) t WHERE rnk <= 5),
        |planes AS (SELECT * FROM (VALUES <<PLANES>>) pl(pid, p)),
        |ps AS (
        |  SELECT probe_id, (pid // 6)::BIGINT * 4294967296
        |    + CAST(SUM(CASE WHEN list_dot_product(pv, p) > 0
        |        THEN (1::BIGINT << (pid % 6)) ELSE 0 END) AS BIGINT) AS bucket
        |  FROM p0 CROSS JOIN planes GROUP BY probe_id, pid // 6),
        |cs AS (
        |  SELECT vec_id, (pid // 6)::BIGINT * 4294967296
        |    + CAST(SUM(CASE WHEN list_dot_product(cv, p) > 0
        |        THEN (1::BIGINT << (pid % 6)) ELSE 0 END) AS BIGINT) AS bucket
        |  FROM c0 CROSS JOIN planes GROUP BY vec_id, pid // 6),
        |cand AS (SELECT DISTINCT probe_id, vec_id FROM ps JOIN cs USING (bucket)),
        |ls AS (
        |  SELECT probe_id, vec_id, list_dot_product(pv, cv) /
        |    (sqrt(list_dot_product(pv, pv)) * sqrt(list_dot_product(cv, cv))) AS cos
        |  FROM cand JOIN p0 USING (probe_id) JOIN c0 USING (vec_id)),
        |lt AS (
        |  SELECT probe_id, vec_id FROM (
        |    SELECT probe_id, vec_id,
        |      ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rnk
        |    FROM ls) t WHERE rnk <= 5)
        |SELECT bt.probe_id,
        |  CAST(SUM(CASE WHEN lt.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_hits,
        |  ROUND(CAST(SUM(CASE WHEN lt.vec_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) / 5.0, 6) AS recall
        |FROM bt LEFT JOIN lt
        |  ON bt.probe_id = lt.probe_id AND bt.vec_id = lt.vec_id
        |GROUP BY bt.probe_id
        |ORDER BY bt.probe_id""".stripMargin
        .replace("<<PLANES>>", planeValues(72)))
  )

  /** Shared oracle fragments for the ANN model queries (defaults:
    * nProbes=10, k=5, nClusters=16, nProbeClusters=4, nSub=8,
    * kCodes=16, rerank=20 — the parameters the `queries` entries use).
    * Probe/corpus split and the zero-norm guard mirror
    * [[Similarity]]'s `probes`/`corpus`.
    */
  private val EmbBase =
    """WITH p AS (
      |  SELECT vec_id AS probe_id, embedding::DOUBLE[] AS pv
      |  FROM embeddings WHERE vec_id < 10
      |    AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
      |c AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS cv
      |  FROM embeddings WHERE vec_id >= 10
      |    AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0)""".stripMargin

  /** SQ8 CTEs: exact per-dimension min/max and the half-up code rule —
    * the SQL re-derivation of `Similarity.sq8Codes`' transform lambda.
    * No literal interpolation: the "model" is corpus min/max, so the
    * oracle recomputes it from the table.
    */
  private val Sq8Ctes =
    """ex AS (
      |  SELECT vec_id, CAST(generate_subscripts(cv, 1) - 1 AS BIGINT) AS dim,
      |    UNNEST(cv) AS x
      |  FROM c),
      |st AS (SELECT dim, MIN(x) AS lo, MAX(x) AS hi FROM ex GROUP BY dim),
      |codes AS (
      |  SELECT vec_id, dim, lo, hi,
      |    CASE WHEN hi = lo THEN 0 ELSE
      |      CAST(floor(least(255.0, greatest(0.0,
      |        (x - lo) * 255.0 / (hi - lo) + 0.5))) AS BIGINT) END AS code
      |  FROM ex JOIN st USING (dim))""".stripMargin

  /** Coarse-quantizer CTEs: corpus argmax assignment (tie → smaller
    * cluster_id) and per-probe nearest-4 routing — the SQL re-derivation
    * of `Similarity.assignClusters` / `probeClusters`.
    */
  private val IvfCtes =
    """cent AS (SELECT * FROM (VALUES <<CENTROIDS>>) q0(cluster_id, centroid)),
      |assigned AS (
      |  SELECT vec_id, cv, cluster_id FROM (
      |    SELECT c.vec_id, c.cv, cent.cluster_id,
      |      ROW_NUMBER() OVER (PARTITION BY c.vec_id
      |        ORDER BY list_dot_product(cv, centroid) DESC, cluster_id) AS r
      |    FROM c CROSS JOIN cent) t
      |  WHERE r = 1),
      |pc AS (
      |  SELECT probe_id, cluster_id FROM (
      |    SELECT p.probe_id, cent.cluster_id,
      |      ROW_NUMBER() OVER (PARTITION BY p.probe_id
      |        ORDER BY list_dot_product(pv, centroid) DESC, cluster_id) AS r
      |    FROM p CROSS JOIN cent) t
      |  WHERE r <= 4)""".stripMargin

  /** PQ CTEs: unit-normalize, slice into 8 contiguous 8-dim
    * subvectors, and assign each to its L2-nearest code via
    * argmax(sub·c − ‖c‖²/2), tie → smaller code — the SQL re-derivation
    * of `Similarity.subVectors` / `assignCodes`.
    */
  private val PqSubCtes =
    """nv AS (
      |  SELECT vec_id,
      |    list_transform(cv, x -> x / sqrt(list_dot_product(cv, cv))) AS nv
      |  FROM c),
      |subs AS (
      |  SELECT vec_id, s, nv[s * 8 + 1 : s * 8 + 8] AS sub
      |  FROM nv CROSS JOIN (SELECT UNNEST(generate_series(0, 7)) AS s) ss),
      |cb AS (SELECT * FROM (VALUES <<CODEBOOK>>) q1(s, cc, centroid))""".stripMargin

  private val PqCtes = PqSubCtes + ",\n" +
    """codes AS (
      |  SELECT vec_id, s, cc FROM (
      |    SELECT subs.vec_id, subs.s AS s, cb.cc,
      |      ROW_NUMBER() OVER (PARTITION BY subs.vec_id, subs.s
      |        ORDER BY list_dot_product(sub, centroid)
      |          - list_dot_product(centroid, centroid) / 2.0 DESC, cc) AS r
      |    FROM subs JOIN cb ON subs.s = cb.s) t
      |  WHERE r = 1)""".stripMargin

  /** Residual-coding CTEs: the cdot model-cross table and the
    * residual code assignment via the linear split
    * (sub − c_sub)·q = sub·q − cdot — `Similarity.centroidCodeDots` /
    * `assignResidualCodes` re-derived in SQL from the same literals.
    */
  private val ResidualCtes =
    """cdot AS (
      |  SELECT cent.cluster_id, cb.s, cb.cc,
      |    list_dot_product(cent.centroid[cb.s * 8 + 1 : cb.s * 8 + 8],
      |      cb.centroid) AS cdot
      |  FROM cent CROSS JOIN cb),
      |rcodes AS (
      |  SELECT vec_id, s, cc, cluster_id FROM (
      |    SELECT subs.vec_id, subs.s AS s, cb.cc, assigned.cluster_id,
      |      ROW_NUMBER() OVER (PARTITION BY subs.vec_id, subs.s
      |        ORDER BY list_dot_product(sub, cb.centroid) - cdot.cdot
      |          - list_dot_product(cb.centroid, cb.centroid) / 2.0 DESC, cb.cc) AS r
      |    FROM subs
      |    JOIN assigned ON subs.vec_id = assigned.vec_id
      |    JOIN cb ON subs.s = cb.s
      |    JOIN cdot ON cdot.cluster_id = assigned.cluster_id
      |      AND cdot.s = cb.s AND cdot.cc = cb.cc) t
      |  WHERE r = 1)""".stripMargin

  /** ADC CTEs: per-probe (s, code) dot-product tables over the
    * unit-normalized probe slices — `adcRerankTopK`'s broadcast dt.
    */
  private val AdcCtes =
    """pnv AS (
      |  SELECT probe_id,
      |    list_transform(pv, x -> x / sqrt(list_dot_product(pv, pv))) AS pnv
      |  FROM p),
      |psubs AS (
      |  SELECT probe_id, s, pnv[s * 8 + 1 : s * 8 + 8] AS psub
      |  FROM pnv CROSS JOIN (SELECT UNNEST(generate_series(0, 7)) AS s) ss2),
      |dt AS (
      |  SELECT probe_id, psubs.s AS s, cb.cc,
      |    list_dot_product(psub, centroid) AS dp
      |  FROM psubs JOIN cb ON psubs.s = cb.s)""".stripMargin

  /** ADC epilogue: decimal-exact approx ranking → 20-candidate cut →
    * exact-cosine re-rank → top-5, mirroring `adcRerankTopK` +
    * `rankTopK` (including both tie-breaks).
    */
  private val AdcEpilogue =
    """cand AS (
      |  SELECT probe_id, vec_id FROM (
      |    SELECT probe_id, vec_id,
      |      ROW_NUMBER() OVER (PARTITION BY probe_id
      |        ORDER BY ap DESC, vec_id) AS ar
      |    FROM approx) t
      |  WHERE ar <= 20),
      |sc AS (
      |  SELECT cand.probe_id, cand.vec_id,
      |    list_dot_product(pv, cv) /
      |      (sqrt(list_dot_product(pv, pv)) * sqrt(list_dot_product(cv, cv))) AS cos
      |  FROM cand
      |  JOIN c ON cand.vec_id = c.vec_id
      |  JOIN p ON cand.probe_id = p.probe_id)
      |SELECT probe_id, rnk, vec_id, ROUND(cos, 6) AS cos FROM (
      |  SELECT probe_id, vec_id, cos,
      |    ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rnk
      |  FROM sc) t
      |WHERE rnk <= 5
      |ORDER BY probe_id, rnk""".stripMargin

  /** Oracles for the four ANN queries whose SQL embeds a trained model
    * (IVF centroids / PQ codebook) as literals. Available only once
    * the corresponding query has trained this JVM — Verify's run-then-
    * dump order guarantees that; absent models degrade to rows-only.
    */
  private def modelOracles: Map[String, String] = {
    val ivfEntry = graft.operators.Similarity.lastIvfModel.map { m =>
      "ann_ivf_topk" ->
        (EmbBase + ",\n" + IvfCtes + ",\n" +
          """sc AS (
            |  SELECT pc.probe_id, assigned.vec_id,
            |    list_dot_product(pv, cv) /
            |      (sqrt(list_dot_product(pv, pv)) * sqrt(list_dot_product(cv, cv))) AS cos
            |  FROM assigned
            |  JOIN pc ON assigned.cluster_id = pc.cluster_id
            |  JOIN p ON pc.probe_id = p.probe_id)
            |SELECT probe_id, rnk, vec_id, ROUND(cos, 6) AS cos FROM (
            |  SELECT probe_id, vec_id, cos,
            |    ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rnk
            |  FROM sc) t
            |WHERE rnk <= 5
            |ORDER BY probe_id, rnk""".stripMargin)
          .replace("<<CENTROIDS>>", centroidValues(m))
    }
    val pqEntries = graft.operators.Similarity.lastPqModel.toList.flatMap { m =>
      List(
        "emb_pq_codes" ->
          (EmbBase + ",\n" + PqCtes + "\n" +
            """SELECT vec_id,
              |  CAST(SUM(cc::BIGINT << CAST(s * 4 AS INT)) AS BIGINT) AS pq_code
              |FROM codes GROUP BY vec_id
              |ORDER BY vec_id""".stripMargin)
            .replace("<<CODEBOOK>>", pqCodebookValues(m)),
        "ann_pq_topk" ->
          (EmbBase + ",\n" + PqCtes + ",\n" + AdcCtes + ",\n" +
            """approx AS (
              |  SELECT dt.probe_id, codes.vec_id,
              |    SUM(CAST(dp AS DECIMAL(38,18))) AS ap
              |  FROM codes JOIN dt ON codes.s = dt.s AND codes.cc = dt.cc
              |  GROUP BY dt.probe_id, codes.vec_id),""".stripMargin + "\n" +
            AdcEpilogue)
            .replace("<<CODEBOOK>>", pqCodebookValues(m)))
    }
    val ivfSq8Entry = graft.operators.Similarity.lastIvfModel.map { m =>
      "ann_ivf_sq8_topk" ->
        (EmbBase + ",\n" + Sq8Ctes + ",\n" +
          """dq AS (
            |  SELECT vec_id,
            |    list(lo + (CAST(code AS DOUBLE) * (hi - lo)) / 255.0 ORDER BY dim) AS dqv
            |  FROM codes GROUP BY vec_id),
            |cent AS (SELECT * FROM (VALUES <<CENTROIDS>>) q0(cluster_id, centroid)),
            |assigned AS (
            |  SELECT vec_id, dqv, cluster_id FROM (
            |    SELECT dq.vec_id, dq.dqv, cent.cluster_id,
            |      ROW_NUMBER() OVER (PARTITION BY dq.vec_id
            |        ORDER BY list_dot_product(dqv, centroid) DESC, cluster_id) AS r
            |    FROM dq CROSS JOIN cent) t
            |  WHERE r = 1),
            |pc AS (
            |  SELECT probe_id, cluster_id FROM (
            |    SELECT p.probe_id, cent.cluster_id,
            |      ROW_NUMBER() OVER (PARTITION BY p.probe_id
            |        ORDER BY list_dot_product(pv, centroid) DESC, cluster_id) AS r
            |    FROM p CROSS JOIN cent) t
            |  WHERE r <= 4),
            |sc AS (
            |  SELECT pc.probe_id, assigned.vec_id,
            |    list_dot_product(pv, dqv) /
            |      (sqrt(list_dot_product(pv, pv)) * sqrt(list_dot_product(dqv, dqv))) AS cos
            |  FROM assigned
            |  JOIN pc ON assigned.cluster_id = pc.cluster_id
            |  JOIN p ON pc.probe_id = p.probe_id)
            |SELECT probe_id, rnk, vec_id, ROUND(cos, 6) AS cos FROM (
            |  SELECT probe_id, vec_id, cos,
            |    ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rnk
            |  FROM sc) t
            |WHERE rnk <= 5
            |ORDER BY probe_id, rnk""".stripMargin)
          .replace("<<CENTROIDS>>", centroidValues(m))
    }
    val ivfPqResEntry = for {
      ivf <- graft.operators.Similarity.lastIvfModel
      rpq <- graft.operators.Similarity.lastResPqModel
    } yield "ann_ivfpq_res_topk" ->
      (EmbBase + ",\n" + IvfCtes + ",\n" + PqSubCtes + ",\n" +
        ResidualCtes + ",\n" + AdcCtes + ",\n" +
        """routed AS (
          |  SELECT pc.probe_id, rcodes.vec_id, rcodes.cluster_id,
          |    rcodes.s, rcodes.cc
          |  FROM rcodes JOIN pc ON rcodes.cluster_id = pc.cluster_id),
          |pcd AS (
          |  SELECT p.probe_id, pc.cluster_id,
          |    list_dot_product(pv, centroid) / sqrt(list_dot_product(pv, pv))
          |      AS pcdot
          |  FROM pc JOIN p USING (probe_id)
          |  JOIN cent ON pc.cluster_id = cent.cluster_id),
          |approx AS (
          |  SELECT t.probe_id, t.vec_id,
          |    CAST(sum_dp AS DOUBLE) + pcdot AS ap
          |  FROM (
          |    SELECT routed.probe_id, routed.vec_id, routed.cluster_id,
          |      SUM(CAST(dp AS DECIMAL(38,18))) AS sum_dp
          |    FROM routed JOIN dt ON routed.probe_id = dt.probe_id
          |      AND routed.s = dt.s AND routed.cc = dt.cc
          |    GROUP BY routed.probe_id, routed.vec_id, routed.cluster_id) t
          |  JOIN pcd ON t.probe_id = pcd.probe_id
          |    AND t.cluster_id = pcd.cluster_id),""".stripMargin + "\n" +
        AdcEpilogue)
        .replace("<<CENTROIDS>>", centroidValues(ivf))
        .replace("<<CODEBOOK>>", pqCodebookValues(rpq))
    val ivfPqEntry = for {
      ivf <- graft.operators.Similarity.lastIvfModel
      pq <- graft.operators.Similarity.lastPqModel
    } yield "ann_ivfpq_topk" ->
      (EmbBase + ",\n" + IvfCtes + ",\n" + PqCtes + ",\n" + AdcCtes + ",\n" +
        """routed AS (
          |  SELECT pc.probe_id, codes.vec_id, codes.s, codes.cc
          |  FROM codes
          |  JOIN assigned ON codes.vec_id = assigned.vec_id
          |  JOIN pc ON assigned.cluster_id = pc.cluster_id),
          |approx AS (
          |  SELECT routed.probe_id, routed.vec_id,
          |    SUM(CAST(dp AS DECIMAL(38,18))) AS ap
          |  FROM routed JOIN dt ON routed.probe_id = dt.probe_id
          |    AND routed.s = dt.s AND routed.cc = dt.cc
          |  GROUP BY routed.probe_id, routed.vec_id),""".stripMargin + "\n" +
        AdcEpilogue)
        .replace("<<CENTROIDS>>", centroidValues(ivf))
        .replace("<<CODEBOOK>>", pqCodebookValues(pq))
    // PCA: each component re-derived as the IDENTICAL fixed-order
    // multiply-add chain over the axis literals, centering folded
    // into the shared pcaBias scalar — IEEE-identical, then ROUND 6
    val pcaEntry = graft.operators.Similarity.lastPcaModel.map { m =>
      val dim = m.mean.length
      val exprs = m.axes.toIndexedSeq.zipWithIndex.map { case (w, k) =>
        val chain = (0 until dim).map(d => s"cv[${d + 1}] * ${w(d)}")
          .mkString(" + ")
        s"ROUND($chain - (${graft.operators.Similarity.pcaBias(m, k)}), 6) AS pc${k + 1}"
      }.mkString(",\n  ")
      "emb_pca_project" ->
        (EmbBase + s"\nSELECT vec_id,\n  $exprs\nFROM c\nORDER BY vec_id")
    }
    // topic labeling re-derives member assignment from the same
    // centroid literals, then cluster-granularity TF-IDF in SQL
    val topicsEntry = graft.operators.Similarity.lastIvfModel.map { m =>
      "txt_topics" ->
        (EmbBase + ",\n" + IvfCtes + ",\n" +
          """tf AS (
            |  SELECT cluster_id, w, COUNT(*) AS tf FROM (
            |    SELECT a.cluster_id, UNNEST(string_split(d.text, ' ')) AS w
            |    FROM assigned a JOIN documents d ON d.doc_id = a.vec_id) t
            |  GROUP BY cluster_id, w),
            |cf AS (SELECT w, COUNT(*) AS cf FROM tf GROUP BY w),
            |nc AS (SELECT COUNT(DISTINCT cluster_id) AS n_clusters FROM tf),
            |sc AS (
            |  SELECT cluster_id, w, ROUND(CAST(tf AS DOUBLE)
            |      * ln(CAST(n_clusters + 1 AS DOUBLE) / CAST(cf + 1 AS DOUBLE)), 6)
            |    AS score
            |  FROM tf JOIN cf USING (w) CROSS JOIN nc)
            |SELECT CAST(cluster_id AS BIGINT) AS cluster_id, rnk, term,
            |  score FROM (
            |  SELECT cluster_id, w AS term, score,
            |    CAST(ROW_NUMBER() OVER (PARTITION BY cluster_id
            |      ORDER BY score DESC, w) AS BIGINT) AS rnk
            |  FROM sc) t
            |WHERE rnk <= 5
            |ORDER BY cluster_id, rnk""".stripMargin)
          .replace("<<CENTROIDS>>", centroidValues(m))
    }
    // explained variance: the same projection chains, aggregated
    // with decimal moments over the ROUNDED projections
    val pcaVarEntry = graft.operators.Similarity.lastPcaModel.map { m =>
      val dim = m.mean.length
      val comps = m.axes.toIndexedSeq.zipWithIndex.map { case (w, k) =>
        val chain = (0 until dim).map(d => s"cv[${d + 1}] * ${w(d)}")
          .mkString(" + ")
        s"SELECT ${k + 1} AS component, ROUND($chain - " +
          s"(${graft.operators.Similarity.pcaBias(m, k)}), 6) AS y FROM c"
      }.mkString("\nUNION ALL\n")
      "emb_pca_var" ->
        (EmbBase + s",\nproj AS (\n$comps)\n" +
          """SELECT CAST(component AS BIGINT) AS component, COUNT(*) AS n,
            |  ROUND(CAST(SUM(CAST(y AS DECIMAL(38,15))) AS DOUBLE)
            |    / COUNT(*), 9) AS mean,
            |  ROUND(GREATEST(0.0,
            |    CAST(SUM(CAST(y * y AS DECIMAL(38,15))) AS DOUBLE) / COUNT(*)
            |    - (CAST(SUM(CAST(y AS DECIMAL(38,15))) AS DOUBLE) / COUNT(*))
            |      * (CAST(SUM(CAST(y AS DECIMAL(38,15))) AS DOUBLE) / COUNT(*))), 9)
            |    AS variance
            |FROM proj GROUP BY component
            |ORDER BY component""".stripMargin)
    }
    (ivfEntry.toList ++ ivfSq8Entry.toList ++ pqEntries ++
      ivfPqEntry.toList ++ ivfPqResEntry.toList ++ pcaEntry.toList ++
      pcaVarEntry.toList ++ topicsEntry.toList).toMap
  }
}
