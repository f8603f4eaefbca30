package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sampling / mixing / packing operators for assembling training sets
  * from a cleaned corpus (SURVEY.md §2.3): deterministic stratified
  * sampling, per-domain quota mixing, and token-budget sequence
  * packing.
  *
  * Scale design (100 TB): every sampling decision is a pure function
  * of the row (md5 of the primary key vs a threshold) — no global
  * coordination, no reservoir state, no second pass, reproducible
  * across cluster sizes and re-runs. Quota mixing and packing key
  * their single shuffle on the (low-cardinality but bounded) source
  * shard; within a shard the window sort is the same external sort
  * any top-N takes.
  */
object Sampling {

  /** The deterministic per-row coin: first two hex chars of
    * md5(doc_id) compared against a per-stratum threshold — "hash
    * sampling", the reproducible alternative to rand(). 256 buckets
    * ⇒ thresholds quantize to 1/256 ≈ 0.4% steps.
    */
  private def hashBucket = substring(md5(col("doc_id").cast("string").cast("binary")), 1, 2)

  /** Stratified sample: per-language acceptance thresholds (en is
    * down-sampled harder than the tail languages — the typical
    * data-mixing move). Emits the sampled rows themselves; the
    * decision never leaves the scan (narrow map, no shuffle).
    */
  def stratifiedSample(documents: DataFrame,
      thresholds: Map[String, String] = Map("en" -> "28"),
      defaultThreshold: String = "50"): DataFrame = {
    // The bucket is two lowercase hex chars compared lexically; any
    // other threshold shape ("5", "100", "A0") silently skews the
    // acceptance rate instead of sampling at the intended fraction.
    (thresholds.values.toSeq :+ defaultThreshold).foreach { t =>
      require(t.matches("[0-9a-f]{2}"),
        s"threshold '$t' must be two lowercase hex chars (1/256 steps)")
    }
    val thr = thresholds.foldLeft(when(lit(false), lit(""))) {
      case (acc, (lang, t)) => acc.when(col("lang") === lang, lit(t))
    }.otherwise(lit(defaultThreshold))
    documents
      .filter(hashBucket < thr)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic train/val/test holdout split: the same md5 coin as
    * [[stratifiedSample]] cut at two hex thresholds (defaults ≈
    * 80/10/10). A pure per-row function — no global coordination, no
    * rand(), identical assignment on any cluster size, any partition
    * layout, any re-run; a document can never migrate between splits
    * when the corpus grows (the property that keeps eval sets
    * uncontaminated across crawls). Narrow map, decision fused into
    * the scan.
    */
  def holdoutSplit(documents: DataFrame, trainHex: String = "cc",
      valHex: String = "e6"): DataFrame = {
    Seq(trainHex, valHex).foreach { t =>
      require(t.matches("[0-9a-f]{2}"),
        s"threshold '$t' must be two lowercase hex chars (1/256 steps)")
    }
    require(trainHex < valHex, "train cut must precede val cut")
    documents
      .select(col("doc_id"), col("source"),
        when(hashBucket < trainHex, "train")
          .when(hashBucket < valHex, "val")
          .otherwise("test").as("split"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic global shuffle into training shards — the step
    * that breaks crawl/source ordering before sequence packing, so no
    * training batch is a run of one domain. Shard = 31-bit fold hash
    * of the doc key mod nShards (a pure row function: no global sort,
    * no rand(), stable when the corpus grows), position within the
    * shard = rank of that hash (ties → doc_id), i.e. a reproducible
    * pseudo-random read order. The only shuffle keys on `shard`; each
    * shard's sequence is produced by one task — exactly one writer
    * per output file, so nShards is chosen the way any sharded writer
    * chooses file count: corpus bytes / target shard size. The fold
    * hash is the same charcode fold the fingerprint oracles use; it
    * is monotone on same-length decimal keys (digit polynomial), so
    * it passes through a multiplicative mix mod the Mersenne prime —
    * a permutation of the hash space — before ordering anything.
    * Pure BIGINT arithmetic end to end, so the whole query re-derives
    * in DuckDB.
    */
  def shardShuffle(documents: DataFrame, nShards: Int = 8): DataFrame = {
    require(nShards > 0, "nShards must be positive")
    val hk = expr("aggregate(split(CAST(doc_id AS STRING), ''), 0L," +
      " (acc, ch) -> pmod(acc * 1000003L + ascii(ch), 2147483647))")
    documents
      .withColumn("mx", pmod(hk * lit(2654435761L), lit(2147483647L)))
      .withColumn("shard", pmod(col("mx"), lit(nShards.toLong)))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("shard")).orderBy(col("mx"), col("doc_id"))).cast("long"))
      .select(col("shard"), col("pos"), col("doc_id"), col("source"))
      .orderBy(col("shard"), col("pos"))
  }

  /** DSIR-style importance score for domain-targeted data selection
    * (the published importance-resampling recipe: score documents by
    * how much more likely a target-domain unigram LM finds them than
    * the general-corpus LM, then keep the high scorers). Both LMs are
    * add-1-smoothed over the UNION vocabulary, so out-of-domain words
    * score, not crash. Per-token log-likelihood ratio in bits; the
    * `target_like` flag is the sign of the exact decimal sum.
    *
    * Scale shape: two vocabulary aggregates + a one-row scalar frame,
    * broadcast into the scoring scan (the same frozen-LM broadcast as
    * [[graft.operators.TextOps.surprisal]] — vocabulary is sublinear
    * in corpus size); the only corpus-sized shuffle is the per-doc
    * score aggregation, map-side combined. Decimal term sums make the
    * score independent of partial-agg order — and SQL-re-derivable.
    */
  def dsirScore(documents: DataFrame, targetSource: String = "src0"): DataFrame =
    dsirScoreOn(documents, dsirStats(documents, targetSource))
      .orderBy(col("doc_id"))

  /** The frozen DSIR model: per-word target/general term frequencies
    * plus the smoothing scalars, one broadcastable table — what a
    * batch run trains and the streaming twin
    * ([[graft.streaming.DocPipelineJobs.dsirScoreStream]]) scores a
    * live feed against. Vocabulary is sublinear in corpus size, so
    * the broadcast holds at 100 TB.
    */
  def dsirStats(documents: DataFrame, targetSource: String = "src0"): DataFrame = {
    // ONE corpus explode with a conditional count per LM, not two
    // filtered unigramStats passes glued by a full-outer join (round
    // 13): the two-pass shape scanned + exploded the corpus twice and
    // paid a vocabulary-sized sort-merge join for what is a single
    // groupBy(w) with two conditional sums. Same table by
    // construction — a word seen only in one LM gets 0 from the other
    // sum exactly where the old coalesce(full_outer) put it. The
    // isNotNull filter reproduces the old predicate pair's null
    // semantics (`=== target` and `=!= target` both drop NULL-source
    // rows).
    val vocab = documents.filter(col("source").isNotNull)
      .select((col("source") === targetSource).as("t"),
        explode(split(col("text"), " ")).as("w"))
      .groupBy(col("w"))
      .agg(sum(when(col("t"), 1L).otherwise(0L)).as("tf_t"),
        sum(when(col("t"), 0L).otherwise(1L)).as("tf_g"))
    val scal = vocab.agg(sum(col("tf_t")).as("n_t"), sum(col("tf_g")).as("n_g"),
      count(lit(1)).as("v"))
    vocab.crossJoin(broadcast(scal))
  }

  /** The scoring body over a FROZEN stats table — shared verbatim by
    * the batch operator and the streaming twin so the two cannot
    * drift. Words outside the stats vocabulary are unscored by
    * contract (inner join): the batch corpus is the training corpus,
    * so there the join never drops; a live feed can carry novel
    * words, which simply do not contribute to the LLR.
    */
  private[graft] def dsirScoreOn(documents: DataFrame, stats: DataFrame): DataFrame =
    documents.select(col("doc_id"), col("source"),
        explode(split(col("text"), " ")).as("w"))
      .join(broadcast(stats), Seq("w"))
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_tokens"),
        sum((log2(col("tf_t").cast("double") + 1.0)
          - log2(col("n_t").cast("double") + col("v").cast("double"))
          - log2(col("tf_g").cast("double") + 1.0)
          + log2(col("n_g").cast("double") + col("v").cast("double")))
          .cast("decimal(28,12)")).as("llr"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        round(col("llr").cast("double") / col("n_tokens").cast("double"), 6)
          .as("avg_llr_bits"),
        (col("llr") > 0).as("target_like"))

  /** Sequence-length bucketing: group documents into fixed-width
    * token-length buckets and cut each bucket into training batches,
    * reporting per-batch padding waste (max_len·n − Σlen — the tokens
    * a padded dataloader would burn). Homogeneous-length batches are
    * the standard padding-efficiency move in every LLM dataloader;
    * this operator is its planning/accounting step. Integer
    * arithmetic only; one shuffle keyed on the (bounded-cardinality)
    * bucket, same skew posture as the per-shard packing operator.
    */
  def lengthBuckets(documents: DataFrame, bucketWidth: Int = 16,
      batchSize: Int = 8): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    require(batchSize > 0, "batchSize must be positive")
    val toks = documents.select(col("doc_id"),
        TextOps.wordCount("text").as("n_tokens"))
      .withColumn("bucket", expr(s"n_tokens div $bucketWidth"))
    toks
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("bucket")).orderBy(col("doc_id"))))
      .withColumn("batch_idx", expr(s"CAST(rk - 1 AS BIGINT) div $batchSize"))
      .groupBy(col("bucket"), col("batch_idx"))
      .agg(count(lit(1)).as("n_docs"), max(col("n_tokens")).as("max_tokens"),
        (max(col("n_tokens")) * count(lit(1)) - sum(col("n_tokens"))).as("pad_waste"))
      .orderBy(col("bucket"), col("batch_idx"))
  }

  /** The end-to-end corpus-build report: what a training-data run
    * publishes after assembly — normalize → quality cut → exact-dedup
    * keep-canonical (the [[graft.operators.TextOps.cleanPipeline]]
    * stages, via the same shared `cleanScored` prefix so the numbers
    * CANNOT disagree with the pipeline) → [[holdoutSplit]]'s md5 coin
    * → per-(split, source) document and token totals. One scan, one
    * dedup shuffle, one tiny rollup; every stage composes the
    * already-verified operators rather than re-implementing them.
    */
  def corpusReport(documents: DataFrame, trainHex: String = "cc",
      valHex: String = "e6"): DataFrame = {
    val kept = graft.operators.TextOps.cleanScored(documents)
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("doc_id"),
        expr("min_by(source, doc_id)").as("source"),
        min(col("n_words")).as("n_words"))
    kept
      .withColumn("split",
        when(hashBucket < trainHex, "train")
          .when(hashBucket < valHex, "val").otherwise("test"))
      .groupBy(col("split"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("n_tokens"))
      .orderBy(col("split"), col("source"))
  }

  /** Domain-mix quota: at most `quota` docs per source, chosen by the
    * deterministic hash order (hash rank ⇒ an unbiased, reproducible
    * "random" subset; doc_id tie-break). One shuffle on source; the
    * per-shard top-N is rank-limited, so a huge domain costs a bigger
    * external sort, never memory.
    */
  def domainMixQuota(documents: DataFrame, quota: Int = 40): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(hashBucket, col("doc_id"))
    documents
      .withColumn("pick_rank", row_number().over(w).cast("long"))
      .filter(col("pick_rank") <= quota)
      .select(col("doc_id"), col("source"), col("pick_rank"))
      .orderBy(col("doc_id"))
  }

  /** Temperature-scaled domain mixture weights: w_s ∝ n_s^alpha,
    * normalized — the standard recipe for flattening (alpha < 1) or
    * sharpening a source distribution before sampling. One tiny
    * per-source aggregate plus a broadcast total; rounding to 6
    * decimals keeps the doubles engine-exact after identical
    * pow/divide steps. `alpha` quantized to percent so the operator
    * and its SQL oracle cannot disagree on the exponent.
    */
  def mixtureWeights(documents: DataFrame, alphaPct: Int = 70): DataFrame = {
    val counts = documents.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("scaled", pow(col("n_docs").cast("double"), alphaPct / 100.0))
    // exact decimal total: float summation is order-dependent and the
    // oracle sums in a different order
    val total = counts.agg(
      sum(col("scaled").cast("decimal(28,12)")).cast("double").as("total_scaled"))
    counts.crossJoin(broadcast(total))
      .select(col("source"), col("n_docs"),
        round(col("scaled") / col("total_scaled"), 6).as("weight"))
      .orderBy(col("source"))
  }

  /** Sequence-length histogram per source: token counts bucketed by
    * `bucketWidth` — the distribution a packing/truncation policy is
    * tuned against. Integer bucket arithmetic ⇒ exact oracle; one
    * (source, bucket)-keyed aggregate, map-side combined.
    */
  def lengthHistogram(documents: DataFrame, bucketWidth: Int = 50): DataFrame =
    documents
      .withColumn("n_tokens", TextOps.wordCount("text"))
      .withColumn("bucket", expr(s"n_tokens div $bucketWidth"))
      .groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_tokens")).as("min_tokens"),
        max(col("n_tokens")).as("max_tokens"))
      .orderBy(col("source"), col("bucket"))

  /** Token-budget sequence packing: within each source shard, docs in
    * doc_id order fill bins of `budget` whitespace tokens — bin id =
    * (running token count before this doc) div budget, the streaming
    * packing a sharded training-data writer does. One window per
    * shard; bin boundaries are a pure function of the prefix sums, so
    * the assignment is partition-count-independent.
    */
  def packSequences(documents: DataFrame, budget: Int = 2048): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    documents
      .withColumn("n_tokens", TextOps.wordCount("text"))
      .withColumn("cum_prev", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      // integer div, not `/` (Column./ on longs is double division)
      .withColumn("bin_id", expr(s"cum_prev div $budget"))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("bin_id"))
      .orderBy(col("doc_id"))
  }

  /** Overlapping token-window chunking: each document splits into
    * windows of `chunkTokens` whitespace tokens advancing by
    * `chunkTokens - overlap` — the context-window chunker feeding
    * embedding/retrieval pipelines. Chunk count is
    * 1 + ⌈max(0, n − C) / stride⌉, so every document yields at least
    * one chunk and consecutive chunks share `overlap` tokens.
    *
    * A pure narrow map (split → bounded sequence explode → slice):
    * zero shuffles beyond the presentation sort, so at 100 TB it runs
    * at scan speed and the fan-out is bounded by token count, not row
    * count. `chunk_md5` hashes the exact chunk text — the verification
    * handle for the downstream writer.
    */
  def chunkSequences(documents: DataFrame, chunkTokens: Int = 32,
      overlap: Int = 8): DataFrame =
    chunkedUnordered(documents, chunkTokens, overlap)
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** The order-free chunking core — shared by the batch operator and
    * the streaming twin ([[graft.streaming.DocPipelineJobs]]`.chunkStream`,
    * which cannot sort an unbounded stream), so the two cannot drift.
    */
  private[graft] def chunkedUnordered(documents: DataFrame,
      chunkTokens: Int, overlap: Int): DataFrame = {
    require(overlap >= 0 && overlap < chunkTokens,
      s"overlap must be in [0, chunkTokens): $overlap vs $chunkTokens")
    val stride = chunkTokens - overlap
    documents
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .withColumn("n_tokens", size(col("w")).cast("long"))
      // last chunk index = ⌈max(0, n − C) / stride⌉ via integer
      // arithmetic; greatest() clamps the short-doc case before the
      // negative-numerator div (trunc-vs-floor div differs on
      // negatives across engines, but both land ≤ 0 here)
      .withColumn("chunk_idx", explode(expr(
        s"sequence(0L, greatest(0L, (n_tokens - $chunkTokens + ${stride - 1}) div $stride))")))
      .withColumn("start_tok", col("chunk_idx") * stride + 1)
      .withColumn("chunk", expr(s"slice(w, int(start_tok), $chunkTokens)"))
      .select(col("doc_id"), col("chunk_idx"), col("start_tok"),
        size(col("chunk")).cast("long").as("n_chunk_tokens"),
        md5(array_join(col("chunk"), " ").cast("binary")).as("chunk_md5"))
  }

  /** Curriculum staging: within each source shard, documents rank by
    * the shared [[TextOps.qualityScore]] (best first, doc_id
    * tie-break) and split into `stages` equal bands — stage 1 = the
    * cleanest quarter a curriculum schedule trains on first. The
    * score computes inline over ONE scan (no self-join back to the
    * documents table), and ntile is PARTITIONED by source — a global
    * ntile would funnel every row through one partition; cross-shard
    * stage boundaries therefore differ per shard, which is what a
    * sharded curriculum wants anyway.
    */
  def curriculumStages(documents: DataFrame, stages: Int = 4): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("score").desc, col("doc_id"))
    documents
      .select(col("doc_id"), col("source"), TextOps.qualityScore.as("score"))
      .withColumn("stage", ntile(stages).over(w).cast("long"))
      .orderBy(col("doc_id"))
  }

  /** Data selection under a token budget: keep the highest-quality
    * documents until the budget runs out. The budget splits evenly
    * across hash shards and the quality-ordered running token sum is
    * per-shard — no global sort, no global row_number (the
    * interleave/shard lesson): each shard is one window task, and at
    * 100 TB budget enforcement stays a per-partition scan after ONE
    * shuffle on the shard key. Ordering uses the 6-decimal-rounded
    * score with a doc_id tie-break, so the cut is engine-exact; the
    * running sum is pure integers.
    */
  def tokenBudgetSelect(documents: DataFrame, budget: Long = 20000,
      nShards: Int = 8): DataFrame = {
    val perShard = budget / nShards
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("score").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    documents
      .select(col("doc_id"), (col("doc_id") % nShards).as("shard"),
        TextOps.qualityScore.as("score"),
        TextOps.wordCount("text").as("n_words"))
      .withColumn("cum_tokens", sum(col("n_words")).over(w))
      .withColumn("keep",
        when(col("cum_tokens") <= perShard, 1L).otherwise(0L))
      .orderBy(col("doc_id"))
  }

  /** Proportional source interleaving: the deterministic shuffle that
    * turns per-source shards into ONE training stream where each
    * source appears at a rate proportional to its size. Every doc gets
    * the low-discrepancy key ord = rank_in_source / n_source ∈ (0, 1];
    * reading in ord order visits sources interleaved (a source with
    * twice the docs appears twice as often), and equal ords break
    * deterministically by (source, doc_id).
    *
    * ord is an exact IEEE division of two integers — bit-identical in
    * any engine, so the order is reproducible everywhere. Scale shape:
    * one rank window per source shard; the global order is a
    * *range-partitioned sort on ord* (Spark's distributed orderBy) —
    * deliberately NOT a global row_number, which would funnel every
    * row through one partition. The training position is the file
    * order of the sorted output.
    */
  def interleaveSources(documents: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    documents
      .withColumn("rank_in_source", row_number().over(w).cast("long"))
      .withColumn("n_source", count(lit(1)).over(
        Window.partitionBy(col("source"))))
      // the sort key stays the UNROUNDED exact division — rounding it
      // first would make the row order hinge on cross-engine rounding
      // agreement at 0.5e-9 boundaries; the output carries the exact
      // (rank, n_source) rational instead of a lossy double
      .orderBy(col("rank_in_source").cast("double") / col("n_source"),
        col("source"), col("doc_id"))
      .select(col("doc_id"), col("source"), col("rank_in_source"),
        col("n_source"))
  }
}
