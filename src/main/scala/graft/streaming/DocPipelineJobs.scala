package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.TextOps

/** Streaming twins of the LLM-training-data document pipeline
  * (SURVEY.md §2.3): the same normalize → quality-cut → hash →
  * fingerprint stages the batch `TextOps.cleanPipeline` runs, applied
  * to a live document feed (`readStream` over an archive drop
  * directory, a queue source, etc.). The stateless stages are shared
  * code with the batch operators — not re-implementations — so batch
  * and streaming results cannot drift apart.
  */
object DocPipelineJobs {

  /** Stateless cleaning + scoring on a document stream: normalize,
    * word/stopword quality cut, content md5 and rolling fingerprint.
    * Hash and fingerprint are computed over the NORMALIZED text (the
    * content identity a cleaning pipeline dedups on) — the standalone
    * batch `TextOps.fingerprint` fingerprints raw text, so compare
    * like with like. Pure narrow maps — no watermark, no state, runs
    * at ingest speed and keeps whatever extra columns the feed
    * carries (e.g. an ingest timestamp for downstream watermarking).
    */
  def cleanStream(stream: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftinternal.ColumnBridge.{column, expression}
    TextOps.cleanScored(stream)
      .withColumn("fp",
        column(graft.expressions.RollingFingerprint(expression(col("norm_text")))))
      .drop("norm_text", "n_stop")
  }

  /** [[cleanStream]] + live exact dedup on the content hash: the
    * first-seen copy survives (streams have no global min-doc_id; the
    * batch pipeline keeps that canonical form). With `dedupTtl =
    * Some((tsCol, delay))` the dedup state is watermark-bounded —
    * duplicates separated by more than `delay` of event time may both
    * survive, but state cannot grow without bound; with None the
    * state store holds every hash seen (only safe for bounded
    * replays, mirroring the reference's in-memory consumer
    * bookkeeping).
    */
  def dedupCleanStream(stream: DataFrame,
      dedupTtl: Option[(String, String)] = None): DataFrame = {
    val cleaned = cleanStream(stream)
    dedupTtl match {
      case Some((tsCol, delay)) =>
        cleaned.withWatermark(tsCol, delay).dropDuplicatesWithinWatermark("h")
      case None => cleaned.dropDuplicates("h")
    }
  }

  /** Live token-window chunking: the streaming twin of
    * `Sampling.chunkSequences` — literally the same order-free core
    * (`chunkedUnordered`), a stateless narrow map (split → bounded
    * sequence explode → slice → md5), so it runs at ingest speed with
    * no watermark or state and chunk rows match the batch operator
    * byte for byte.
    */
  def chunkStream(stream: DataFrame, chunkTokens: Int = 32,
      overlap: Int = 8): DataFrame =
    graft.operators.Sampling.chunkedUnordered(stream, chunkTokens, overlap)

  /** Frozen-model scoring on a live stream: the train-batch /
    * score-stream pattern. `tfStats` is the unigram LM a batch run
    * trained (`TextOps.unigramStats`) — a STATIC table broadcast into
    * a stream-static join, so each micro-batch scores at ingest speed
    * against fixed statistics and live scores equal the batch
    * `TextOps.surprisal` on the same model (shared core, spec-pinned).
    * The per-document aggregation keeps one open group per doc_id:
    * run it in update/complete mode over bounded replays, or bound
    * state with a watermark on an ingest-time column upstream —
    * out-of-vocabulary tokens are unscored by contract.
    */
  def scoreStream(stream: DataFrame, tfStats: DataFrame): DataFrame =
    TextOps.surprisalScored(
      stream.select(col("doc_id"), explode(split(col("text"), " ")).as("w")),
      tfStats)

  /** Live frozen-weight LR quality gate: literal weights over
    * per-row integer-ratio features — a stateless narrow map, the
    * SAME scoring core as the batch `TextOps.lrQuality` (shared
    * code), so live keep/score decisions equal the batch ones row
    * for row. No model table even needs broadcasting: the "model"
    * is folded into the expression tree.
    */
  def lrScoreStream(stream: DataFrame): DataFrame =
    TextOps.lrScored(stream)

  /** Live incremental dedup against a STORED hash index: the
    * streaming twin of `Dedup.incrementalDedup` — the daily-ingest
    * shape run at ingest speed. Arriving documents pass the shared
    * `TextOps.cleanScored` normalize/quality prefix (same code as the
    * batch operator, so gates cannot drift), drop everything whose
    * content hash the index already holds (a stream-static LEFT ANTI
    * join — the index is a static parquet table maintained by
    * accepted output, broadcast or shuffled by the planner as its
    * size dictates), then dedup within the stream itself. The batch
    * operator keeps the min-doc_id canonical per hash and counts its
    * batch duplicates; a stream has no global order, so the live
    * contract is FIRST-SEEN-survives with no dup count — the same
    * divergence [[dedupCleanStream]] documents. The within-stream
    * dedup state holds every new hash seen, which is safe for bounded
    * replays: production compacts survivors into the static index and
    * restarts the stream, which is exactly the incremental-crawl cycle
    * this operator models.
    */
  def incrementalGateStream(stream: DataFrame, storedIndex: DataFrame): DataFrame = {
    // the static side of a stream-static join is RE-PLANNED every
    // micro-batch, so an un-materialized distinct here would
    // re-shuffle the whole corpus-sized index per batch. Eagerly
    // checkpoint the one-column distinct frame (NOT persist: a
    // persist registers in the CacheManager and nothing ever
    // unpersists it, so repeated gate setups in one session would
    // accumulate session-lifetime cached copies — round-11 advice).
    // A checkpointed frame's blocks are freed by the ContextCleaner
    // once the streaming query that references the plan is dropped,
    // which is exactly the gate's lifetime; per-batch cost stays a
    // cached-block scan either way, and a restart rebuilds it from
    // the index parquet. A stored hash index is usually distinct
    // already, but the contract here can't assume every caller's is.
    val fresh = TextOps.cleanScored(stream)
      .join(graft.operators.Caching.materialize(
        storedIndex.select(col("h")).distinct()), Seq("h"), "left_anti")
    fresh.dropDuplicates("h").select(col("doc_id"), col("h"), col("n_words"))
  }

  /** Live DSIR importance scoring with a FROZEN trained model: the
    * train-batch / score-stream pattern over
    * `Sampling.dsirStats` — the target/general unigram LMs a batch
    * run trained, broadcast into every micro-batch — with the scoring
    * body SHARED with the batch operator (`Sampling.dsirScoreOn`), so
    * live scores equal batch scores on the same model row for row.
    * Out-of-vocabulary words are unscored by contract (they existed
    * in neither LM). Per-doc aggregation keeps one open group per
    * doc_id — run in update/complete mode over bounded replays, or
    * watermark an ingest-time column upstream, the same caveat as
    * [[scoreStream]].
    */
  def dsirScoreStream(stream: DataFrame, stats: DataFrame): DataFrame =
    graft.operators.Sampling.dsirScoreOn(stream, stats)

  /** Live perceptual-hash gate: the streaming twin of
    * `Multimodal.imagePhash` + `phashPairs`, for the "is this upload
    * a near-copy of something we already hold?" check. Arriving image
    * records decode and dHash in the same stateless narrow map the
    * batch operator runs (shared code), then probe a STATIC
    * known-hash index through the same 4×16-bit banding — as a
    * broadcast stream-static join, so every micro-batch verifies at
    * ingest speed with no state store at all. Multi-band collisions
    * of one (doc, known) pair collapse by keeping only the first
    * colliding band — a pure expression over the two hashes in the
    * row, not a stateful dedup. Emits one row per flagged pair
    * (doc_id, known_id, phash, dist ≤ `Multimodal.HammingMaxDist`);
    * recall is exact there by the SimHash pigeonhole, same as batch.
    */
  def phashGateStream(stream: org.apache.spark.sql.Dataset[graft.operators.MMRecord],
      knownHashes: DataFrame): DataFrame = {
    implicit val spark: org.apache.spark.sql.SparkSession = stream.sparkSession
    val hashed = graft.operators.Multimodal.imagePhash(stream)
    val sBanded = hashed.select(col("doc_id"), col("phash"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("key", expr("shiftright(phash, band * 16) & 65535"))
    val kBanded = broadcast(knownHashes.select(col("doc_id").as("known_id"),
        col("phash").as("known_phash"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("key", expr("shiftright(known_phash, band * 16) & 65535")))
    sBanded.join(kBanded, Seq("band", "key"))
      .withColumn("dist", expr("bit_count(phash ^ known_phash)").cast("long"))
      .filter(col("dist") <= graft.operators.Multimodal.HammingMaxDist)
      .withColumn("first_band", expr("filter(sequence(0, 3), b -> " +
        "(shiftright(phash, b * 16) & 65535) = (shiftright(known_phash, b * 16) & 65535))[0]"))
      .filter(col("band") === col("first_band"))
      .select(col("doc_id"), col("known_id"), col("phash"), col("dist"))
  }

  /** Live MinHash-LSH gate: the text twin of [[phashGateStream]] —
    * "is this arriving document a near-duplicate of the corpus we
    * already indexed?". Each arrival's 128-perm signature computes in
    * a stateless per-row map (same fused shingles, same permutation
    * family as the batch `Dedup.minhashSignatures` — a streaming
    * groupBy would be stateful; per-row evaluation of the same math
    * is not), then its band folds probe a STATIC signature table
    * through a broadcast stream-static join, and candidates verify by
    * positional match count exactly like the batch operator.
    * Documents too short to shingle emit nothing — identical to their
    * absence from the batch signature table. No state store; recall
    * follows the same banding probability as batch LSH — the gate reads
    * the batch operator's `Dedup.MinhashBands`, `Dedup.MinhashRows` and
    * `Dedup.MinhashMinEst`.
    */
  def minhashGateStream(stream: DataFrame, knownSigs: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftinternal.ColumnBridge.{column, expression}
    import graft.operators.Dedup.{MinhashBands, MinhashMinEst, MinhashRows}
    // per-arrival signature via the same fused per-row expression the
    // batch signature table uses (MinhashTextSignature — stateless,
    // codegen'd, no typed flatMap deserialization); short docs NULL
    // out and are filtered, identical to their absence from the
    // batch signature table
    val sigd = stream
      .select(col("doc_id").cast("long").as("doc_id"),
        column(graft.expressions.MinhashTextSignature(
          expression(col("text").cast("string")))).as("mh"))
      .filter(col("mh").isNotNull)
    def banded(df: DataFrame): DataFrame =
      df.select(col("doc_id"), col("mh"), posexplode(column(
        graft.expressions.BandHashes(expression(col("mh")), MinhashRows, MinhashBands))))
        .toDF("doc_id", "mh", "band_idx", "band_hash")
    val sBanded = banded(sigd)
    val kBanded = broadcast(banded(knownSigs)
      .withColumnsRenamed(Map("doc_id" -> "known_id", "mh" -> "known_mh")))
    val est = {
      import org.apache.spark.sql.graftinternal.ColumnBridge.{column, expression}
      column(graft.expressions.ArrayMatchCount(
        expression(col("mh")), expression(col("known_mh"))))
        .cast("double") / 128.0
    }
    sBanded.join(kBanded, Seq("band_idx", "band_hash"))
      .filter(col("doc_id") =!= col("known_id"))
      .withColumn("est_jaccard", est)
      .filter(col("est_jaccard") >= MinhashMinEst)
      // collapse multi-band hits with the first colliding band — a
      // pure expression over the two signatures, no stateful dedup
      .withColumn("first_band", expr(
        s"filter(sequence(0, ${MinhashBands - 1}), b -> " +
          s"aggregate(slice(mh, b * $MinhashRows + 1, $MinhashRows), 0L, " +
          "(acc, x) -> pmod(acc * 1000003 + x, 2147483647)) = " +
          s"aggregate(slice(known_mh, b * $MinhashRows + 1, $MinhashRows), 0L, " +
          "(acc, x) -> pmod(acc * 1000003 + x, 2147483647)))[0]"))
      .filter(col("band_idx") === col("first_band"))
      .select(col("doc_id"), col("known_id"), round(col("est_jaccard"), 6).as("est_jaccard"))
  }

  /** Live embedding near-dup gate: the vector twin of
    * [[minhashGateStream]] — "is this arriving embedding within
    * cosine ≥ `Dedup.EmbedNearDupTau` of the corpus we already
    * indexed?" (the ingest-time companion to `Dedup.embedNearDup`,
    * e.g. admitting only semantically-novel documents). Each arrival's multi-table
    * hyperplane bucket keys compute in the SAME codegen'd expression
    * as batch (`VectorOps.lshTableKeys`, same plane family — keys are
    * table-tagged, so equal keys means same table AND same signature),
    * then probe a STATIC bucketed index through a broadcast
    * stream-static join; candidates verify by exact cosine, and
    * multi-table hits of one (arrival, known) pair collapse by
    * keeping only the first colliding table — a pure expression over
    * the two key arrays in the row, not a stateful dedup. No state
    * store; recall follows the same multi-table collision probability
    * as the batch operator at its small-corpus geometry
    * (`Dedup.EmbedSmallTables` × `Dedup.EmbedSmallBits`).
    */
  def embedGateStream(stream: DataFrame, knownVecs: DataFrame): DataFrame = {
    import graft.functions.VectorOps
    import graft.operators.Dedup.{EmbedNearDupTau, EmbedSmallBits, EmbedSmallTables}
    val s = stream.select(col("vec_id"),
        VectorOps.toDoubleArray(col("embedding")).as("vd"))
      .withColumn("keys", VectorOps.lshTableKeys(col("vd"), EmbedSmallTables, EmbedSmallBits))
      .select(col("vec_id"), col("vd"), col("keys"),
        explode(col("keys")).as("bucket"))
    val k = broadcast(knownVecs.select(col("vec_id").as("known_id"),
        VectorOps.toDoubleArray(col("embedding")).as("known_vd"))
      .withColumn("known_keys",
        VectorOps.lshTableKeys(col("known_vd"), EmbedSmallTables, EmbedSmallBits))
      .select(col("known_id"), col("known_vd"), col("known_keys"),
        explode(col("known_keys")).as("bucket")))
    s.join(k, Seq("bucket"))
      .filter(col("vec_id") =!= col("known_id"))
      // first colliding table dedups multi-table hits statelessly
      .withColumn("first_bucket",
        expr("filter(keys, (x, i) -> x = known_keys[i])[0]"))
      .filter(col("bucket") === col("first_bucket"))
      .withColumn("cos", VectorOps.cosine(col("vd"), col("known_vd")))
      .filter(col("cos") >= EmbedNearDupTau)
      .select(col("vec_id"), col("known_id"), round(col("cos"), 6).as("cos"))
  }

  /** Live benchmark-contamination gate: the ingest-time twin of
    * `Dedup.contamination` — "does this arriving training document
    * contain an eval document's content?". Asymmetric shingle
    * containment, |shingles(train) ∩ shingles(eval)| / |shingles(eval)|
    * ≥ τ (the batch operator's `Dedup.ContaminationTauNum`), so a
    * train doc that embeds a whole eval doc flags at 1.0 regardless of
    * its own length.
    *
    * Stateless by construction: each arrival's distinct shingle
    * fingerprints compute in the same per-row codegen'd scan the
    * batch operator's fused shingling uses
    * ([[graft.expressions.ShingleFingerprints]] — sorted ascending by
    * contract), the eval docs ride a broadcast STATIC table of
    * per-doc fingerprint arrays (eval sets are small by nature — the
    * same broadcast bet the batch operator makes), and the exact
    * intersection per (arrival, eval) pair is the shared sorted-merge
    * counter [[graft.expressions.SortedIntersectCount]] evaluated
    * inside the broadcast nested-loop join — no streaming aggregate,
    * no state store, ingest-speed micro-batches. The batch operator's
    * explode + count-join computes the same |A ∩ B| over the same
    * fingerprints, so live flags equal batch rows exactly
    * (StreamBatchParitySpec). Arrivals too short to shingle emit
    * nothing, like their absence from the batch shingle table; eval
    * docs too short to shingle are dropped from the index (the batch
    * inner join can never emit them).
    */
  def contaminationGateStream(stream: DataFrame, evalDocs: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftinternal.ColumnBridge.{column, expression}
    import graft.operators.Dedup.{ContaminationTauNum, TauDenom}
    def fps(c: org.apache.spark.sql.Column) =
      column(graft.expressions.ShingleFingerprints(expression(c)))
    val evalArr = broadcast(evalDocs
      .select(col("doc_id").cast("long").as("eval_id"),
        fps(col("text").cast("string")).as("ehs"))
      .filter(size(col("ehs")) > 0) // s_eval = 0 must never pass the cut
      .withColumn("s_eval", size(col("ehs")).cast("long")))
    stream
      .select(col("doc_id").cast("long").as("train_id"),
        fps(col("text").cast("string")).as("ths"))
      .filter(size(col("ths")) > 0)
      .crossJoin(evalArr) // broadcast NLJ over the tiny eval index
      .withColumn("inter", column(graft.expressions.SortedIntersectCount(
        expression(col("ths")), expression(col("ehs")))).cast("long"))
      .filter(col("inter") * TauDenom >= col("s_eval") * ContaminationTauNum)
      .select(col("eval_id"), col("train_id"), col("inter"), col("s_eval"))
  }

  /** Live whitening against FROZEN stats: the batch fit
    * (`Similarity.whitenStats`) broadcasts into a stream-static join
    * and the shared apply core emits z — live values equal the batch
    * operator on the same stats bit for bit (spec-pinned). The
    * train-batch / score-stream pattern again: no state, no shuffle,
    * micro-batches whiten at ingest speed.
    */
  def whitenStream(stream: DataFrame, stats: DataFrame): DataFrame =
    graft.operators.Similarity.applyWhiten(
      graft.operators.Similarity.explodedDims(stream), stats)

  /** Live PCA projection with a FROZEN trained model: the projection
    * columns are the SAME literal multiply-add chains the batch
    * operator builds (`Similarity.pcaColumns`), so live projections
    * are bit-identical to batch rows. Stateless narrow map — the
    * model lives in the expression tree, nothing broadcasts.
    * Zero-norm vectors are dropped like the batch corpus does (they
    * have no direction); the batch probe/corpus vec_id split is a
    * corpus-layout concern and does NOT apply to a live feed.
    */
  def pcaStream(stream: DataFrame,
      model: graft.operators.Similarity.PcaModel): DataFrame =
    stream.select(col("vec_id"),
        graft.functions.VectorOps.toDoubleArray(col("embedding")).as("cv"))
      .filter(graft.functions.VectorOps.dot(col("cv"), col("cv")) > 0)
      .select(col("vec_id") +: graft.operators.Similarity.pcaColumns(model): _*)

  /** Live token-budget admission gate: each shard keeps ONE long of
    * state (tokens admitted so far) and admits arriving documents
    * until its budget share is spent — the ingest-time companion to
    * the batch `Sampling.tokenBudgetSelect`. The batch operator
    * ranks by quality (it can sort history); a stream cannot, so the
    * live gate is ARRIVAL-order admission by contract: once a
    * shard's budget is gone every later doc gates to keep=0. State
    * is O(nShards) longs total, forever. WITHIN one micro-batch the
    * post-shuffle row order is not the source arrival order, so
    * admission there is pinned to doc_id order — deterministic
    * across runs, like every other operator here.
    */
  def budgetGateStream(stream: DataFrame, budget: Long = 20000,
      nShards: Int = 8): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val perShard = budget / nShards
    val spark = stream.sparkSession
    import spark.implicits._
    stream
      .select((col("doc_id") % nShards).cast("long").as("shard"),
        col("doc_id").cast("long").as("doc_id"),
        graft.operators.TextOps.wordCount("text").as("n_words"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (shard: Long, rows: Iterator[(Long, Long, Long)],
            state: GroupState[Long]) => {
          var used = state.getOption.getOrElse(0L)
          // doc_id order within the batch: the group iterator's order
          // after the shuffle is engine-internal, not arrival order
          val out = rows.toVector.sortBy(_._2).map { case (_, docId, nWords) =>
            val keep = if (used + nWords <= perShard) { used += nWords; 1L }
              else 0L
            (shard, docId, nWords, used, keep)
          }
          state.update(used)
          out.iterator
        })
      .toDF("shard", "doc_id", "n_words", "shard_tokens_used", "keep")
  }

  /** Live Bloom-filter membership per shard: the streaming twin of
    * `Dedup.bloomShingleFilter`'s verdict side, with its geometry
    * (`Dedup.BloomBits`, `Dedup.BloomHashes`). State per `source`
    * shard is ONE fixed BloomBits-bit array (O(m), never grows with the
    * stream — the point of a Bloom filter vs `dropDuplicates`'
    * per-key state store). Verdicts match the batch operator
    * shingle-for-shingle: each doc's distinct 3-word-shingle
    * fingerprints (the fused [[graft.expressions.ShingleFingerprints]]
    * scan, same 31-bit top-half position hash, same permutation
    * family) are ALL tested against the bits set by PRIOR docs, then
    * set — a doc's own shingles never count as "seen", exactly like
    * the batch filter built from earlier docs only. Emits
    * (source, doc_id, n_shingles, n_maybe_seen) — the batch output
    * shape (false positives at the usual Bloom rate, never false
    * negatives). State is one bit array per distinct source, kept
    * forever — only safe while the shard universe is bounded; nothing
    * evicts it yet (ROADMAP D3 adds eviction).
    */
  def bloomStream(stream: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import graft.operators.Dedup.{BloomBits, BloomHashes}
    val perms = graft.expressions.MinhashTextSignature.permA
      .zip(graft.expressions.MinhashTextSignature.permB).take(BloomHashes)
    val prime = graft.expressions.MinhashTextSignature.Prime
    val spark = stream.sparkSession
    import spark.implicits._
    stream
      .select(col("source").cast("string").as("source"),
        col("doc_id").cast("long").as("doc_id"),
        col("text").cast("string").as("text"))
      .as[(String, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (source: String, rows: Iterator[(String, Long, String)],
            state: GroupState[Array[Long]]) => {
          val bits = state.getOption.getOrElse(new Array[Long](BloomBits / 64))
          val out = rows.map { case (_, docId, text) =>
            val fps = graft.expressions.ShingleFingerprints
              .compute(if (text == null) "" else text).toLongArray()
            // pass 1: every shingle probes the PRIOR state only...
            var nMaybe = 0L
            fps.foreach { fp =>
              val h = fp >>> 32 // 31-bit top half, = batch shiftright(h, 32)
              var allSet = true
              perms.foreach { case (a, b) =>
                val pos = (Math.floorMod(a * h + b, prime) % BloomBits).toInt
                if ((bits(pos >> 6) & (1L << (pos & 63))) == 0L) allSet = false
              }
              if (allSet) nMaybe += 1
            }
            // ...pass 2: then the doc's shingles enter the filter
            fps.foreach { fp =>
              val h = fp >>> 32
              perms.foreach { case (a, b) =>
                val pos = (Math.floorMod(a * h + b, prime) % BloomBits).toInt
                bits(pos >> 6) |= 1L << (pos & 63)
              }
            }
            (source, docId, fps.length.toLong, nMaybe)
          }.toVector // drain before the state write below
          state.update(bits)
          out.iterator
        })
      .toDF("source", "doc_id", "n_shingles", "n_maybe_seen")
  }
}
