package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorOps

/** Deduplication operators for the LLM-training-data pipeline
  * (SURVEY.md §2.3): exact, MinHash+LSH, SimHash, n-gram Jaccard and
  * embedding-cosine near-dup.
  *
  * Scale design (100 TB): exact dedup keys on md5 (uniform ⇒ no skew).
  * The near-dup family never goes n²: shingling/minhashing/simhashing
  * are narrow maps; the only shuffles key on (band, bucket-hash) or
  * bit-chunk buckets, and pair verification happens strictly within
  * buckets (candidate set ≪ n²). Exact n-gram Jaccard — inherently a
  * shingle self-join — is the *verification oracle*, not the scale
  * path; at 100 TB you run `minhashLsh` and verify candidates only.
  *
  * Caching contract: the near-dup operators build inside
  * [[Caching.materialized]], which persists their signature tables
  * (several plan branches read them), eagerly materializes the
  * (small) pair result, and unpersists the signature tables before
  * returning or throwing — no cached state outlives the call. The
  * returned frame holds the materialized result (lineage truncated);
  * its blocks are freed by the ContextCleaner once the caller drops
  * the reference. At 100 TB the equivalent move is materializing the
  * signature table to storage and reading it back per branch.
  *
  * Degenerate inputs (DedupSpec runs every operator on each): an empty
  * table gives an empty result. A NULL text, like one under three
  * words, has no shingles and no signature, so the shingle, signature
  * and pair operators skip its row; [[exact]] groups NULL texts under
  * one NULL hash, and the per-document outputs ([[dupSpans]],
  * [[urlDedup]], [[connectedComponents]], [[canonicalize]],
  * [[softDedupWeights]]) keep one row for it. A corpus of identical
  * copies pairs every two documents, except through
  * [[containmentStratified]] — and [[containmentAuto]], which sends
  * such a dense corpus there: the copies read as background
  * similarity, every arm drops, the result is empty and the drop is
  * logged. [[containmentPairsLsh]] is the lossless path.
  */
object Dedup {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  // The family's thresholds, one value each. The batch operators, their
  // `DocPipelineJobs` twins and the DuckDB oracles in `SparkEntry` all
  // read these, so a twin's output and its oracle cannot drift from the
  // batch query.

  /** Denominator of every integer threshold below: τ = num / TauDenom,
    * compared as `inter · TauDenom ≥ size · num` — exact in both
    * engines.
    */
  private[graft] val TauDenom = 100
  /** Jaccard cut, τ = 0.5. */
  private[graft] val JaccardTauNum = 50
  /** Containment cut, τ = 0.8. */
  private[graft] val ContainmentTauNum = 80
  /** Contamination cut, τ = 0.5 of the eval doc's shingles. */
  private[graft] val ContaminationTauNum = 50
  /** [[contamination]]'s eval set: `doc_id < ContaminationEvalIds`. */
  private[graft] val ContaminationEvalIds = 20L
  /** The seen/new split of [[incrementalDedup]] (the stored index) and
    * [[bloomShingleFilter]] (the filter's shard): `doc_id < SeenSplitId`
    * is already seen, the rest is new.
    */
  private[graft] val SeenSplitId = 250L
  /** Bloom filter geometry: bits (a power of two, so positions are a
    * plain modulus) and hash positions per shingle (taken from the
    * MinHash permutation family).
    */
  private[graft] val BloomBits = 131072
  private[graft] val BloomHashes = 4
  /** MinHash LSH: bands × rows over the 128-value signature, and the
    * estimated-Jaccard floor a candidate must reach.
    */
  private[graft] val MinhashBands = 16
  private[graft] val MinhashRows = 8
  private[graft] val MinhashMinEst = 0.2
  /** [[jaccardLshVerified]]'s banding: rows × bands. */
  private val VerifiedRows = 6
  private val VerifiedBands = 21
  /** [[containmentStratified]]'s geometry: the widest size-class gap
    * provisioned and the band cap per arm.
    */
  private val StratMaxGap = 5
  private val StratBandBudget = 64
  /** τ of [[embedNearDup]] and its stream twin. */
  private[graft] val EmbedNearDupTau = 0.95
  /** [[embedLshParams]]'s geometry up to 48 k vectors: tables × bits. */
  private[graft] val EmbedSmallTables = 8
  private[graft] val EmbedSmallBits = 12
  /** Rounds [[distributedCC]] runs before it gives up. */
  private val CcMaxRounds = 50

  /** Distinct 3-word shingles per document (docs shorter than 3 words
    * drop out, mirroring the SQL oracle's generate_series emptiness).
    */
  def shingles(documents: DataFrame): DataFrame =
    documents
      .withColumn("w", split(col("text"), " "))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), explode(expr(
        "array_distinct(transform(sequence(0, size(w) - 3)," +
          " i -> concat(w[i], ' ', w[i+1], ' ', w[i+2])))")).as("g"))

  /** (doc_id, h): each document's distinct shingle 62-bit fingerprints
    * via the fused one-pass [[graft.expressions.ShingleFingerprints]]
    * — no interpreted transform lambda, no shingle-string
    * materialization. Bit-identical to
    * `shingles() + tokenHash62(g)` (spec-checked); that declarative
    * chain stays as the parity twin.
    */
  private[graft] def shingleFps(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftinternal.ColumnBridge.{column, expression}
    documents.select(col("doc_id"),
      explode(column(graft.expressions.ShingleFingerprints(
        expression(col("text"))))).as("h"))
  }

  /** Incremental crawl-over-crawl exact dedup — the daily-ingest
    * shape: a NEW batch of documents dedups against the hash index of
    * everything already accepted, then within itself, and only the
    * survivors ship. Here the "stored index" derives from the
    * previous crawl's rows (doc_id < [[SeenSplitId]]); in production it is a
    * parquet hash table maintained by exactly this query's output.
    * The index side is corpus-sized, so the anti-join shuffles BOTH
    * sides on the uniform content hash (never broadcast — that is
    * what [[bloomShingleFilter]]'s cheap pre-pass is for); the batch
    * side then keeps its canonical copy per hash in the same keyed
    * shuffle. Normalization/quality stages are the shared
    * [[graft.operators.TextOps.cleanScored]] prefix, so incremental
    * and full-rebuild pipelines cannot drift.
    */
  def incrementalDedup(documents: DataFrame): DataFrame = {
    val scored = graft.operators.TextOps.cleanScored(documents)
    val storedIndex = scored.filter(col("doc_id") < SeenSplitId)
      .select(col("h")).distinct()
    scored.filter(col("doc_id") >= SeenSplitId)
      .join(storedIndex, Seq("h"), "left_anti")
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("doc_id"),
        count(lit(1)).as("n_batch_dups"),
        min(col("n_words")).as("n_words"))
      .select(col("doc_id"), col("h"), col("n_batch_dups"), col("n_words"))
      .orderBy(col("doc_id"))
  }

  /** Exact dedup: hash-groupBy on md5 of the text. Emitting every
    * group (not just dups) doubles as an md5-parity check against the
    * oracle; the key is uniform so the shuffle cannot skew.
    */
  def exact(documents: DataFrame): DataFrame =
    documents.groupBy(md5(col("text")).as("h"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("canonical"))
      .orderBy(col("h"))

  /** Exact n-gram Jaccard pairs ≥ τ via shingle explode + count-join:
    * intersections come out of a single (doc1, doc2) hash aggregate
    * over the shingle equi-join — small fixed-width rows all the way.
    * Pure integer threshold arithmetic ⇒ the cut is engine-exact.
    * See [[ngramJaccardPrefix]] for the PPJoin variant and PLANS.md
    * for when each wins.
    */
  def ngramJaccard(documents: DataFrame): DataFrame =
    // the self-join keys on the 62-bit shingle fingerprint, not the
    // string: fixed 8-byte shuffle keys instead of ~20-byte strings,
    // and long-vs-long probes in the join hash table. Distinct
    // shingles map to distinct keys up to fingerprint collisions
    // (~n²/2⁶³; the string-keyed DuckDB oracle would catch one), so
    // the counts stay exact — the classic Rabin-fingerprint trade
    // every shingle pipeline makes at scale.
    // tri feeds three plan branches (sizes + both join sides) —
    // persisted so the scan + fused shingling run once, not three
    // times, then released after the small result materializes
    Caching.materialized { held =>
      val tri = held(shingleFps(documents))
      val sizes = tri.groupBy(col("doc_id")).agg(count(lit(1)).as("s"))
      jaccardVerify(joinSizes(shingleCountJoin(tri), sizes))
    }

  /** The count-join's candidate body over a fingerprint table
    * (doc_id, h): the shingle self-join counted per (doc1, doc2),
    * doc1 < doc2 — exact |A ∩ B| for every pair sharing a shingle.
    *
    * SHUFFLE_HASH on the self-join (round 13): equal-sized sides, so
    * neither the planner (muchSmaller fails by construction) nor AQE
    * (measured: the 128 MB local-map threshold arm did not flip it)
    * ever picks the hash join on its own — yet hashing one side
    * beats sorting BOTH sides wherever the build partition fits
    * memory (SMJ 2.06 s vs SHJ 1.12 s at sf0.1; OPTIMIZATION_r13.md
    * "Count-join family"). At the count-join's contract scale
    * (sparse/moderate corpora — the dispatchers send dense corpora to
    * the LSH paths) the per-partition build side is the fingerprint
    * table over wide AQE partitions, well inside executor memory;
    * SMJ's spill grace is only needed past the regime where this
    * operator is the wrong choice anyway (Θ(Σ df²), SCALING.md).
    */
  private def shingleCountJoin(tri: DataFrame): DataFrame =
    tri.select(col("doc_id").as("doc1"), col("h")).hint("shuffle_hash")
      .join(tri.select(col("doc_id").as("doc2"), col("h")), Seq("h"))
      .filter(col("doc1") < col("doc2"))
      .groupBy(col("doc1"), col("doc2"))
      .agg(count(lit(1)).as("inter"))

  /** PPJoin-style exact Jaccard: rarest-first canonical order, only the
    * `s − ⌈τ·s⌉ + 1` prefix shingles join, full intersections
    * recomputed per candidate. Same result as [[ngramJaccard]]
    * (spec-checked). Wins when shingle vocabulary is large and skewed
    * (real corpora: candidates ≪ join pairs); loses on dense tiny
    * vocabularies where hauling the per-doc shingle arrays through the
    * candidate join costs more than the count-join saves.
    */
  def ngramJaccardPrefix(documents: DataFrame): DataFrame = Caching.materialized { held =>
    val tri = shingles(documents)
    // canonical order = global document frequency ascending (tie: text):
    // prefixes then hold each doc's *rarest* shingles, so prefix-join
    // collisions only happen between docs sharing rare features — this
    // ordering is what keeps PPJoin candidates small
    val dfreq = tri.groupBy(col("g")).agg(count(lit(1)).as("df"))
    val docSets = held(tri.join(dfreq, Seq("g"))
      .groupBy(col("doc_id"))
      .agg(expr("transform(sort_array(collect_list(struct(df, g))), x -> x.g)").as("garr"),
        count(lit(1)).as("s"))
      .withColumn("prefix_len",
        col("s") - expr(s"(s * $JaccardTauNum + $TauDenom - 1) div $TauDenom") + 1))
    val prefixes = docSets
      .select(col("doc_id"),
        explode(slice(col("garr"), lit(1), col("prefix_len").cast("int"))).as("g"))
    val cand = prefixes.select(col("doc_id").as("doc1"), col("g"))
      .join(prefixes.select(col("doc_id").as("doc2"), col("g")), Seq("g"))
      .filter(col("doc1") < col("doc2"))
      .select(col("doc1"), col("doc2"))
      .distinct()
    cand
      .join(docSets.select(col("doc_id").as("doc1"),
        col("garr").as("garr1"), col("s").as("s1")), Seq("doc1"))
      .join(docSets.select(col("doc_id").as("doc2"),
        col("garr").as("garr2"), col("s").as("s2")), Seq("doc2"))
      .withColumn("inter", size(array_intersect(col("garr1"), col("garr2"))).cast("long"))
      .filter(col("inter") * TauDenom >= (col("s1") + col("s2") - col("inter")) * JaccardTauNum)
      .select(col("doc1"), col("doc2"), col("inter"), col("s1"), col("s2"))
      .orderBy(col("doc1"), col("doc2"))
  }

  /** Sampled occurrences below which the strategy probe re-runs on
    * the FULL fingerprint table: at a 10% rate this re-probes corpora
    * under ~20 k shingle occurrences (a few hundred documents), where
    * the full aggregate costs nothing and the tiny-fixture regime
    * pins must stay exact. Above it the sampled estimators carry.
    */
  private[graft] val MinProbeSampledOcc = 2000L

  /** The statistic that decides count-join vs PPJoin prefix filter:
    * singleton mass — the fraction of shingle OCCURRENCES whose
    * shingle appears in exactly ONE document. df=1 shingles produce
    * zero join pairs but still flow through the count-join's
    * self-join shuffle; the prefix filter prunes them (and everything
    * rare) before any join. The measured crossover on this corpus
    * (PLANS.md, round-1 final additions): a dense ~30-word vocabulary
    * has almost no df=1 shingles and the prefix variant LOSES (extra
    * global df aggregate + array hauling, ~3.4 s vs ~3.0 s at
    * sf0.1); a realistic
    * long-tail vocabulary is majority-singleton and the prune wins.
    * One cheap keyed aggregate over the fused fingerprint table —
    * a fraction of either join's cost.
    *
    * The statistics come from a SAMPLE of the shingle VOCABULARY
    * (round-8: the [[Multimodal.phashStrategy]] sampling idea ported
    * to the text side, where the probe table — one row per shingle
    * OCCURRENCE — is far larger than the 4-rows-per-doc band table
    * that motivated it; at 100 TB the probe's groupBy(h) was a full
    * corpus shuffle for a yes/no answer, now 10× smaller).
    *
    * The sample unit is the SHINGLE, not the occurrence: a hash cut
    * on the fingerprint (xxhash64(h) mod 10 = 0) keeps ~10% of the
    * vocabulary but EVERY occurrence of each kept shingle, so the
    * per-shingle df — which all three statistics are functions of —
    * is exact within the sample. (Occurrence-level Bernoulli sampling
    * was measured flipping small corpora to the prefix path: a df=2
    * shingle samples to df=1 with probability 2f(1−f) ≈ 18%, grossly
    * inflating singleton mass.) Every statistic is a per-shingle sum,
    * so the sampled sums are unbiased at rate f, and the two decision
    * quantities are RATIOS of them — the f cancels, no correction
    * factor at all. The residual risk is variance from heavy
    * shingles: missing one underestimates candidate mass, which errs
    * toward the exact paths — the safe direction. The filter is a
    * deterministic predicate below the aggregation, so the probe's
    * map side drops 90% of rows before they shuffle. A sparse sample
    * (occ_s < [[MinProbeSampledOcc]]) falls back to the exact full
    * aggregate, so tiny corpora and spec fixtures dispatch exactly as
    * before.
    *
    * Candidate mass accumulates in DOUBLE from the first multiply:
    * df·(df−1) as a long overflows past df ≈ 3·10⁹ — one ubiquitous
    * shingle at 100 TB would flip the sum negative and mis-dispatch
    * the dense corpus to the quadratic count-join. The statistic
    * feeds a threshold, so double's 2⁵³ precision loss is harmless;
    * its sign-correctness is not.
    */
  def jaccardStrategy(documents: DataFrame): String = {
    val tri = shingleFps(documents)
    def stats(t: DataFrame): (Long, Long, Double) = {
      val r = t
        .groupBy(col("h")).agg(count(lit(1)).as("df"))
        .agg(sum(col("df")).as("occ"),
          sum(when(col("df") === 1, 1L).otherwise(0L)).as("singletons"),
          sum(col("df").cast("double") * (col("df") - 1).cast("double") / 2)
            .as("cand_mass"))
        .head()
      (if (r.isNullAt(0)) 0L else r.getLong(0),
        if (r.isNullAt(1)) 0L else r.getLong(1),
        if (r.isNullAt(2)) 0.0 else r.getDouble(2))
    }
    val (occ, singles, candMass) = {
      val sampled = stats(tri.filter(pmod(xxhash64(col("h")), lit(10)) === 0))
      if (sampled._1 < MinProbeSampledOcc) stats(tri) else sampled
    }
    if (occ > 0 && singles.toDouble / occ >= SingletonMassCutover) "prefix"
    else if (occ > 0 && candMass / occ > DenseCandsPerOccCutover) "lsh"
    else "count"
  }

  /** Count-join candidate mass per shingle occurrence above which the
    * dense regime dispatches to [[jaccardLshVerified]] instead of the
    * exact count-join. The count-join's dominant cost is shuffling +
    * aggregating Σ df·(df−1)/2 candidate increments; the LSH path's
    * is ~128 signature multiplies per occurrence plus verification of
    * candidates ≈ true pairs. Crossover measured on the generated
    * corpus family (PLANS.md round-2 `dd_jaccard_adaptive`): sf0.01
    * sits at ~0.5 increments per occurrence (count-join wins, and the
    * exact contract holds by construction), sf0.1 at ~10, true sf1
    * at ~46 and growing linearly with corpus size at fixed vocabulary
    * — the count-join is quadratic there while LSH+verify stays
    * near-linear.
    */
  private[graft] val DenseCandsPerOccCutover = 6.0

  /** Singleton mass (share of shingle occurrences whose shingle sits in
    * exactly one document) at or above which [[jaccardStrategy]] picks
    * the PPJoin prefix path: a majority of occurrences that the prefix
    * filter prunes before any join.
    */
  private[graft] val SingletonMassCutover = 0.5

  /** Adaptive Jaccard: measure the vocabulary with [[jaccardStrategy]],
    * then dispatch — long-tail vocabulary → [[ngramJaccardPrefix]],
    * moderate density → [[ngramJaccard]]'s count-join, and DENSE
    * vocabulary (count-join candidate mass beyond
    * [[DenseCandsPerOccCutover]] per occurrence — the regime where
    * every deterministic shingle-sharing candidate generator is
    * quadratic in corpus size) → [[jaccardLshVerified]]. The first
    * two regimes produce identical results by construction
    * (spec-pinned); the LSH regime verifies exactly over
    * probabilistic candidates — its recall curve is quantified on
    * [[jaccardLshVerified]] and result equality on this corpus family
    * is spec-pinned at the driver scale. The corpus tells the planner
    * which plan it wants instead of a hardcoded default guessing. The
    * probe reads its own un-persisted shingling scan; each regime then
    * shingles the corpus the way its own plan needs.
    *
    * The dense→LSH dispatch trades exact recall for scalability, and
    * a dispatcher must never make that trade SILENTLY: on a dense
    * corpus whose true pairs sit near τ (where banding's recall curve
    * is weak — J=0.5 → 28%, 0.6 → 52% at (6, 21)) a caller reading
    * "adaptive" as "exact, just faster" would lose pairs with no
    * signal. So the LSH arm logs a warning naming the regime, the
    * recall curve and the exact alternatives: a caller who needs the
    * exact contract calls [[ngramJaccard]] (quadratic on dense
    * corpora, but that cost is then the caller's informed choice).
    * Downstream dedup DECISIONS ([[canonicalize]],
    * [[softDedupWeights]], `dd_cluster_cc`) built on this operator
    * inherit the contract picked here.
    */
  def ngramJaccardAdaptive(documents: DataFrame): DataFrame = {
    // the probe aggregates the (sampled) shingling scan directly — no
    // persist: the LSH regime no longer reads the exploded table at
    // all (round 13 — the whole verified path runs off per-row
    // expressions), so pre-filling a corpus-sized cache for it was
    // pure waste there; the count-join regime persists its own table
    // one line below (one extra shingling scan on that arm, bought
    // back by not writing the cache on the arm that never reads it).
    // Same sampled statistics either way — the probe's filter and
    // aggregate are deterministic in h.
    jaccardStrategy(documents) match {
      case "prefix" =>
        ngramJaccardPrefix(documents)
      case "lsh" =>
        log.warn("ngramJaccardAdaptive: dense-vocabulary corpus — dispatching to " +
          "banded-MinHash candidates with EXACT verification (jaccardLshVerified). " +
          "Candidate recall follows 1-(1-J^6)^21 (J=0.5 -> 28%, 0.6 -> 52%, " +
          "0.7 -> 93%, 0.8 -> 99.8%): pairs sitting near a low threshold can be " +
          "missed. Call ngramJaccard or ngramJaccardPrefix for the exact contract " +
          "and its quadratic dense-corpus cost.")
        jaccardLshVerified(documents)
      case _ => ngramJaccard(documents)
    }
  }

  /** Exactly-verified Jaccard pairs over MinHash-LSH candidates — the
    * DENSE-corpus / 100 TB regime of the Jaccard family. On a corpus
    * whose shingle vocabulary is small relative to its size (average
    * document frequency grows with the corpus), EVERY deterministic
    * shingle-sharing candidate generator — count-join, PPJoin prefix,
    * positional filters — shuffles Ω(Σ df²) candidate increments:
    * quadratic in corpus size at fixed vocabulary. Measured on the
    * true generated corpus: the exact paths went 9–12× wall for 10×
    * data while this path holds ~3× (see SCALING.md round-7).
    *
    * Candidates come from banded MinHash buckets ([[VerifiedBands]] ×
    * [[VerifiedRows]] over the 128-value signature, deterministic
    * seeded permutations);
    * every candidate is verified with an EXACT sorted-merge
    * intersection count over the shingle fingerprints, so no false
    * positive survives and reported (inter, s1, s2) are exact — the
    * output schema and threshold arithmetic are [[ngramJaccard]]'s.
    * What is probabilistic is candidate RECALL: a pair at Jaccard J
    * is bucketed with probability 1 − (1 − J^rows)^bands; at
    * (6, 21): J=0.6 → 52%, 0.7 → 93%, 0.8 → 99.8%,
    * 0.9 → 99.99998%. The regime is therefore right for the bimodal
    * similarity structure dedup corpora actually have (this corpus:
    * true pairs ≥ 0.89, random pairs ≤ 0.15, nothing between —
    * DedupSpec pins result equality with the exact operator on the
    * driver corpus) and wrong for a contract that must catch pairs
    * sitting AT a low threshold — use the exact paths there and pay
    * their density cost knowingly. Collision noise is bounded the
    * other way: a random pair at J≈0.1 hits a bucket with
    * p ≈ bands·J^rows ≈ 2·10⁻⁵, so spurious candidates stay a tiny
    * multiple of corpus size through 100× growth.
    */
  def jaccardLshVerified(documents: DataFrame): DataFrame =
    // inter carries exactly one row per candidate pair (inner joins
    // against the full doc universe; oversized pairs re-enter via the
    // fallback union), so joining cands back would be an identity
    // join shuffling the candidate set once more for nothing
    candVerifiedOnDocs(docSignatures(documents),
      sigs => (bandedCandidatesOnDocs(sigs), anyOversized(sigs)))(jaccardVerify)

  /** The generator-agnostic body of the verified paths: holds the
    * per-doc table `perDoc`, which MUST carry (doc_id, s, hs) — the
    * distinct-shingle count and the ascending-sorted fingerprint array
    * ([[docSignatures]]). `candGen` builds the candidate pairs from
    * that held table and says whether any document may exceed
    * [[MaxMergeArrayLen]] (the banded generator asks [[anyOversized]],
    * the stratified one reads its corpus probe's max(s)). Verification
    * arrays and sizes come from ONE (doc_id, hs, s) projection of the
    * cache per pair side, so `verify` gets (doc1, doc2, inter, s1, s2)
    * with no further join — zero corpus-sized exchanges outside the
    * candidate join itself. The candidate frame is not held: every
    * branch of [[pairIntersectionsOnArrays]] reads it once.
    */
  private def candVerifiedOnDocs(perDoc: DataFrame,
      candGen: DataFrame => (DataFrame, Boolean))(
      verify: DataFrame => DataFrame): DataFrame =
    Caching.materialized { held =>
      val sigs = held(perDoc)
      val (cands, mayBig) = candGen(sigs)
      verify(pairIntersectionsOnArrays(held, cands,
        sigs.select(col("doc_id"), col("hs"), col("s")), mayHaveOversized = mayBig))
    }

  /** Whether any document's distinct-shingle count `s` exceeds
    * [[MaxMergeArrayLen]] — the oversize probe of the banded generator
    * and [[minhashEstEval]], which have no corpus probe of their own to
    * read it from (the stratified generator takes it from
    * [[corpusProbe]]). ONE aggregate job, not filter(...).isEmpty: an
    * (almost always) empty-result limit probe runs CollectLimit's
    * incremental partition batches, and with AQE inside a
    * not-yet-materialized cache each batch re-ran the upstream work
    * (measured +47 s at sf1 on the prefix generator's window).
    */
  private def anyOversized(perDoc: DataFrame): Boolean = {
    val mx = perDoc.agg(max(col("s"))).head()
    !mx.isNullAt(0) && mx.getLong(0) > MaxMergeArrayLen
  }

  /** The per-doc table of the verified paths, (doc_id, mh, hs, s),
    * built by the SHUFFLE-FREE per-row expressions straight off the
    * document scan (round 13): signature
    * ([[graft.expressions.MinhashTextSignature]], spec-pinned
    * bit-identical to the declarative reference
    * [[minhashSignaturesDeclarative]]), the sorted fingerprint array
    * ([[graft.expressions.ShingleFingerprints]] emits ascending
    * distinct fps — exactly sort_array(collect_list(h)) of the
    * exploded table) and the distinct-shingle count. The previous
    * shape ran a corpus-sized doc_id exchange for the signature
    * aggregate and TWO more for the sizes and verification-array
    * aggregates downstream; one columnar cache (readers prune
    * columns) now serves band bucketing (mh), the verification side of
    * each pair (hs, s) and the oversize decision (s).
    * This is [[minhashSignatures]]' round-11 per-row move extended to
    * the whole verified family — at 100 TB the three removed
    * exchanges were the corpus-sized terms (measured cost-neutral at
    * sf0.1 on the stratified path: 0.37 s aggregate vs 0.375 s
    * per-row). Short docs (< 3 words) yield NULL signatures and are
    * filtered, reproducing the reference's row set exactly.
    */
  private def docSignatures(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftinternal.ColumnBridge.{column, expression}
    docs.select(col("doc_id"),
        column(graft.expressions.MinhashTextSignature(
          expression(col("text")))).as("mh"),
        column(graft.expressions.ShingleFingerprints(
          expression(col("text")))).as("hs"))
      .filter(col("mh").isNotNull)
      .withColumn("s", size(col("hs")).cast("long"))
  }

  /** Banded-MinHash candidate pairs over the per-doc table `sigs`
    * ([[docSignatures]]) — the candidate generator of the dense-regime
    * Jaccard path.
    */
  private def bandedCandidatesOnDocs(sigs: DataFrame): DataFrame = {
    val bucketed = {
      import org.apache.spark.sql.graftinternal.ColumnBridge.{column, expression}
      sigs.select(col("doc_id"), posexplode(column(
        graft.expressions.BandHashes(expression(col("mh")), VerifiedRows, VerifiedBands))))
        .toDF("doc_id", "band_idx", "band_hash")
    }
    bucketed.select(col("doc_id").as("doc1"), col("band_idx"), col("band_hash"))
      .join(bucketed.select(col("doc_id").as("doc2"), col("band_idx"), col("band_hash")),
        Seq("band_idx", "band_hash"))
      .filter(col("doc1") < col("doc2"))
      .select(col("doc1"), col("doc2"))
      .distinct()
  }

  /** Near-superset detection: pairs where one document's shingle set
    * is (nearly) contained in the other's — C(A,B) = |A∩B| /
    * min(|A|,|B|) ≥ τ. Catches quote-inclusion and boilerplate-wrap
    * duplicates that symmetric Jaccard is blind to: a 10-shingle doc
    * embedded verbatim in a 200-shingle doc has J ≈ 0.05 (invisible
    * at τ_J = 0.5) but C = 1.0. Both scores come back so the caller
    * sees exactly which pairs only the asymmetric measure finds.
    *
    * Same count-join body as [[ngramJaccard]] (one persisted fused
    * shingling pass, 8-byte fingerprint join keys, quadratic only
    * within shared-shingle buckets) and the same at-scale position:
    * verification over LSH candidates, not a corpus self-join — with
    * the caveat that MinHash banding under-recalls high-containment /
    * low-Jaccard pairs, so a 100 TB containment run buckets on the
    * SMALLER doc's shingle sample (suffix-prefix filtering) rather
    * than symmetric bands. The exact pair contract here is what that
    * candidate generator gets verified against.
    */
  def containmentPairs(documents: DataFrame): DataFrame = Caching.materialized { held =>
    val tri = held(shingleFps(documents))
    val sizes = tri.groupBy(col("doc_id")).agg(count(lit(1)).as("s"))
    containmentVerify(joinSizes(shingleCountJoin(tri), sizes))
  }

  /** Attaches both sides' sizes `sizes` (doc_id, s) to (doc1, doc2,
    * inter) pair counts as s1, s2 — the verifiers' input for the
    * count-join callers, whose pairs come without the per-doc sizes
    * that [[pairIntersectionsOnArrays]] carries along.
    */
  private def joinSizes(pairs: DataFrame, sizes: DataFrame): DataFrame =
    pairs
      .join(sizes.select(col("doc_id").as("doc1"), col("s").as("s1")), Seq("doc1"))
      .join(sizes.select(col("doc_id").as("doc2"), col("s").as("s2")), Seq("doc2"))

  /** The exact Jaccard verifier the count-join and the banded-LSH
    * paths feed: takes (doc1, doc2, inter, s1, s2) pairs, applies the
    * integer-arithmetic threshold and emits the
    * (doc1, doc2, inter, s1, s2) contract.
    */
  private def jaccardVerify(pairs: DataFrame): DataFrame =
    pairs
      .filter(col("inter") * TauDenom >= (col("s1") + col("s2") - col("inter")) * JaccardTauNum)
      .select(col("doc1"), col("doc2"), col("inter"), col("s1"), col("s2"))
      .orderBy(col("doc1"), col("doc2"))

  /** The exact containment verifier every candidate generator feeds:
    * takes (doc1, doc2, inter, s1, s2) pairs, applies the
    * integer-arithmetic threshold and emits the scored-pair contract.
    */
  private def containmentVerify(pairs: DataFrame): DataFrame =
    pairs
      // integer threshold arithmetic — no float compare in the cut
      .filter(col("inter") * TauDenom >= least(col("s1"), col("s2")) * ContainmentTauNum)
      .select(col("doc1"), col("doc2"), col("inter"), col("s1"), col("s2"),
        round(col("inter").cast("double") / least(col("s1"), col("s2")).cast("double"), 6)
          .as("containment"),
        round(col("inter").cast("double")
          / (col("s1") + col("s2") - col("inter")).cast("double"), 6).as("jaccard"))
      .orderBy(col("doc1"), col("doc2"))

  /** The containment candidate generator that holds at 100 TB — the
    * one [[containmentPairs]]'s docstring promises: prefix filtering
    * keyed on the SMALLER document's rarest shingles (PPJoin-style,
    * cf. Xiao et al., "Efficient Similarity Joins for Near Duplicate
    * Detection", WWW'08), instead of symmetric MinHash bands — which
    * under-recall exactly the high-containment / low-Jaccard pairs
    * this operator exists for (a 10-shingle quote inside a
    * 200-shingle page shares almost no symmetric band).
    *
    * Why it is lossless for C(A,B) = |A∩B| / min(|A|,|B|) ≥ τ: with
    * |A| ≤ |B| the pair needs overlap t = ⌈τ·|A|⌉; any
    * (|A| − t + 1)-subset of A must then intersect A∩B (pigeonhole).
    * So each doc — betting it is the smaller side — emits only its
    * |A| − ⌈τ·|A|⌉ + 1 rarest shingles (global document-frequency
    * order, ties by fingerprint) as probes; the full shingle table is
    * the inverted index. A probe hit with a no-smaller partner is a
    * candidate; the exact verifier re-counts the full intersection,
    * so output rows equal [[containmentPairs]] exactly — same SQL
    * oracle, different (scalable) candidate plan.
    *
    * Scale shape: probes are the (1−τ) rarest fraction of each doc's
    * shingles — at τ = 0.8, 5× fewer probe rows than the symmetric
    * count-join's left side, and document-frequency ordering makes
    * probe buckets the *rare*-shingle ones (the count-join's worst
    * buckets are the common-shingle ones). Everything shuffles on
    * shingle fingerprints or doc ids; nothing is broadcast or
    * collected, and the candidate set — not n² — pays the exact
    * verification.
    *
    * ⚠ Despite the name, this is NOT the at-scale entry point for
    * dense corpora: "Lsh" here means the candidate-pruning *shape*
    * (probe-vs-index), and the generator is deliberately LOSSLESS —
    * which makes it Θ(Σ df²) when the vocabulary is dense (no rare
    * shingles to rank by; measured 19.6× wall for 10× data at
    * generated sf1, the worst row in the suite). Reach for
    * [[containmentAuto]] as the at-scale entry point: it measures the
    * corpus and only pays this generator's density cost where rare
    * shingles exist, dispatching dense corpora to banded candidates
    * with exact verification. Use this operator directly when the
    * lossless contract is the point (verification baselines,
    * asymmetric-duplication corpora where banding's Jaccard-shaped
    * recall is unacceptable).
    */
  def containmentPairsLsh(documents: DataFrame): DataFrame = Caching.materialized { held =>
    val tri = shingleFps(documents)
    // document frequency attached by a WINDOW over the shingle key —
    // not groupBy(h) + self-join: the window makes tri single-consumer
    // (the shingling pass runs once with no persist) and costs ONE
    // corpus exchange where the agg+join shape costs two (or, with tri
    // persisted, a cache write + two cached shuffles — measured slower
    // both ways at sf0.1). The per-partition sort the window needs is
    // exactly the h-clustering the join would have done anyway.
    val triDf = tri.withColumn("df",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy(col("h"))))
    // ONE per-doc pass carries everything every later stage needs:
    // shingles in rarest-first (df, h) order, doc size, prefix length
    // (s − ⌈τ·s⌉ + 1, all-integer: div floors, +denom−1 makes a ceil).
    // This replaces the round-5 shape's per-doc row_number window AND
    // its separate sizes aggregate — the ranking folds into the same
    // doc_id-keyed aggregation the verification arrays come from, so
    // the exchange count drops and the ranking is computed once.
    val docSets = held(triDf
      .groupBy(col("doc_id"))
      .agg(expr("transform(sort_array(collect_list(struct(df, h))), x -> x.h)").as("harr"),
        count(lit(1)).as("s"))
      .withColumn("prefix_len",
        (col("s") - expr(s"(s * $ContainmentTauNum + ${TauDenom - 1}) div $TauDenom") + 1)
          .cast("int")))
    // probes: each doc bets it is the smaller side and emits only its
    // prefix_len rarest shingles; index: the full shingle table,
    // re-exploded narrowly from the same persisted doc sets (no second
    // corpus aggregation), carrying the size so the orientation cut
    // applies before the distinct
    val probes = docSets.select(col("doc_id").as("pd"), col("s").as("ps"),
      explode(slice(col("harr"), lit(1), col("prefix_len"))).as("h"))
    val index = docSets.select(col("doc_id").as("ix"), col("s").as("is"),
      explode(col("harr")).as("h"))
    // the recall guarantee holds only when the probe side is the
    // smaller doc (a qualifying pair is ALWAYS found from its smaller
    // side, so larger-side-only discoveries can be dropped without
    // recall loss); equal sizes keep both orientations, collapsed by
    // the least/greatest + distinct below.
    // Exchange audit (PLANS.md): THREE corpus-sized exchanges total —
    // tri on h (the df window), the windowed rows on doc_id (the
    // doc-sets aggregation), and the index side of the probe join on
    // h. Probe side, distinct pair set and the verification joins are
    // prefix- or candidate-sized.
    val cands = probes
      .join(index, Seq("h"))
      .filter(col("pd") =!= col("ix") && col("ps") <= col("is"))
      .select(least(col("pd"), col("ix")).as("doc1"),
        greatest(col("pd"), col("ix")).as("doc2"))
      .distinct()
    // verification arrays: ascending-h sort of the SAME per-doc arrays
    // (array_sort re-orders the rarest-first ranking in memory — no
    // extra corpus shuffle for the sorted-merge verifier's input),
    // with the sizes riding along on the same pair-side joins
    val docArr = docSets.select(col("doc_id"), array_sort(col("harr")).as("hs"), col("s"))
    // NO oversize pre-probe here, deliberately (round 13): any
    // construction-time materialization of docSets — limit probe OR a
    // one-job max() — measured ~2–6× on this operator at sf1 (9.9 s
    // un-probed vs 19–57 s probed, flat controls): the array-heavy
    // window+agg cache behind docSets fills far cheaper fused into
    // the single adaptive execution of the candidate chain than as a
    // standalone first job. The guard apparatus (cap + persist +
    // isNull probe) stays — its cost measured nil here (9.9 s with vs
    // 10.5 s without), unlike the per-row-cache paths where the
    // probed fast path ships (candVerifiedOnDocs).
    containmentVerify(pairIntersectionsOnArrays(held, cands, docArr, mayHaveOversized = true))
  }

  /** DEFAULT per-doc candidate budget for the stratified generator
    * (callers override via [[containmentStratified]]'s
    * `candBudgetPerDoc` — the knob that buys dropped gap arms back at
    * density: the measured curve in SCALING.md, round 12 "The
    * stratified budget knob, priced", prices recall against
    * verification cost per budget step): the
    * budget bounds expected BACKGROUND collisions (random-pair band
    * matches) to a linear-in-corpus total. An arm whose background
    * cost cannot be pushed under this budget at any geometry is
    * dropped (and logged) rather than silently emitting a quadratic
    * candidate set. Kept TIGHT (4/doc) because every background
    * candidate is not a 16-byte row but a full exact verification —
    * two ~400-byte shingle arrays hauled through the intersection
    * joins; a 64/doc budget at 5 M docs admitted ~2.5·10⁸ expected
    * background pairs whose verification join wrote >45 GB of
    * shuffle before the round-10 smoke was stopped. At 4/doc the
    * guard lands the sf100 gap-0 arm on (r=3, b=42): worst-case
    * recall at J*(0) degrades to 87% (logged) but this corpus's true
    * pairs sit at J ≥ 0.89 where (3, 42) recall is ≈ 1 − 10⁻²².
    */
  private[graft] val StratifiedCandBudgetPerDoc = 4L

  /** One size-gap arm of the stratified containment generator:
    * covers pairs whose size classes are `g` apart, with `b` bands of
    * `r` MinHash rows each. `jStar` is the worst-case Jaccard a
    * τ-containment pair at this gap can have; `recall` the
    * provisioned candidate recall at exactly that worst case
    * (1 − (1 − jStar^r)^b) — pairs above the worst case recall
    * better.
    */
  private[graft] final case class StratArm(g: Int, r: Int, b: Int,
      jStar: Double, recall: Double)

  /** Geometry of the stratified arms, pure driver-side arithmetic —
    * split out so the spec can pin the selection rules without
    * running a corpus.
    *
    *  - `jStar(g) = τ / (1 + 2^(g+1) − τ)`: with |A| ≥ 2^i and
    *    |B| < 2^(j+1), C(A,B) ≥ τ forces
    *    J = |A∩B| / (|A|+|B|−|A∩B|) ≥ τ·|A| / (|A| + |B| − τ·|A|)
    *    ≥ τ / (1 + 2^(g+1) − τ) — the containment threshold becomes
    *    a PER-GAP Jaccard threshold, which symmetric banding can
    *    target (the LSH-Ensemble construction: Zhu, Nargesian,
    *    Pu & Miller, "LSH Ensemble: Internet-Scale Domain Search",
    *    VLDB 2016 — there over an indexed corpus of domains, here as
    *    a self-join with one arm per size-class gap).
    *  - recall-first pick: the LARGEST r (≤ 6) whose 95%-recall band
    *    count ⌈ln 20 / jStar^r⌉ fits both the band budget and the
    *    128-value signature (r·b ≤ 128) — max background suppression
    *    subject to full recall at the arm's worst case.
    *  - background guard: expected background candidates
    *    pairsAtGap·b·jBg^r must fit the corpus budget; if not, r
    *    rises (b capped, recall at jStar degrades — returned, so the
    *    caller logs it); if even r = 6 cannot fit, the arm is
    *    dropped (None) — on a corpus whose background similarity
    *    approaches jStar(g), τ-containment pairs at that gap are
    *    statistically indistinguishable from noise at the signature
    *    level, and no sub-quadratic generator can provision them.
    *  - recall floor: an arm the guard degrades below
    *    [[MinArmRecall]] at its own worst case is ALSO dropped — it
    *    would pay its full emission (b bands × both roles × every
    *    doc in its classes) to catch a single-digit percentage of
    *    its pairs. The drop is the same honest statement as the
    *    budget drop, and it keeps emission self-limiting on dense
    *    corpora: at generated sf100 only the gap-0 arm survives
    *    (42 rows/doc), where keeping every degraded arm emitted
    *    ~680 rows/doc and wrote tens of GB of bucket-join shuffle
    *    for arms that could not deliver (measured, round 10).
    */
  private[graft] def stratifiedArms(tau: Double, maxGap: Int, bandBudget: Int,
      jBg: Double, pairsAtGap: Int => Double,
      candBudget: Double): Seq[Either[Int, StratArm]] =
    (0 to maxGap).map { g =>
      val jStar = tau / (1 + math.pow(2.0, g + 1) - tau)
      def bFor(r: Int): Double = math.ceil(3.0 / math.pow(jStar, r))
      def cap(r: Int): Int = math.min(bandBudget, 128 / r)
      def bg(r: Int, b: Int): Double = pairsAtGap(g) * b * math.pow(jBg, r)
      var r = (1 to 6).filter(r => bFor(r) <= cap(r)).lastOption.getOrElse(1)
      var b = math.min(bFor(r), cap(r).toDouble).toInt
      while (bg(r, b) > candBudget && r < 6) {
        r += 1; b = math.min(bFor(r), cap(r).toDouble).toInt
      }
      val recall = 1 - math.pow(1 - math.pow(jStar, r), b)
      if (bg(r, b) > candBudget || recall < MinArmRecall) Left(g)
      else Right(StratArm(g, r, b, jStar, recall))
    }

  /** Worst-case provisioned recall below which a stratified arm is
    * dropped instead of emitted — see [[stratifiedArms]]. At 0.5: an
    * arm that cannot catch at least HALF its worst-case pairs does
    * not justify corpus-wide band emission (at generated sf100 the
    * gap-1 arm lands at 48% after the background guard and would add
    * ~24 GB of bucket-join shuffle — measured, round 10); corpora
    * needing better asymmetric coverage take the lossless prefix
    * generator knowingly.
    */
  private[graft] val MinArmRecall = 0.5

  /** The stratified generator's corpus statistics: the size-class
    * histogram `hist` (≤ 64 classes), the shingle occurrence count
    * `occ` = Σ s, the approximate vocabulary `vocab` (clamped to ≥ 1),
    * the largest document's shingle count `maxS` and what the arm
    * geometry derives from them.
    */
  private[graft] final case class CorpusProbe(hist: Map[Int, Long],
      nDocs: Long, sBar: Double, occ: Long, vocab: Long, jBg: Double, maxS: Long) {
    /** Cross-class document-pair count at size-class gap `g`. */
    def pairsAtGap(g: Int): Double =
      if (g == 0) hist.values.map(n => n.toDouble * (n - 1) / 2).sum
      else hist.map { case (c, n) =>
        n.toDouble * hist.getOrElse(c + g, 0L).toDouble }.sum
  }

  /** The [[CorpusProbe]] both probe reads build from their measured
    * statistics.
    */
  private def corpusProbeOf(hist: Map[Int, Long], occ: Long, approxVocab: Long,
      maxS: Long): CorpusProbe = {
    val vocab = math.max(approxVocab, 1L)
    val nDocs = hist.values.sum
    val sBar = if (nDocs == 0) 0.0 else occ.toDouble / nDocs
    // E|A∩B| of a random pair ≈ s̄²/V; jBg = E∩ / (2s̄ − E∩)
    val eInter = math.min(sBar * sBar / vocab, sBar)
    val jBg = math.max(1e-12,
      math.min(0.999, eInter / math.max(2 * sBar - eInter, 1e-9)))
    CorpusProbe(hist, nDocs, sBar, occ, vocab, jBg, maxS)
  }

  /** Probes the held per-doc table (doc_id, hs, s, cls) of
    * [[stratifiedPerDoc]] with ONE grouped query: `rollup(cls)` over
    * the exploded fingerprint arrays gives each class's document count
    * (its rows at position 0) and, in the grand-total row, Σ s, max(s)
    * and approx_count_distinct(h). The table holds exactly the shingle
    * set a re-shingling scan of the raw text sees (a doc below three
    * words has an empty `hs` and a NULL signature, so it is filtered
    * out having contributed nothing), and HLL++ depends only on that
    * set, so the result equals [[corpusProbeOnFps]] on the same corpus
    * bit for bit (spec-pinned). Empty input may yield no grand-total
    * row at all; that reads as an empty corpus.
    */
  private[graft] def corpusProbe(perDoc: DataFrame): CorpusProbe = {
    val (total, perClass) = perDoc
      .select(col("cls"), col("s"), posexplode(col("hs")).as(Seq("pos", "h")))
      .rollup(col("cls"))
      .agg(grouping(col("cls")), count(when(col("pos") === 0, 1)),
        count(lit(1)), max(col("s")), approx_count_distinct(col("h")))
      .collect().partition(_.getByte(1) == 1)
    val hist = perClass.map(r => r.getInt(0) -> r.getLong(2)).toMap
    total.headOption match {
      case Some(t) => corpusProbeOf(hist, t.getLong(3), t.getLong(5), t.getLong(4))
      case None => corpusProbeOf(hist, 0L, 0L, 0L)
    }
  }

  /** The reference for [[corpusProbe]] from a raw fingerprint table
    * (doc_id, h): two separate reads — the per-class histogram over
    * the per-doc sizes, and one (count, approx vocab) aggregate over
    * the fingerprints.
    */
  private[graft] def corpusProbeOnFps(tri: DataFrame): CorpusProbe = {
    val perClass = tri.groupBy(col("doc_id")).agg(count(lit(1)).as("s"))
      .groupBy(floor(log2(col("s"))).cast("int"))
      .agg(count(lit(1)), max(col("s"))).collect()
    val r = tri.agg(count(lit(1)), approx_count_distinct(col("h"))).head()
    corpusProbeOf(perClass.map(c => c.getInt(0) -> c.getLong(1)).toMap,
      r.getLong(0), r.getLong(1), perClass.map(_.getLong(2)).maxOption.getOrElse(0L))
  }

  /** Size-stratified banded candidates for CONTAINMENT — the dense-
    * regime generator whose recall is containment-shaped, not
    * Jaccard-shaped, over the held per-doc table `sigs`
    * ([[stratifiedPerDoc]]; the [[candVerifiedOnDocs]] protocol).
    *
    * The fixed symmetric banding ((6, 21) at τ_J ≈ 0.8) provably
    * misses the embedded-document pairs containment exists for: a
    * small doc inside one 2^3× larger has J ≤ 1/8, and
    * 1 − (1 − J^6)^21 ≈ 4·10⁻⁵ there. Stratifying by size class
    * c = ⌊log₂ s⌋ fixes the normalization: per class gap g, an arm
    * bands the SAME 128-value MinHash signatures with its own
    * (r, b) chosen for the gap-adjusted worst-case Jaccard (see
    * [[stratifiedArms]]). Each doc emits every arm's bands twice —
    * once betting it is the smaller side of a gap-g pair, once the
    * larger — and candidates are bucket collisions of a small-role
    * row with a large-role row on (classᵢ, classⱼ, band, hash).
    *
    * Scale shape: emission is O(n · Σ b_g) rows of fixed width —
    * linear, ONE multi-arm emitter expression per role over the
    * persisted per-doc signature cache (round 14; previously a
    * 2·(G+1)-branch union re-scanning that cache once per (arm,
    * role)); the bucket join keys on (class pair, band, hash), so
    * collisions beyond true pairs are governed by the measured
    * background similarity, which the arm selection bounds to
    * [[StratifiedCandBudgetPerDoc]]·n expected rows. ONE bounded
    * driver-side probe query at construction ([[corpusProbe]]: the
    * class histogram — ≤ 64 rows — plus Σ s, max(s) and the approx
    * vocabulary) parameterizes the geometry and decides whether the
    * oversize guard of [[pairIntersectionsOnArrays]] is needed (the
    * returned flag); it reads the caller-persisted table and is that
    * cache's first materialization, same precedent as
    * [[jaccardStrategy]].
    *
    * Honest limits, logged at construction: pairs more than
    * [[StratMaxGap]] classes apart are not provisioned (the lossless
    * [[containmentPairsLsh]] remains the exact path), and an arm the
    * background guard drops or degrades says so with its provisioned
    * recall.
    */
  private def stratifiedCandidatesOnDocs(sigs: DataFrame,
      candBudgetPerDoc: Long): (DataFrame, Boolean) = {
    import org.apache.spark.sql.graftinternal.ColumnBridge.{column, expression}
    require(candBudgetPerDoc >= 1,
      s"candBudgetPerDoc must be >= 1, got $candBudgetPerDoc")
    val probe = corpusProbe(sigs)
    import probe.{hist, jBg, nDocs, pairsAtGap}
    val tau = ContainmentTauNum.toDouble / TauDenom
    val picked = stratifiedArms(tau, StratMaxGap, StratBandBudget, jBg, pairsAtGap,
      candBudgetPerDoc.toDouble * math.max(nDocs, 1L))
    val dropped = picked.collect { case Left(g) => g }
      .filter(g => pairsAtGap(g) > 0) // a gap with no class pair is a non-event
    // likewise skip kept arms whose gap has NO occupied class pair:
    // they would emit nothing (the eligibility filter below) but
    // still log confusing geometry warnings
    val arms = picked.collect { case Right(a) => a }
      .filter(a => pairsAtGap(a.g) > 0)
    if (dropped.nonEmpty)
      log.warn(s"containmentStratified: background similarity ≈ $jBg makes " +
        s"τ-containment pairs at size-class gaps {${dropped.mkString(",")}} " +
        "indistinguishable from noise within the candidate budget — those " +
        "arms are DROPPED. containmentPairsLsh remains the lossless path.")
    arms.filter(_.recall < 0.9).foreach(a =>
      log.warn(f"containmentStratified: gap-${a.g} arm degraded to " +
        f"(r=${a.r}, b=${a.b}) by the background guard — provisioned " +
        f"worst-case candidate recall ${a.recall}%.3f at J* = ${a.jStar}%.4f."))
    log.info(arms.map(a =>
      f"g=${a.g}:(r=${a.r},b=${a.b},recall=${a.recall}%.3f)")
      .mkString("containmentStratified arms: ", " ", ""))
    val occupied = hist.keySet
    // single-scan multi-arm band emitter (round 14): ONE expression
    // emits every kept arm's (ci, cj, band_idx, band_hash) keys for
    // a role — the previous shape unioned one
    // filter+posexplode(BandHashes) branch per (arm, role), i.e. up
    // to 2·(G+1) re-scans of the signature cache; the partner-class
    // eligibility filters (a gap-g small-role row from class c joins
    // nothing unless class c+g is occupied — zero-partner roles
    // emitted tens of GB for empty joins before that filter,
    // measured round 10) fold into the expression's occupied-mask
    // test, and the emitted rows are bit-identical per arm
    // (StratBandEmit delegates to BandHashes.compute, spec-pinned
    // against the union reference)
    val occupiedMask = occupied.filter(c => c >= 0 && c < 64)
      .foldLeft(0L)((m, c) => m | (1L << c))
    val armSpec = arms.map(a => (a.g, a.r, a.b))
    def roleSide(asSmall: Boolean): DataFrame =
      sigs.select(col("doc_id"),
          explode(column(graft.expressions.StratBandEmit(
            expression(col("mh")), expression(col("cls")),
            armSpec, occupiedMask, asSmall))).as("e"))
        .select(col("doc_id"), col("e.ci").as("ci"), col("e.cj").as("cj"),
          col("e.band_idx").as("band_idx"), col("e.band_hash").as("band_hash"))
    val cands = if (arms.isEmpty) {
      // every arm dropped (a corpus whose background similarity
      // swamps even gap 0): no sub-quadratic candidates exist —
      // surface an empty candidate set, never a silent n² join. An
      // empty or all-short corpus lands here too with nothing
      // dropped: it has no class pair at all, so nothing to warn of
      if (dropped.nonEmpty)
        log.warn("containmentStratified: ALL arms dropped — emitting no " +
          "candidates. Use containmentPairsLsh (lossless) or raise the budget.")
      sigs.select(col("doc_id").as("doc1"), col("doc_id").as("doc2"))
        .filter(lit(false))
    } else {
      // gap-0 rows join small-role against small-role (both
      // orientations collapse below); gap>0 arms join small vs large
      roleSide(asSmall = true).toDF("doc_a", "ci", "cj", "band_idx", "band_hash")
        .join(roleSide(asSmall = false)
            .toDF("doc_b", "ci", "cj", "band_idx", "band_hash"),
          Seq("ci", "cj", "band_idx", "band_hash"))
        .filter(col("doc_a") =!= col("doc_b"))
        .select(least(col("doc_a"), col("doc_b")).as("doc1"),
          greatest(col("doc_a"), col("doc_b")).as("doc2"))
        .distinct()
    }
    (cands, probe.maxS > MaxMergeArrayLen)
  }

  /** Containment pairs over the size-stratified banded generator —
    * the dense-corpus regime with containment-shaped recall. Exact
    * verification and scoring are shared ([[containmentVerify]]), so
    * rows that surface are always exact; what the stratification
    * changes is WHICH pairs become candidates: recall now depends on
    * the pair's size-class gap and the gap-adjusted threshold, not
    * on its raw Jaccard — the embedded-document pairs the symmetric
    * (6, 21) banding provably misses (spec-pinned) are provisioned
    * at ≥ 95% per arm unless the corpus's measured background
    * similarity forces a logged degradation.
    */
  def containmentStratified(documents: DataFrame,
      candBudgetPerDoc: Long = StratifiedCandBudgetPerDoc): DataFrame =
    candVerifiedOnDocs(stratifiedPerDoc(documents),
      stratifiedCandidatesOnDocs(_, candBudgetPerDoc))(containmentVerify)

  /** [[docSignatures]] plus each document's size class
    * `cls` = ⌊log₂ s⌋ — the per-doc table [[containmentStratified]]
    * holds and [[corpusProbe]] reads.
    */
  private[graft] def stratifiedPerDoc(documents: DataFrame): DataFrame =
    docSignatures(documents).withColumn("cls", floor(log2(col("s"))).cast("int"))

  /** Adaptive containment: the [[jaccardStrategy]] probe dispatches —
    * dense vocabulary (count-join candidate mass beyond
    * [[DenseCandsPerOccCutover]] per occurrence) →
    * [[containmentStratified]] (size-stratified banding, recall
    * containment-shaped within the provisioned gap range); anything
    * else → the lossless rarest-prefix generator
    * [[containmentPairsLsh]] (which already beats the count-join
    * everywhere the prefix has rare shingles to rank on). Same
    * contract shape as the Jaccard dispatcher: the probe is one cheap
    * keyed aggregate over a shared shingling pass.
    *
    * The dense regime's residual trade (stated, never silent): the
    * stratified generator provisions candidate recall PER size-class
    * gap against the gap-adjusted threshold — the embedded-document
    * pairs the earlier fixed symmetric banding provably missed are
    * now covered up to [[StratMaxGap]] classes (a 64× size ratio) —
    * but pairs beyond that gap, and gap arms the measured background
    * similarity forces it to drop (each drop logged with the
    * geometry), remain probabilistic holes. The warning names them
    * and the lossless alternative: a caller who needs every
    * embedded-doc pair calls [[containmentPairsLsh]] directly —
    * Θ(Σ df²) on a dense vocabulary (19.6× wall for 10× data
    * measured at sf1).
    */
  def containmentAuto(documents: DataFrame): DataFrame = {
    // persist-free probe over the (sampled) shingling scan — neither
    // downstream regime reads an exploded fingerprint table any more
    // (round 13: the stratified path runs off per-row expressions,
    // the prefix path re-shingles through its own window design), so
    // the cache the probe used to pre-fill had no second reader
    if (jaccardStrategy(documents) == "lsh") {
      log.warn("containmentAuto: dense-vocabulary corpus — dispatching to " +
        "size-stratified banded candidates with EXACT verification " +
        "(containmentStratified). Per size-class-gap arms band for the " +
        "gap-adjusted Jaccard threshold, so candidate recall is " +
        s"containment-shaped within the provisioned gap range (≤ $StratMaxGap " +
        "classes, ≤ 64× size ratio); pairs beyond it, or at gaps the " +
        "background guard drops (logged), can be missed — on corpus-scale " +
        "density only the gap-0 arm survives, i.e. embedded documents in " +
        "≥2× larger hosts are NOT provisioned (SURVEY §2.3, 'Dense-" +
        "containment posture'). Call containmentPairsLsh for the lossless " +
        "rarest-prefix generator and its quadratic dense-corpus cost.")
      containmentStratified(documents)
    } else containmentPairsLsh(documents)
  }

  /** Shingle count of each doc's fingerprint ARRAY above which a pair
    * takes the explode-count fallback instead of hauling the array
    * through the candidate joins: 2^16 longs ≈ 512 KB per row. Web
    * documents sit orders of magnitude below this; the cap exists so
    * ONE book-length outlier (millions of shingles) cannot push
    * multi-MB rows through two joins.
    */
  private[graft] val MaxMergeArrayLen = 1 << 16

  /** Exact |A ∩ B| for each candidate pair `cands` (doc1, doc2) over
    * pre-built per-doc sorted arrays `docArr` (doc_id, hs, s), emitted
    * as (doc1, doc2, inter, s1, s2): each pair side is ONE lookup that
    * brings the array and the size together — shared by the
    * verified paths ([[candVerifiedOnDocs]]), [[containmentPairsLsh]],
    * whose doc-set aggregation already holds the arrays (re-sorting in
    * memory beats a second corpus shuffle), and [[minhashEstEval]].
    *
    * Mega-document guard: docs above [[MaxMergeArrayLen]] ship a NULL
    * array into the candidate joins (never their multi-MB payload);
    * [[graft.expressions.SortedIntersectCount]] null-propagates, so a
    * pair touching an oversized doc surfaces as `inter IS NULL` in the
    * SAME fixed-width intermediate the normal pairs come from — ONE
    * linear join chain, no per-branch recompute of the candidate set
    * (an earlier length-table split fed the candidate generator into
    * three branches, re-running the probe join per branch — measured
    * ~2× the whole containment-LSH operator at sf0.1). The
    * intermediate persists (40-byte rows, candidate-count-sized); the
    * null pairs re-verify through the exact explode-count shape (row
    * width constant regardless of document size); and the fallback
    * branch is SKIPPED driver-side when no pair is oversized, so the
    * overwhelmingly common case pays zero extra stages — the same
    * small-side adaptivity as a broadcast threshold or clusterCc's
    * collect probe. Outputs are identical — both paths count |A ∩ B|
    * exactly (property-spec-pinned). The intermediate is held through
    * the caller's `held`.
    */
  private def pairIntersectionsOnArrays(held: Caching.Held, cands: DataFrame,
      docArr: DataFrame, mayHaveOversized: Boolean): DataFrame = {
    import org.apache.spark.sql.graftinternal.ColumnBridge.{column, expression}
    // one (doc_id, hs, s) lookup per pair side: the sizes ride along
    // with the arrays, so the verifiers join nothing further
    def intersections(arr: DataFrame): DataFrame = {
      def side(i: Int) = arr.select(col("doc_id").as(s"doc$i"), col("hs").as(s"hs$i"),
        col("s").as(s"s$i"))
      cands.select(col("doc1"), col("doc2"))
        .join(side(1), Seq("doc1"))
        .join(side(2), Seq("doc2"))
        .select(col("doc1"), col("doc2"),
          column(graft.expressions.SortedIntersectCount(
            expression(col("hs1")), expression(col("hs2")))).as("inter"),
          col("s1"), col("s2"))
    }
    // Fast path (round 13): when the caller has already proved from
    // its per-doc sizes that NO document exceeds the cap (the
    // overwhelmingly common case), the whole guard apparatus —
    // when-capping, the intermediate persist and the construction-time
    // isNull probe job that existed only to decide whether the
    // fallback branch is needed — drops out, and the verification
    // join runs exactly once, lazily, inside the final plan. Output
    // identical by construction: with no oversized doc the capped
    // array IS the array and the fallback branch was provably empty.
    if (!mayHaveOversized) return intersections(docArr)
    val inter0 = held(intersections(docArr.select(col("doc_id"),
      when(size(col("hs")) <= MaxMergeArrayLen, col("hs")).as("hs"), col("s"))))
    val merged = inter0.filter(col("inter").isNotNull)
    val oversized = inter0.filter(col("inter").isNull)
      .select(col("doc1"), col("doc2"), col("s1"), col("s2"))
    // the `oversized.isEmpty` probe runs a Spark job at operator-
    // CONSTRUCTION time (the driver-side small-side check)
    if (oversized.isEmpty) merged else {
      // fallback: explode only the docs that appear in an oversized
      // pair (semi-join bound), then the classic count-join — exact,
      // narrow
      val bigDocs = oversized.select(col("doc1").as("doc_id"))
        .union(oversized.select(col("doc2").as("doc_id"))).distinct()
      val ex = docArr.join(bigDocs, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), explode(col("hs")).as("h"))
      val exploded = oversized
        .join(ex.select(col("doc_id").as("doc1"), col("h")), Seq("doc1"))
        .join(ex.select(col("doc_id").as("doc2"), col("h")), Seq("doc2", "h"))
        .groupBy(col("doc1"), col("doc2"), col("s1"), col("s2"))
        .agg(count(lit(1)).as("inter"))
      merged.unionByName(exploded)
    }
  }

  /** Benchmark-contamination check: which training documents contain
    * an eval document's content? Asymmetric shingle containment —
    * |shingles(train) ∩ shingles(eval)| / |shingles(eval)| ≥ τ
    * ([[ContaminationTauNum]]) — the directional cousin of Jaccard (a
    * train doc that *embeds* a whole eval doc scores 1.0 regardless of
    * its own length). The eval docs are `doc_id <`
    * [[ContaminationEvalIds]], the rest is training data. Eval sets are
    * small by nature, so the eval shingle table is **broadcast**: the
    * train corpus streams through one broadcast join + one
    * (train, eval)-keyed count — no corpus self-join, no shuffle of
    * the corpus at 100 TB. Integer threshold arithmetic ⇒ exact SQL
    * oracle.
    */
  def contamination(documents: DataFrame): DataFrame = {
    // same fused 62-bit fingerprint keys as [[ngramJaccard]]: the
    // broadcast dictionary and every probe are fixed 8-byte longs
    val tri = shingleFps(documents)
    val evalTri = tri.filter(col("doc_id") < ContaminationEvalIds)
      .select(col("doc_id").as("eval_id"), col("h"))
    val evalSizes = evalTri.groupBy(col("eval_id")).agg(count(lit(1)).as("s_eval"))
    val trainTri = tri.filter(col("doc_id") >= ContaminationEvalIds)
      .select(col("doc_id").as("train_id"), col("h"))
    trainTri
      .join(broadcast(evalTri), Seq("h"))
      .groupBy(col("train_id"), col("eval_id"))
      .agg(count(lit(1)).as("inter"))
      .join(broadcast(evalSizes), Seq("eval_id"))
      .filter(col("inter") * TauDenom >= col("s_eval") * ContaminationTauNum)
      .select(col("eval_id"), col("train_id"), col("inter"), col("s_eval"))
      .orderBy(col("eval_id"), col("train_id"))
  }

  private val MinhashPrime = graft.expressions.MinhashTextSignature.Prime

  /** The 31-bit shingle/token base hash feeding MinHash: the h1
    * component of [[graft.expressions.RollingFingerprint]] (fp =
    * h1·2³² + h2 with h2 < 2³¹, so h1 is the top 30 bits shifted
    * out). One codegen'd pass per string, and — the reason it
    * replaced murmur3 — exactly reproducible in the DuckDB oracle as
    * a `list_reduce` fold over code points (SURVEY.md §5).
    */
  private[graft] def shingleHash31(c: Column): Column = {
    import org.apache.spark.sql.graftinternal.ColumnBridge.{column, expression}
    shiftright(column(graft.expressions.RollingFingerprint(expression(c))), 32)
  }

  /** Full 62-bit rolling fingerprint (both primes packed) — SimHash's
    * per-token hash. Bits 31 and 63 are structurally zero (each half
    * is < 2³¹), so those two signature bits majority-vote to 0;
    * hamming distances remain valid, and the hash is reproducible in
    * SQL, which murmur/xxhash are not.
    */
  private[graft] def tokenHash62(c: Column): Column = {
    import org.apache.spark.sql.graftinternal.ColumnBridge.{column, expression}
    column(graft.expressions.RollingFingerprint(expression(c)))
  }

  /** Per-doc 128-perm MinHash signature as ONE per-row codegen'd
    * expression ([[graft.expressions.MinhashTextSignature]]): text →
    * signature with no explode, no aggregate and NO SHUFFLE — a
    * signature is a per-document value and `min` is
    * duplicate-insensitive, so nothing about the computation needs to
    * leave the row. Bit-identical to the declarative 128-min-column
    * reference [[minhashSignaturesDeclarative]] (spec-checked); short
    * docs and NULL text yield NULL from the expression and are
    * filtered to reproduce the reference's row set. This is the
    * 100 TB shape — the signature table computes inside the parquet
    * scan stage.
    */
  def minhashSignatures(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftinternal.ColumnBridge.{column, expression}
    documents
      .select(col("doc_id"),
        column(graft.expressions.MinhashTextSignature(
          expression(col("text")))).as("mh"))
      .filter(col("mh").isNotNull)
  }

  /** The declarative 128-min-column reference for
    * [[minhashSignatures]] — bit-identical results (spec-checked); the
    * specs' parity oracle.
    */
  private[graft] def minhashSignaturesDeclarative(documents: DataFrame): DataFrame = {
    val perms = graft.expressions.MinhashTextSignature.permA
      .zip(graft.expressions.MinhashTextSignature.permB)
    val tri = shingles(documents).withColumn("h", shingleHash31(col("g")))
    val minCols = perms.zipWithIndex.map { case ((a, b), i) =>
      min(pmod(lit(a) * col("h") + lit(b), lit(MinhashPrime))).as(s"m$i")
    }
    tri.groupBy(col("doc_id"))
      .agg(minCols.head, minCols.tail: _*)
      .select(col("doc_id"),
        array((0 until 128).map(i => col(s"m$i")): _*).as("mh"))
  }

  /** MinHash + LSH near-dup candidates: [[MinhashBands]] bands ×
    * [[MinhashRows]] rows, pairs kept at an estimate of at least
    * [[MinhashMinEst]]. The only
    * shuffles are (band, band-hash) bucketing and the per-pair
    * signature lookups — candidate pairs ≪ n². Estimated Jaccard =
    * matching signature fraction.
    */
  def minhashLsh(documents: DataFrame): DataFrame = Caching.materialized { held =>
    // signatures feed three plan branches (bucketing + both pair-join
    // sides); persist = the batch analog of materializing a signature
    // table, which is what a 100 TB run would do on storage
    val sigs = held(minhashSignatures(documents))
    // band hash = the same 31-bit-prime polynomial fold the shingle
    // hash uses, over the band's signature values — SQL-replicable,
    // unlike hash(slice(...)); codegen'd ([[BandHashes]] — the
    // interpreted transform+aggregate fold twin measured material at
    // corpus scale, not noise)
    val bucketed = {
      import org.apache.spark.sql.graftinternal.ColumnBridge.{column, expression}
      sigs.select(col("doc_id"), posexplode(column(
        graft.expressions.BandHashes(expression(col("mh")), MinhashRows, MinhashBands))))
        .toDF("doc_id", "band_idx", "band_hash")
    }
    val pairs = bucketed.select(col("doc_id").as("doc1"), col("band_idx"), col("band_hash"))
      .join(bucketed.select(col("doc_id").as("doc2"), col("band_idx"), col("band_hash")),
        Seq("band_idx", "band_hash"))
      .filter(col("doc1") < col("doc2"))
      .select(col("doc1"), col("doc2"))
      .distinct()
    pairs
      .join(sigs.select(col("doc_id").as("doc1"), col("mh").as("mh1")), Seq("doc1"))
      .join(sigs.select(col("doc_id").as("doc2"), col("mh").as("mh2")), Seq("doc2"))
      .withColumn("est_jaccard", {
        // codegen'd positional match count — the interpreted
        // aggregate(zip_with(...)) fold allocates + boxes per pair
        import org.apache.spark.sql.graftinternal.ColumnBridge.{column, expression}
        column(graft.expressions.ArrayMatchCount(
          expression(col("mh1")), expression(col("mh2"))))
          .cast("double") / 128.0
      })
      .filter(col("est_jaccard") >= MinhashMinEst)
      .select(col("doc1"), col("doc2"), col("est_jaccard"))
      .orderBy(col("doc1"), col("doc2"))
  }

  /** MinHash accuracy harness: for every LSH candidate pair, the
    * signature-estimated Jaccard next to the EXACT shingle Jaccard
    * and the absolute error — the sketch-quality companion to
    * `Similarity.recallAtK`, answering "can I trust the estimate
    * enough to skip exact verification at my threshold". Exact
    * verification runs only on the candidate pairs (the at-scale
    * contract: candidates ≪ n²); intersections come from the same
    * fused shingle-fingerprint scan the exact operators use.
    */
  def minhashEstEval(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftinternal.ColumnBridge.{column, expression}
    val cands = minhashLsh(documents)
    Caching.materialized { held =>
      // per-doc sorted fingerprint arrays from the per-row expression —
      // ONE narrow columnar cache serves sizes, both verification join
      // sides and the oversize probe, where the previous shape exploded
      // a corpus-sized (doc_id, h) cache and re-aggregated it per
      // consumer (round 13; ShingleFingerprints emits ascending
      // distinct fps = sort_array(collect_list(h)) of that table by
      // construction)
      val perDoc = held(documents.select(col("doc_id"),
          column(graft.expressions.ShingleFingerprints(
            expression(col("text")))).as("hs"))
        .withColumn("s", size(col("hs")).cast("long")))
      val sizes = perDoc.select(col("doc_id"), col("s"))
      // exact intersections via the shared sorted-merge verifier — one
      // row per candidate pair, no pair×shingle explosion
      val inter = pairIntersectionsOnArrays(held, cands, perDoc,
        mayHaveOversized = anyOversized(perDoc))
      cands
        .join(inter.select(col("doc1"), col("doc2"), col("inter")), Seq("doc1", "doc2"), "left")
        .join(sizes.select(col("doc_id").as("doc1"), col("s").as("s1")), Seq("doc1"))
        .join(sizes.select(col("doc_id").as("doc2"), col("s").as("s2")), Seq("doc2"))
        .withColumn("inter", coalesce(col("inter"), lit(0L)))
        .withColumn("est_jaccard", round(col("est_jaccard"), 6))
        .withColumn("exact_jaccard", round(col("inter").cast("double")
          / (col("s1") + col("s2") - col("inter")), 6))
        .select(col("doc1"), col("doc2"), col("est_jaccard"),
          col("exact_jaccard"),
          round(abs(col("est_jaccard") - col("exact_jaccard")), 6).as("abs_err"))
        .orderBy(col("doc1"), col("doc2"))
    }
  }

  /** URL-canonicalization dedup: normalize each document's (synthetic,
    * doc_id-derived — the `piiRedact` precedent for columns the corpus
    * lacks) messy URL, then group by the canonical form. Rules: the
    * scheme and host lowercase; the scheme's own default port
    * (http:80 / https:443) drops, any other port stays; the
    * fragment drops; tracking query params (utm_*, ref=) drop,
    * non-tracking params keep their order; a trailing path slash
    * normalizes away (bare "/" root stays). Everything is one narrow
    * codegen'd map + a hash aggregate on the canonical string —
    * uniform keys, no skew, the same shape at 100 TB.
    */
  def urlDedup(documents: DataFrame): DataFrame = {
    val messy = concat(
      when(pmod(col("doc_id"), lit(2)) === 0, lit("HTTP")).otherwise(lit("https")),
      lit("://"),
      when(pmod(col("doc_id"), lit(3)) === 0, lit("WWW.Example.COM")).otherwise(lit("www.example.com")),
      when(pmod(col("doc_id"), lit(5)) === 0,
        when(pmod(col("doc_id"), lit(2)) === 0, lit(":80")).otherwise(lit(":443")))
        .otherwise(lit("")),
      lit("/docs/"), pmod(col("doc_id"), lit(50)),
      when(pmod(col("doc_id"), lit(4)) === 0, lit("/")).otherwise(lit("")),
      lit("?utm_source=feed&id="), pmod(col("doc_id"), lit(25)),
      when(pmod(col("doc_id"), lit(7)) === 0, lit("&ref=rss")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(6)) === 0, lit("#top")).otherwise(lit("")))
    val scheme = lower(regexp_extract(col("url"), "^([A-Za-z]+)://", 1))
    val host = lower(regexp_extract(col("url"), "^[A-Za-z]+://([^/:?#]+)", 1))
    val port = regexp_extract(col("url"), "^[A-Za-z]+://[^/:?#]+:([0-9]+)", 1)
    val path = regexp_extract(col("url"), "^[A-Za-z]+://[^/?#]+([^?#]*)", 1)
    val query = regexp_extract(col("url"), "\\?([^#]*)", 1)
    // only the scheme's OWN default port drops; :8080 (or :443 on
    // plain http) stays — distinct resources must not merge
    val cleanPort = when(col("prt") === "" ||
        (col("sch") === "http" && col("prt") === "80") ||
        (col("sch") === "https" && col("prt") === "443"), lit(""))
      .otherwise(concat(lit(":"), col("prt")))
    val cleanPath = when(col("p") === "" || col("p") === "/", lit("/"))
      .otherwise(regexp_replace(col("p"), "/$", ""))
    val cleanQuery = array_join(expr(
      "filter(split(q, '&'), kv -> NOT (startswith(kv, 'utm_') OR startswith(kv, 'ref=')))"),
      "&")
    documents
      .withColumn("url", messy)
      .withColumn("sch", scheme).withColumn("prt", port)
      .withColumn("p", path).withColumn("q", query)
      .withColumn("url_canon", concat(
        col("sch"), lit("://"), host, cleanPort, cleanPath,
        when(cleanQuery === "", lit("")).otherwise(concat(lit("?"), cleanQuery))))
      .groupBy(col("url_canon"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("canonical"))
      .orderBy(col("url_canon"))
  }

  /** Bloom-filter shingle membership: the cross-shard dedup
    * pre-filter. The "seen" shard (doc_id < [[SeenSplitId]]) builds a
    * [[BloomBits]]-bit Bloom filter over its shingles —
    * [[BloomHashes]] positions per shingle from the MinHash
    * permutation family over the same 31-bit base hash, OR-ed into
    * 32-bit words by a (word-index-keyed, ≤ BloomBits/32-row) bit_or
    * aggregate. Each later doc then counts how many of its
    * shingles the filter claims were seen: `n_maybe_seen / n_shingles`
    * is the overlap score a 100 TB pipeline uses to route docs to
    * full verification instead of joining whole shards — the filter
    * is KB-sized state that broadcasts, the probe is a narrow map +
    * one broadcast join, and nothing n² ever materializes. Pure
    * integer arithmetic end-to-end ⇒ exact SQL oracle (the oracle
    * interpolates the same permutation constants).
    */
  def bloomShingleFilter(documents: DataFrame): DataFrame = {
    val perms = graft.expressions.MinhashTextSignature.permA
      .zip(graft.expressions.MinhashTextSignature.permB).take(BloomHashes)
    // fused shingling; position hashing uses the fingerprint's 31-bit
    // top half (= the oracle's single-prime fold), the distinct-
    // shingle identity stays the full 62-bit fingerprint
    val h = shingleFps(documents)
      .select(col("doc_id"), col("h").as("fp"), shiftright(col("h"), 32).as("h"))
    def positions = array(perms.map { case (a, b) =>
      pmod(pmod(lit(a) * col("h") + lit(b), lit(MinhashPrime)), lit(BloomBits.toLong))
    }: _*)
    val filterWords = h.filter(col("doc_id") < SeenSplitId)
      .select(explode(positions).as("pos"))
      // 32-bit words: shifts stay < 32, which every engine's checked
      // left-shift accepts (a 64-bit word needs 1 << 63 = overflow)
      .select(expr("pos div 32").as("widx"),
        pmod(col("pos"), lit(32)).cast("int").as("bit"))
      .groupBy(col("widx"))
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), bit))").as("bits"))
    val probeBits = h.filter(col("doc_id") >= SeenSplitId)
      .select(col("doc_id"), col("fp"), explode(positions).as("pos"))
      .select(col("doc_id"), col("fp"),
        expr("pos div 32").as("widx"),
        pmod(col("pos"), lit(32)).cast("int").as("bit"))
      .join(broadcast(filterWords), Seq("widx"), "left")
      .select(col("doc_id"), col("fp"),
        expr("CAST(shiftright(coalesce(bits, CAST(0 AS BIGINT)), bit) & 1 AS BIGINT)").as("hit"))
    probeBits
      .groupBy(col("doc_id"), col("fp"))
      .agg(min(col("hit")).as("all_bits_set")) // every one of the BloomHashes bits
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(col("all_bits_set")).as("n_maybe_seen"))
      .orderBy(col("doc_id"))
  }

  /** Below this edge count the pair graph collects to the driver and
    * labels resolve with one union-find pass — near-dup pair graphs
    * are tiny next to the corpus (thresholded candidates), so the
    * common case pays one collect instead of diameter-many iterative
    * jobs. Above it, the distributed min-label loop below handles
    * graphs that cannot fit a driver (the same adaptive small-side
    * reasoning as a broadcast-join threshold).
    */
  private val MaxDriverEdges = 1 << 20

  /** Connected components over a near-dup pair graph → duplicate
    * *clusters*: every doc labeled with the smallest doc_id reachable
    * through pair edges (singletons label themselves), and the
    * canonical flag a keep-one-per-cluster dedup actually drops rows
    * by. Iterative min-label propagation: per round, one edge⋈label
    * join + a dst-keyed min — all shuffles key on doc ids, nothing
    * driver-sized. Rounds ≈ cluster diameter; near-dup clusters are
    * shallow (they are cliques-ish), so this converges in 2-3 rounds
    * where the general-graph alternative (large-star/small-star,
    * O(log n) rounds) isn't worth the extra passes. Labels are
    * localCheckpoint'ed per round so the plan doesn't grow with the
    * iteration count.
    *
    * `pairs` must expose doc1/doc2 (any extra columns ignored) —
    * compose with [[ngramJaccard]], [[minhashLsh]], [[simhashNearDup]]
    * or [[embedNearDup]] output.
    */
  def connectedComponents(documents: DataFrame, pairs: DataFrame): DataFrame =
    connectedComponentsCapped(documents, pairs, MaxDriverEdges)

  /** [[connectedComponents]] with the driver-path edge cap
    * `maxDriverEdges` open: above it the distributed loop runs, so a
    * cap of 0 forces that path on any graph.
    */
  private[graft] def connectedComponentsCapped(documents: DataFrame, pairs: DataFrame,
      maxDriverEdges: Int): DataFrame = {
    // persisted BEFORE the size probe: the candidate pipeline behind
    // `pairs` (LSH banding, jaccard verification, …) is often the
    // expensive part, and without this the above-cap path would
    // recompute it from scratch after a wasted ~1M-row probe collect
    val p = pairs.select(col("doc1"), col("doc2")).persist()
    try {
      val collected = p.limit(maxDriverEdges + 1).collect()
      if (collected.length <= maxDriverEdges) {
        // driver fast path: union-find with path compression; the
        // component label is the min member id — identical to the
        // min-label propagation fixpoint by construction
        val parent = scala.collection.mutable.HashMap.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
          var c = x
          while (parent.getOrElse(c, c) != c) {
            val next = parent.getOrElse(c, c); parent(c) = r; c = next
          }
          r
        }
        collected.foreach { row =>
          val (a, b) = (find(row.getLong(0)), find(row.getLong(1)))
          if (a != b) { if (a < b) parent(b) = a else parent(a) = b }
        }
        val vertices = collected.flatMap(r => Seq(r.getLong(0), r.getLong(1))).distinct
        val spark = documents.sparkSession
        import spark.implicits._
        val labels = vertices.map(v => (v, find(v))).toSeq.toDF("doc_id", "comp")
        attachLabels(documents, labels)
      } else distributedCC(documents, p)
    } finally p.unpersist(blocking = false)
  }

  /** The above-driver-budget path: min-label propagation with a
    * pointer-jumping shortcut each round. Plain neighbor-min
    * propagation needs O(diameter) rounds — an adversarial path graph
    * exhausts any fixed iteration budget. Following each push with
    * `comp := comp(comp)` (every label is itself a vertex id, so the
    * label table self-joins as a pointer table) doubles the distance
    * labels travel per round, giving O(log diameter) convergence —
    * the shortcutting idea behind hash-to-min / two-phase CC in
    * MapReduce (Rastogi et al., "Finding Connected Components in
    * Map-Reduce in Logarithmic Rounds").
    */
  private def distributedCC(documents: DataFrame, p: DataFrame): DataFrame = {
    val e = p.select(col("doc1").as("src"), col("doc2").as("dst"))
    val edges = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().persist()
    // labels only ever decrease, so the (exact, decimal) label total
    // strictly decreases until the fixpoint — a one-aggregate
    // convergence test, no self-join needed
    def labelTotal(df: DataFrame): java.math.BigDecimal = {
      val d = df.agg(sum(col("comp").cast("decimal(38,0)"))).head().getDecimal(0)
      if (d == null) java.math.BigDecimal.ZERO else d
    }
    var labels: DataFrame = null
    try {
      // only pair-graph vertices can ever change label — iterate over
      // them alone (the pair graph is tiny next to the corpus; at
      // 100 TB this is what keeps each round off the full document
      // set), then left-join the labels back so singletons label
      // themselves; built inside the try so a failed checkpoint job
      // still releases the persisted edges
      labels = edges.select(col("src").as("doc_id")).distinct()
        .select(col("doc_id"), col("doc_id").as("comp"))
        .localCheckpoint()
      var converged = labels.head(1).isEmpty // no pairs ⇒ nothing to propagate
      var prevTotal = if (converged) java.math.BigDecimal.ZERO else labelTotal(labels)
      var iter = 0
      while (!converged && iter < CcMaxRounds) {
        iter += 1
        // push each node's current label to its neighbors, take the min
        val pushed = edges
          .join(broadcast(labels.select(col("doc_id").as("src"), col("comp"))), Seq("src"))
          .groupBy(col("dst").as("doc_id"))
          .agg(min(col("comp")).as("nbr_min"))
        val stepped = labels
          .join(pushed, Seq("doc_id"), "left")
          .select(col("doc_id"),
            least(col("comp"), coalesce(col("nbr_min"), col("comp"))).as("comp"))
        // pointer jump: follow the label one hop through the label
        // table itself (comp is always a vertex id, so the lookup
        // never misses except at roots) — this is what turns a
        // length-L chain from L rounds into ~log₂ L
        val next = stepped
          .join(broadcast(stepped.select(col("doc_id").as("comp"),
            col("comp").as("comp2"))), Seq("comp"), "left")
          .select(col("doc_id"),
            least(col("comp"), coalesce(col("comp2"), col("comp"))).as("comp"))
          .localCheckpoint()
        val nextTotal = labelTotal(next)
        converged = nextTotal.compareTo(prevTotal) == 0
        prevTotal = nextTotal
        labels = next
      }
      // a silent partial result would diverge from the transitive-
      // closure contract (and the oracle) — fail loudly instead
      if (!converged) throw new IllegalStateException(
        s"connectedComponents did not converge in $CcMaxRounds rounds " +
          "(Dedup.CcMaxRounds): the pair graph has a chain longer than 2^CcMaxRounds")
    } finally edges.unpersist(blocking = false)
    attachLabels(documents, labels)
  }

  /** Canonical-member selection over near-dup components: the policy
    * step that turns clustering into an actual dedup decision. Keeps
    * the LONGEST member per component (`n_chars`, tie → smallest
    * doc_id) — the standard keep-best policy (longest survivor
    * preserves the most content; swap the ordering column for a
    * quality score to change policy). Output: every document with its
    * component, the component size, and keep ∈ {0,1}; filtering
    * keep=1 yields the deduplicated corpus. Component labels attach
    * via one doc_id equi-join, then BOTH window functions (size,
    * rank) share the single component-keyed exchange.
    */
  def canonicalize(documents: DataFrame, pairs: DataFrame): DataFrame = {
    // no forced repartition + sort before the windows: with no rank
    // FILTER above them there is no InferWindowGroupLimit partial
    // pass, so forcing one only renames the same plan (measured at
    // sf10 and sf100: SCALING.md round 13, "The canonicalize-family
    // window shape")
    val wc = org.apache.spark.sql.expressions.Window.partitionBy(col("component"))
    documents.select(col("doc_id"), col("n_chars"))
      .join(connectedComponents(documents, pairs)
        .select(col("doc_id"), col("component")), Seq("doc_id"))
      .withColumn("n_members", count(lit(1)).over(wc))
      .withColumn("rnk", row_number().over(
        wc.orderBy(col("n_chars").desc, col("doc_id"))))
      .select(col("doc_id"), col("component"), col("n_members"),
        when(col("rnk") === 1, 1L).otherwise(0L).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Soft dedup: keep every near-dup copy but downweight its training
    * loss to 1/|cluster|, so each content cluster contributes exactly
    * one document's worth of gradient regardless of how many crawls
    * re-captured it (per-cluster weights sum to 1 — the spec pins it).
    * The "don't drop, reweight" alternative to [[canonicalize]] some
    * pipelines prefer because duplicates still contribute their
    * (possibly differing) long-tail variants. Same shuffle shape as
    * canonicalize: labels attach by one doc_id equi-join, the member
    * count is one component-keyed window.
    */
  def softDedupWeights(documents: DataFrame, pairs: DataFrame): DataFrame = {
    val wc = org.apache.spark.sql.expressions.Window.partitionBy(col("component"))
    documents.select(col("doc_id"))
      .join(connectedComponents(documents, pairs)
        .select(col("doc_id"), col("component")), Seq("doc_id"))
      .withColumn("n_members", count(lit(1)).over(wc))
      .select(col("doc_id"), col("component"), col("n_members"),
        round(lit(1.0) / col("n_members").cast("double"), 6).as("weight"))
      .orderBy(col("doc_id"))
  }

  /** Attach component labels (pair-graph vertices only) back onto the
    * full document set; singletons label themselves. Labels broadcast
    * so the corpus-sized document side never shuffles for this join
    * (if the pair graph ever approached corpus size, near-dup
    * thresholds are wrong long before this hint is).
    */
  private def attachLabels(documents: DataFrame, labels: DataFrame): DataFrame =
    documents.select(col("doc_id"))
      .join(broadcast(labels), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("comp"), col("doc_id")).as("component"),
        when(col("doc_id") === coalesce(col("comp"), col("doc_id")), 1L)
          .otherwise(0L).as("is_canonical"))
      .orderBy(col("doc_id"))

  /** SimHash's per-token hash: the rolling fingerprint of the token
    * with a fixed 2-char salt prefix. A bare short token leaves the
    * fold far below either prime (a 1-char word sets ≤ 21 low bits
    * per half), structurally biasing high signature bits toward 0 for
    * stopword-heavy text and inflating false near-dup pairs; two salt
    * fold steps push every token — whatever its length — through the
    * modulus so all 62 bits are live. The prefix is injective on
    * tokens, and the oracle mirrors it as `'xq' || w`.
    */
  private def saltedTokenHash(w: Column): Column =
    tokenHash62(concat(lit("xq"), w))

  /** Per-doc 64-bit SimHash as ONE per-row codegen'd expression
    * ([[graft.expressions.SimhashTextSignature]]): text → signature
    * with no word explode, no aggregate and NO SHUFFLE — a signature
    * is a per-document value, so nothing about the computation needs
    * to leave the row (the [[minhashSignatures]] move, round 8).
    * Bit-identical to the declarative 64-conditional-sum reference
    * [[simhashSignaturesDeclarative]] (spec-checked). NULL text yields
    * no row, mirroring the reference's empty-group absence.
    */
  def simhashSignatures(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftinternal.ColumnBridge.{column, expression}
    documents
      .select(col("doc_id"),
        column(graft.expressions.SimhashTextSignature(
          expression(col("text")))).as("sim"))
      .filter(col("sim").isNotNull)
  }

  /** The declarative 64-conditional-sum reference for
    * [[simhashSignatures]] — bit-identical results (spec-checked); the
    * specs' parity oracle.
    */
  private[graft] def simhashSignaturesDeclarative(documents: DataFrame): DataFrame = {
    val words = documents
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .withColumn("h", saltedTokenHash(col("w")))
    val bitSums = (0 until 64).map { j =>
      sum(shiftright(col("h"), j).bitwiseAND(lit(1L)) * 2 - 1).as(s"s$j")
    }
    words.groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until 64).map(j => when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _).as("sim"))
  }

  /** SimHash hamming near-dup pairs (≤ [[Multimodal.HammingMaxDist]])
    * through the shared
    * adaptive Hamming pairer ([[Multimodal.phashPairsAuto]]): a
    * bucket-occupancy probe picks 4×16-bit banding (4 probe rows/doc,
    * wins when signatures spread) or 2×32-bit multi-index hashing
    * (flat probe cost, wins when they cluster). Both are
    * pigeonhole-exact at distance ≤ 3, so the dispatch is a pure cost
    * decision and the brute-force oracle is unchanged.
    *
    * The round-7 sf10 audit forced this: the old fixed 4×16 chunk
    * join plus a candidate-wide `distinct()` shuffled 2.7e9 candidate
    * rows on the 500 k-doc generated corpus (max 16-bit bucket:
    * 16 374 docs — a 30-word vocabulary clusters signatures), 59 s
    * wall where the MIH arm pays 66 probe rows/doc into 2³²-value
    * buckets and its dedup is an inline filter — no aggregate ever
    * sees candidates.
    */
  def simhashNearDup(documents: DataFrame): DataFrame =
    Multimodal.phashPairsAuto(
        simhashSignatures(documents).select(col("doc_id"), col("sim").as("phash")))
      // narrow rename only: the pairers end in their own
      // (doc_a, doc_b) orderBy, so a second corpus-pair-sized sort
      // here would be pure overhead
      .select(col("doc_a").as("doc1"), col("doc_b").as("doc2"),
        col("dist").as("hamming"))

  /** Embedding-cosine near-dup pairs ≥ tau via multi-table
    * random-hyperplane LSH; exact cosine verified only within bucket
    * collisions, duplicate hits across tables collapsed by a keyed
    * aggregate — the scale path for `dd_embed_neardup`, never
    * materializes n² pairs.
    *
    * Table geometry scales with the corpus ([[embedLshParams]]): a
    * FIXED bucket count means expected bucket occupancy n/2^bits
    * grows linearly with the corpus and in-bucket candidate pairs
    * grow quadratically — the round-7 sf10 audit measured exactly
    * that (8×12 bits: 1.1 s at 20 k vectors, 16.7 s at 200 k,
    * 15.4× for 10× data). Corpora up to 48 k vectors keep the
    * original 8 tables × 12 bits (every oracled scale is here, so
    * the plane-literal SQL oracles are untouched); beyond, bits
    * grow with log₂(n) to hold expected occupancy ~3 and tables
    * double to 16 to hold recall (recall@0.95 = 1−(1−0.8976^bits)^T:
    * 8×12 → 0.92, 16×17 → 0.94, 16×18 → 0.92 — derivation in the
    * docstring of [[graft.functions.VectorOps.lshTableKeys]]). The
    * corpus count comes from one construction-time `count()` — the
    * q24 eager-detection precedent, documented there.
    */
  def embedNearDup(embeddings: DataFrame, tau: Double = EmbedNearDupTau): DataFrame = {
    // the geometry count runs on the INPUT frame, not the persisted
    // vector frame: on a file-backed corpus Catalyst prunes every
    // column out of a count() (footer row counts — metadata cost),
    // where counting through the persisted double-array frame was
    // measured forcing an eager full decode + cache-write pass that
    // serialized ~1 s ahead of the main job at sf1. The trade: an
    // EXPENSIVE computed lineage (an embedding model, a decode) does
    // run twice — a caller holding one of those should persist
    // upstream.
    val (nTables, bitsPerTable) = embedLshParams(embeddings.count())
    embedNearDupOnSig(
      embeddings
        .select(col("vec_id"), VectorOps.toDoubleArray(col("embedding")).as("vd")),
      tau, nTables, bitsPerTable)
  }

  /** Corpus-scaled LSH geometry: (tables, bitsPerTable). ≤ 48 k
    * vectors (12·2^12) → the original 8×12; beyond, bits =
    * ceil(log₂(n/3)) holds expected bucket occupancy n/2^bits ≈ 3 so
    * candidate pairs stay ≈ T·3n/2 — LINEAR — even on the precision
    * worst case (isotropic vectors, random per-table collision
    * 0.5^bits), and the TABLE count is derived from the recall
    * target: the smallest T with 1 − (1 − p^bits)^T ≥ 92% at the
    * τ = 0.95 design point (p = 1 − acos(0.95)/π ≈ 0.899), floored
    * at the long-standing 16 so no mid-tier loses recall vs the
    * shipped geometry. This REPLACES the round-7 hard bits cap at
    * 18: fixed tables forced the cap (more bits alone shed recall),
    * and the cap quietly recreated at sf100 the fixed-bucket
    * occupancy cliff it was built to fix at sf10 — 5 M vectors on
    * 2^18 buckets is occupancy 19, ~730 M candidate rows, and a
    * verification join that filled the bench disk (measured, round
    * 10; SCALING.md). Now sf10 keeps its committed (16, 18) —
    * the recall formula reproduces it exactly — while sf100 gets
    * (23, 21) at occupancy 2.4 and 10⁸ vectors (35, 25) at
    * occupancy 3, both inside the 896-plane bucket budget
    * ([[SketchPlaneOffset]] — the top 128 planes belong to the
    * verification sketch).
    */
  private[graft] def embedLshParams(n: Long): (Int, Int) =
    if (n <= (12L << 12)) (EmbedSmallTables, EmbedSmallBits)
    else {
      val pBit = 1.0 - math.acos(EmbedNearDupTau) / math.Pi
      def tablesFor(bits: Int): Int = math.max(16, math.ceil(
        math.log(0.08) / math.log1p(-math.pow(pBit, bits))).toInt)
      val want = math.max(13, math.ceil(math.log(n / 3.0) / math.log(2.0)).toInt)
      // deepest occupancy-targeted bits whose recall-holding table
      // count still fits the BUCKET plane budget (binds only past
      // ~10⁸). Buckets own planes [0, 896); [896, 1024) is reserved
      // for the verification sign sketch — the cap here is what makes
      // the sketch's "zero overlap with any bucket geometry" claim an
      // enforced invariant rather than a coincidence of the current
      // auto maximum (35×25 = 875).
      val bits = (13 to want).reverse
        .find(b => tablesFor(b) * b <= SketchPlaneOffset).getOrElse(13)
      (tablesFor(bits), bits)
    }

  /** First plane index owned by the verification sign sketch: bucket
    * geometries must fit strictly below it ([[embedLshParams]] caps
    * its search here; [[embedNearDupOnSig]] rejects any geometry
    * that crosses it), so sketch bits can never correlate
    * with bucket selection.
    */
  private[graft] val SketchPlaneOffset = 896

  /** The body over a `(vec_id, vd)` frame, which it holds along with
    * the bucket table. The minhashLsh shape: vectors cached once,
    * bucket keys computed once, only (id, bucket) hauled through the
    * self-join, vectors joined back per deduplicated candidate pair —
    * neither nTables vector copies in cache nor per-side signature
    * recompute.
    */
  private def embedNearDupOnSig(vectors: DataFrame, tau: Double,
      nTables: Int, bitsPerTable: Int): DataFrame = Caching.materialized { held =>
    val sig = held(vectors)
    // the sketch's independence from the buckets is an invariant, not
    // an observation: the geometry must stay below the sketch's
    // reserved plane range
    require(nTables * bitsPerTable <= SketchPlaneOffset,
      s"bucket geometry $nTables×$bitsPerTable crosses into the " +
        s"verification-sketch plane range [$SketchPlaneOffset, 1024)")
    val bucketed = held(sig
      .select(col("vec_id"), explode(
        VectorOps.lshTableKeys(col("vd"), nTables, bitsPerTable)).as("bucket")))
    val pairs = bucketed.select(col("vec_id").as("id1"), col("bucket"))
      .join(bucketed.select(col("vec_id").as("id2"), col("bucket")), Seq("bucket"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"))
      .distinct()
    // Sign-sketch pre-filter before any vector is hauled: at
    // occupancy-targeted geometry the candidate set is ~T·occ/2
    // BACKGROUND pairs per vector (random same-bucket collisions) —
    // ~70 M pairs at generated sf100 — and joining two 520-byte
    // double arrays into each wrote ~37 GB of shuffle (the round-10
    // sf100 disk exhaustion). A 128-bit hyperplane sign sketch
    // (4×32 bits from the TOP of the plane family — zero overlap
    // with any bucket geometry ≤ 875 planes, so no selection bias)
    // Hamming-rejects a random pair (E[mismatch] = 64, σ ≈ 5.7)
    // at the τ cut (≤ [[sketchMismatchCut]] ≈ 29 at τ = 0.95) with
    // certainty ~1 − 10⁻¹¹, while a true τ-pair passes with
    // 1 − 3·10⁻⁶ (4.5σ margin); survivors ≈ true pairs alone pay
    // the exact-cosine vector join. Fixed 4-term bit_count
    // arithmetic — fully codegen'd, 48-byte pair rows.
    val sk = sig.select(col("vec_id"),
      VectorOps.lshTableKeys(col("vd"), 4, 32,
        planeOffset = SketchPlaneOffset).as("sk"))
    val mismatch = (0 until 4).map(i =>
        bit_count(col("sk1").getItem(i).bitwiseXOR(col("sk2").getItem(i))))
      .reduce(_ + _)
    val sketched = pairs
      .join(sk.select(col("vec_id").as("id1"), col("sk").as("sk1")), Seq("id1"))
      .join(sk.select(col("vec_id").as("id2"), col("sk").as("sk2")), Seq("id2"))
      .filter(mismatch <= lit(sketchMismatchCut(tau)))
      .select(col("id1"), col("id2"))
    sketched
      .join(sig.select(col("vec_id").as("id1"), col("vd").as("v1")), Seq("id1"))
      .join(sig.select(col("vec_id").as("id2"), col("vd").as("v2")), Seq("id2"))
      .withColumn("cos", VectorOps.cosine(col("v1"), col("v2")))
      .filter(col("cos") >= tau)
      .select(col("id1"), col("id2"), round(col("cos"), 6).as("cos"))
      .orderBy(col("id1"), col("id2"))
  }

  /** Max Hamming mismatches (of 128 sketch bits) a candidate pair may
    * show and still reach exact verification: 128·p_τ + 4.5σ with
    * p_τ = acos(τ)/π — the sign-collision rate of a pair at exactly
    * the threshold. Driver-side arithmetic, pinned in DedupSpec.
    */
  private[graft] def sketchMismatchCut(tau: Double): Int = {
    val p = math.acos(math.max(-1.0, math.min(1.0, tau))) / math.Pi
    math.ceil(128 * p + 4.5 * math.sqrt(128 * p * (1 - p))).toInt
  }

  /** Span-level duplication: for each document, how many of its tokens
    * sit inside a word 3-gram that also appears in at least one other
    * document — the bounded stand-in for suffix-array substring
    * dedup (spans shared across documents are memorization fuel even
    * when whole-doc similarity is low). Reported as an exact covered
    * token count + integer percentage, so a span-trim stage can cut on
    * it.
    *
    * Scale shape: positional grams are a narrow generate; the
    * duplicated-gram set is one gram-keyed aggregate (near-uniform
    * keys), rejoined on the gram, and coverage collapses through a
    * doc-keyed distinct — every shuffle keys on gram or doc_id, never
    * a pair. Grams are keyed by their 62-bit dual-prime fingerprint
    * ([[tokenHash62]]): the strings die at the map side, only 8-byte
    * keys shuffle, and the oracle reproduces the fold exactly in SQL
    * (a cross-doc collision would need ~2³¹ distinct grams).
    */
  def dupSpans(documents: DataFrame): DataFrame =
    Caching.materialized(dupSpansPlan(_, documents))

  /** The un-materialized plan behind [[dupSpans]], holding its gram
    * frame through `held` — exists so PlanPinSpec can assert the
    * exchange budget on the REAL plan (the public operator's
    * checkpoint collapses it to a LogicalRDD scan, where any shuffle
    * count is vacuously zero).
    */
  private[graft] def dupSpansPlan(held: Caching.Held, documents: DataFrame): DataFrame = {
    val base = documents.select(col("doc_id"), split(col("text"), " ").as("w"))
      .withColumn("n", size(col("w")).cast("long"))
    // pos is 1-based; Spark arrays index 0-based, so gram i spans
    // w[i-1..i+1] (the oracle's 1-based w[i..i+2])
    // persisted: the scan + positional-gram explode feeds BOTH the
    // duplicated-gram aggregate and the coverage join below (the
    // module's multi-branch contract — see ngramJaccard's shingles)
    val grams = held(base.filter(col("n") >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, int(n) - 2), i -> " +
          "struct(i as pos, concat_ws(' ', w[i-1], w[i], w[i+1]) as g))")).as("e"))
      .select(col("doc_id"), col("e.pos").as("pos"), tokenHash62(col("e.g")).as("g")))
    // "appears in ≥2 docs" = min(doc_id) ≠ max(doc_id): one plain
    // min/max aggregate instead of an expand-based count_distinct
    val dup = grams.groupBy(col("g"))
      .agg(min(col("doc_id")).as("d0"), max(col("doc_id")).as("d1"))
      .filter(col("d0") =!= col("d1"))
      .select(col("g"))
    // Covered-token count per doc WITHOUT materializing covered
    // positions: |∪ᵢ [posᵢ, posᵢ+2]| over a doc's sorted distinct dup
    // positions is 3 + Σ min(3, gap) — the interval-union identity,
    // value-equal to the oracle's DISTINCT-position count. The old
    // explode(pos..pos+2) → global distinct() shuffled 3 gram-instance
    // rows per dup gram (330 M at generated sf10, where a 30-word
    // vocabulary makes EVERY gram duplicated); collect_set(pos)
    // collapses map-side to one row per doc (a doc's grams are
    // co-located from the per-row explode, and AQE broadcasts the
    // dup-gram set when it is small, preserving that locality), so the
    // doc aggregate shuffles doc-count rows carrying ≤ doc-length ints.
    // Per-group memory is one int per token of the doc — the same
    // order as the doc's text itself. collect_list, not collect_set:
    // positions are distinct per doc by construction (one positional
    // gram per index), so set dedup would buy nothing. The trade is
    // the bigram-surprisal/q20 one — the object-hash aggregate costs
    // ~0.8 s at sf1 over the old codegen'd distinct, bought back 4×
    // at sf10 and unboundedly at 100 TB where the distinct's shuffle
    // is gram-instance-sized.
    val covered = grams.join(dup, Seq("g"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("ps"))
      .select(col("doc_id"), expr(
        "CAST(3 AS BIGINT) + aggregate(" +
          "zip_with(slice(ps, 1, size(ps) - 1), slice(ps, 2, size(ps) - 1)," +
          " (a, b) -> least(3, b - a))," +
          " CAST(0 AS BIGINT), (acc, x) -> acc + x)").as("n_dup_tokens"))
    base.select(col("doc_id"), col("n").as("n_tokens"))
      .join(covered, Seq("doc_id"), "left")
      .withColumn("n_dup_tokens", coalesce(col("n_dup_tokens"), lit(0L)))
      .withColumn("dup_pct", expr("n_dup_tokens * 100 div n_tokens"))
      .orderBy(col("doc_id"))
  }
}
