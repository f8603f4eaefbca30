package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for the LLM-training-data pipeline
  * (SURVEY.md §2.3): token counting, quality scoring, language ID,
  * document fingerprinting. Every operator is a narrow per-row map —
  * no shuffle at all — so at 100 TB these run at scan speed and
  * pipeline into whatever dedup/filter stage follows.
  */
object TextOps {

  /** Occurrences of a marker substring via the replace-length trick —
    * portable exact integer arithmetic (identical in ANSI SQL).
    */
  private def markerCount(marker: String): Column =
    expr(s"(length(text) - length(replace(text, ' $marker ', ''))) div ${marker.length + 2}")

  /** The per-row counting statistics struct — ONE fused scan
    * ([[graft.expressions.TextScanStats]]) feeding every count below;
    * Catalyst subexpression elimination collapses repeated fields to
    * a single evaluation per row.
    */
  private[graft] def textStats(textCol: String): Column = {
    import org.apache.spark.sql.graftinternal.ColumnBridge.{column, expression}
    column(graft.expressions.TextScanStats(expression(col(textCol))))
  }

  /** Whitespace word count of a text column — shared by quality and
    * the cleaning pipeline so the definition can't diverge.
    * Value-identical to `size(split(text, ' '))` (the spec's twin).
    */
  private[graft] def wordCount(textCol: String): Column =
    textStats(textCol).getField("n_words")

  /** Stopword occurrences of a text column (single shared list).
    * Value-identical to the interpreted
    * `size(filter(split(text, ' '), w -> w in ('the', 'a')))` twin.
    */
  private[graft] def stopCount(textCol: String): Column =
    textStats(textCol).getField("n_stop")

  // the declarative twins, kept as the spec's parity oracles
  private[graft] def wordCountDeclarative(textCol: String): Column =
    size(split(col(textCol), " ")).cast("long")
  private[graft] def stopCountDeclarative(textCol: String): Column =
    expr(s"size(filter(split($textCol, ' '), w -> w in ('the', 'a')))").cast("long")

  /** The quality score as ONE Column over `text` — shared by
    * [[quality]] and `Sampling.curriculumStages` so the score
    * definition cannot drift.
    */
  private[operators] def qualityScore: Column =
    round(least(lit(1.0), wordCount("text") / 100.0) * 0.5
      + (lit(1.0) - stopCount("text").cast("double") / wordCount("text")) * 0.5, 6)

  /** Token counting: whitespace tokens + a BPE-ish regex token count
    * (letter runs / digit runs / single non-alnum symbols — the
    * pre-tokenizer split most BPE vocabularies assume).
    */
  def tokens(documents: DataFrame): DataFrame =
    documents.select(
        col("doc_id"),
        wordCount("text").as("n_ws_tokens"),
        // value-identical to size(regexp_extract_all(text,
        // '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)) — the fused scan counts the
        // same maximal runs without materializing matches (spec twin)
        textStats("text").getField("n_bpe").as("n_bpe_tokens"))
      .orderBy(col("doc_id"))

  /** Quality scoring: length / word-shape / stopword-ratio features
    * combined into a bounded score. Counts are exact ints; the ratios
    * divide those ints identically in both engines. Counts run over
    * the RAW text (mirrored by the oracle) — irregular whitespace
    * splits into empty "words"; normalize first via [[cleanPipeline]]
    * when scoring messy corpora.
    */
  def quality(documents: DataFrame): DataFrame =
    documents
      .withColumn("n_words", wordCount("text"))
      .withColumn("n_stop", stopCount("text"))
      .withColumn("stop_ratio",
        col("n_stop").cast("double") / col("n_words"))
      .withColumn("mean_word_len",
        (length(col("text")) - col("n_words") + 1).cast("double") / col("n_words"))
      .withColumn("score", qualityScore)
      .select(col("doc_id"), col("n_words"), col("n_stop"),
        round(col("stop_ratio"), 6).as("stop_ratio"),
        round(col("mean_word_len"), 6).as("mean_word_len"), col("score"))
      .orderBy(col("doc_id"))

  /** Frozen-weight logistic-regression quality classifier — the
    * fasttext-style learned filter step of CCNet/RefinedWeb-type
    * pipelines, reduced to its scoring core: features are the exact
    * integer-ratio text statistics [[quality]] already defines
    * (length, stopword ratio, digit ratio, mean word length), the
    * weights are frozen literals a trainer produced offline, and
    * scoring is a pure per-row map — no shuffle, runs at scan speed
    * and pipelines into the cleaning stage at any scale. The same
    * literals appear in the SQL oracle, so the sigmoid is re-derived
    * end-to-end in both engines (per-row double math, no aggregation
    * order anywhere; 6-decimal round absorbs exp() ulp skew).
    */
  def lrQuality(documents: DataFrame): DataFrame =
    lrScored(documents).orderBy(col("doc_id"))

  /** The order-free LR scoring core — shared by [[lrQuality]] and the
    * streaming twin (`DocPipelineJobs.lrScoreStream`) so the weights
    * and feature definitions cannot drift between batch and live.
    */
  private[graft] def lrScored(documents: DataFrame): DataFrame = {
    val nWords = wordCount("text")
    val nStop = stopCount("text")
    val x1 = least(lit(1.0), nWords / 100.0)
    val x2 = nStop.cast("double") / nWords
    // digit count via the fused scan — value-identical to
    // length(text) - length(regexp_replace(text, '[0-9]', ''))
    val x3 = textStats("text").getField("n_digits").cast("double") /
      length(col("text"))
    val x4 = least(lit(1.0),
      (length(col("text")) - nWords + 1).cast("double") / nWords / 10.0)
    val z = lit(-0.5) + lit(2.2) * x1 + lit(1.8) * x2 - lit(3.0) * x3 +
      lit(0.7) * x4
    val p = lit(1.0) / (lit(1.0) + exp(-z))
    documents.select(col("doc_id"),
      round(p, 6).as("lr_score"),
      when(p >= 0.5, 1L).otherwise(0L).as("keep"))
  }

  /** Language ID by marker-word frequency (the classic n-gram/stopword
    * heuristic, scored per language with a deterministic argmax).
    */
  def langId(documents: DataFrame): DataFrame = {
    val cEn = markerCount("the")
    val cFr = markerCount("le")
    val cEs = markerCount("el")
    val cDe = markerCount("der")
    documents
      .withColumn("c_en", cEn).withColumn("c_fr", cFr)
      .withColumn("c_es", cEs).withColumn("c_de", cDe)
      .withColumn("predicted_lang",
        when(col("c_en") >= col("c_fr") && col("c_en") >= col("c_es") &&
          col("c_en") >= col("c_de"), "en")
          .when(col("c_fr") >= col("c_es") && col("c_fr") >= col("c_de"), "fr")
          .when(col("c_es") >= col("c_de"), "es")
          .otherwise("de"))
      .select(col("doc_id"), col("predicted_lang"),
        when(col("predicted_lang") === col("lang"), 1).otherwise(0)
          .cast("long").as("is_match"))
      .orderBy(col("doc_id"))
  }

  /** Corpus vocabulary: per-word total frequency and document
    * frequency — the table every tokenizer build / stopword-induction
    * step starts from. One explode + one word-keyed aggregate
    * (map-side combined); word keys are near-uniform so the shuffle
    * can't skew. Top terms only, deterministically tie-broken.
    */
  def vocab(documents: DataFrame, topN: Int = 100): DataFrame =
    documents
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("tf"),
        count_distinct(col("doc_id")).as("df"))
      .orderBy(col("tf").desc, col("word"))
      .limit(topN)

  /** Per-document TF-IDF keyword extraction: the top-k terms of each
    * doc by tf·ln((N+1)/(df+1)) with a deterministic term tie-break —
    * the summarization/tagging primitive next to [[bm25TopK]]'s
    * search. One corpus explode feeds the (doc, term) tf aggregate;
    * document frequencies derive from that same tf table (no second
    * corpus pass — a term appears once per doc there by
    * construction), and the df join stays UN-hinted: a corpus-wide
    * vocabulary can outgrow a broadcast, so AQE picks the strategy.
    * The corpus size is a one-row broadcast scalar. Scores are
    * per-row double products of exact integers — no aggregation
    * order anywhere.
    */
  def tfidfTopTerms(documents: DataFrame, k: Int = 5): DataFrame =
    tfidfTopK(
      documents.select(col("doc_id"), explode(split(col("text"), " ")).as("w")),
      "doc_id",
      documents.agg(count(lit(1)).as("n_groups")), k,
      corpusSizedGroups = true) // one group per document
      .orderBy(col("doc_id"), col("rnk"))

  /** The grouped TF-IDF top-k core — ONE definition shared by
    * [[tfidfTopTerms]] (group = document) and
    * `Similarity.clusterTopics` (group = cluster) so the smoothing
    * and tie-break cannot drift. Ranking orders on the
    * 6-decimal-ROUNDED score (not the raw double): Spark's
    * Math.log and DuckDB's libm ln may differ in the last ulp, and
    * an unrounded order could flip the rank-k cut between engines —
    * the same discipline qualityScore follows. `terms` = one
    * (group, w) row per token occurrence; `nGroups` = a one-row
    * frame with the group-universe size as `n_groups`.
    */
  private[operators] def tfidfTopK(terms: DataFrame, groupCol: String,
      nGroups: DataFrame, k: Int, corpusSizedGroups: Boolean): DataFrame = {
    val tf = terms.groupBy(col(groupCol), col("w")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val scored = tf.join(dfreq, Seq("w"))
      .crossJoin(broadcast(nGroups))
      .withColumn("score", round(col("tf").cast("double") *
        log((col("n_groups") + 1).cast("double")
          / (col("df") + 1).cast("double")), 6))
    topKByScore(scored, groupCol, k, corpusSizedGroups)
  }

  /** Grouped top-k of a (group, w, score) table: rank = score
    * descending, w ascending — the ONE ranking core under
    * [[tfidfTopK]], with the plan shape picked by WHO the groups are:
    *
    *  - `corpusSizedGroups = true` (group = document): each group's
    *    rows are spread across ~every partition of the w-keyed join
    *    output, so InferWindowGroupLimit's PARTIAL top-k pass (a
    *    local sort + limit before the group exchange) sorts the
    *    whole table (150 M rows at generated sf100) to eliminate
    *    almost nothing — and the final window then sorts it all
    *    AGAIN after the exchange. Forcing the exchange FIRST
    *    (repartition on the group key, then sortWithinPartitions)
    *    halves the sort work: the one post-exchange sort both
    *    satisfies the window and lets WindowGroupLimit run as a
    *    streaming filter. Measured (min of 2 interleaved passes,
    *    identical-output checksums): sf10 bare 21.1 s / repart
    *    6.9 s / bounded top-k aggregator 8.3 s; sf100 bare 86.4 /
    *    repart 55.0 / agg 70.4 — the bounded
    *    aggregator (O(k) heap per group, no sort) LOSES at both
    *    scales: its ObjectHashAggregate falls back to sort-based
    *    past 128 distinct keys, and raising the threshold was
    *    worse still (sf10: 20.3 s — 5 M-group object maps thrash
    *    GC). SCALING.md round 12 records the full table.
    *  - `corpusSizedGroups = false` (group = cluster/query: a
    *    handful of groups, each partition holds rows of EVERY
    *    group): the partial pass reduces each partition to ≤ k
    *    rows per group before the exchange — exactly what it is
    *    for — so the bare window keeps it.
    */
  private[operators] def topKByScore(scored: DataFrame, groupCol: String,
      k: Int, corpusSizedGroups: Boolean): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col("score").desc, col("w"))
    val arranged =
      if (corpusSizedGroups)
        scored.repartition(col(groupCol))
          .sortWithinPartitions(col(groupCol), col("score").desc, col("w"))
      else scored
    arranged.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col(groupCol), col("rnk"), col("w").as("term"), col("score"))
  }

  /** First-merge BPE statistics: corpus-weighted adjacent character
    * pair counts over the vocabulary — the candidate table a BPE
    * tokenizer trainer ranks to pick its next merge. Counting runs
    * over the (word, tf) vocab aggregate, NOT the corpus (each
    * distinct word's pairs weighted by its frequency), so the
    * pair-expansion cost is vocabulary-sized: the 100 TB corpus is
    * touched once by the word count and never again however many
    * merge rounds a trainer runs. Pure integer sums ⇒ engine-exact.
    */
  def bpePairStats(documents: DataFrame, topN: Int = 50): DataFrame =
    documents
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("tf"))
      .select(col("tf"), explode(expr(
        "transform(sequence(1, length(w) - 1)," +
          " i -> concat(substring(w, i, 1), substring(w, i + 1, 1)))")).as("pair"))
      .groupBy(col("pair")).agg(sum(col("tf")).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(topN)

  /** The frozen BPE merge list [[bpeApply]] segments with — ordered,
    * as a trainer would emit them (merged symbols feed later merges:
    * t+h → th, th+e → the). Literals, like the LR weights: the
    * "model" a tokenizer-training run produced offline.
    */
  val DefaultBpeMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "i" -> "n", "a" -> "n", "e" -> "r")

  /** The symbol delimiter inside [[bpeMergedSql]]'s rewrite strings:
    * the ASCII unit separator, which cannot occur in word content —
    * a printable delimiter like '/' would corrupt token counts for
    * any word containing it (URLs, paths). Embedded raw in the SQL
    * text; Verify's JSON dump escapes control chars.
    */
  private[graft] val BpeSep = "\u001f"

  /** The merge rewrite chain for one word as an SQL expression —
    * ONE emitter for both engines (Spark and DuckDB differ only in
    * the char-split/join spelling), so the operator and its oracle
    * apply byte-identical rewrites. Each word becomes a
    * [[BpeSep]]-delimited symbol sequence; each merge (a,b)
    * rewrites sep·a·sep·b·sep → sep·ab·sep with TWO replace
    * passes — replace() consumes
    * the shared delimiter of adjacent matches, so a single pass
    * merges only alternating occurrences in a run; the second pass
    * catches the rest (exact BPE for runs shorter than 4, and
    * deterministic + engine-identical always).
    */
  private[graft] def bpeMergedSql(wordExpr: String, sparkSql: Boolean,
      merges: Seq[(String, String)] = DefaultBpeMerges): String = {
    val S = BpeSep
    val base =
      if (sparkSql) s"concat('$S', array_join(split($wordExpr, ''), '$S'), '$S')"
      else s"'$S' || array_to_string(string_split($wordExpr, ''), '$S') || '$S'"
    merges.foldLeft(base) { case (e, (a, b)) =>
      val once = s"replace($e, '$S$a$S$b$S', '$S$a$b$S')"
      s"replace($once, '$S$a$S$b$S', '$S$a$b$S')"
    }
  }

  /** Apply the frozen merge list: per-doc token counts before (chars)
    * and after the merges, plus the compression ratio — the
    * tokenizer APPLY step completing [[bpePairStats]]' train step.
    * A pure per-row map (the merge chain is string rewrites inside a
    * transform lambda), scan-speed at any scale. Token count = the
    * merged sequence's delimiter count − 1.
    */
  def bpeApply(documents: DataFrame): DataFrame = {
    val m = bpeMergedSql("w", sparkSql = true)
    // the merge chain `m` is a 10-deep nested replace over the
    // symbol string; materialize it ONCE per word via an inner
    // transform, then count delimiters on the merged result — the
    // single-expression `length(m) - length(replace(m, …))` spelling
    // inlined the whole chain twice per word (2× the string-rewrite
    // work and 2× the generated code)
    documents.select(col("doc_id"),
        expr("aggregate(transform(filter(split(text, ' '), w -> length(w) > 0)," +
          " w -> length(w)), 0L, (a, x) -> a + CAST(x AS BIGINT))")
          .as("n_char_tokens"),
        expr(s"aggregate(transform(filter(split(text, ' '), w -> length(w) > 0)," +
          s" w -> $m)," +
          s" 0L, (a, s) -> a + CAST(length(s) - length(replace(s, '$BpeSep', '')) - 1 AS BIGINT))")
          .as("n_bpe_tokens"))
      .withColumn("compression",
        when(col("n_bpe_tokens") === 0, lit(1.0))
          .otherwise(round(col("n_char_tokens").cast("double")
            / col("n_bpe_tokens"), 6)))
      .orderBy(col("doc_id"))
  }

  /** The default BM25 query set: small keyword queries over the corpus
    * vocabulary, the shape a retrieval/eval harness feeds a keyword
    * index. A literal dimension (like the handler registry) —
    * broadcast everywhere it joins.
    */
  val defaultBm25Queries: Seq[(Int, String)] = Seq(
    0 -> "spark", 0 -> "join",
    1 -> "hash", 1 -> "table",
    2 -> "stream", 2 -> "window", 2 -> "batch",
    3 -> "vector", 3 -> "scan")

  /** BM25 keyword search: top-k documents per query (Okapi BM25,
    * k1=1.2, b=0.75) — the lexical-retrieval companion to the ANN
    * operators, and the dedup/contamination tool for keyword-defined
    * eval sets.
    *
    * Scale shape: the corpus explodes to tokens once and is
    * immediately cut to query terms by a **broadcast** semi-join (the
    * term dimension is tiny), so the only data-sized shuffle keys on
    * (doc_id, term) for matching tokens only. Document frequencies
    * come from a window over the per-(doc, term) tf table (tiny:
    * ≤ |matching docs| × |terms| rows), corpus scalars (N, Σdl)
    * broadcast as a one-row cross join. Per-term score contributions
    * are doubles computed in one fixed expression, then summed as
    * DECIMAL(38,15) — exact and associative, so ranking never depends
    * on partial-aggregation order.
    */
  def bm25TopK(documents: DataFrame,
      queries: Seq[(Int, String)] = defaultBm25Queries, k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val terms = broadcast(queries.toDF("query_id", "term"))
    val termSet = queries.map(_._2).distinct
    val corpus = documents.agg(
      count(lit(1)).as("n_docs"),
      sum(wordCount("text")).as("sum_dl"))
    val tf = documents
      .select(col("doc_id"), wordCount("text").as("dl"),
        explode(split(col("text"), " ")).as("term"))
      .filter(col("term").isin(termSet: _*))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("term"))))
    val scored = tf
      .join(terms, Seq("term"))
      .crossJoin(broadcast(corpus))
      .withColumn("avgdl", col("sum_dl").cast("double") / col("n_docs"))
      .withColumn("contrib",
        expr(s"ln(1.0 + (cast(n_docs - df as double) + 0.5) / (cast(df as double) + 0.5))"
          + s" * (cast(tf as double) * ${k1 + 1.0})"
          + s" / (cast(tf as double) + $k1 * (${1.0 - b} + $b * (cast(dl as double) / avgdl)))"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("contrib").cast("decimal(38,15)")).as("score_exact"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score_exact").desc, col("doc_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"),
        round(col("score_exact").cast("double"), 6).as("score"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** The composed cleaning pipeline every training-data run starts
    * with: normalize → length cut → stopword-ratio cut (same word and
    * stopword definitions as [[quality]], via the shared helpers) →
    * exact-dedup keep-canonical (the [[Dedup.exact]] shape over the
    * normalized text). Composition stays one scan + one dedup shuffle.
    * The cut is [[CleanMinWords]] and [[CleanMaxStopPerMille]].
    */
  def cleanPipeline(documents: DataFrame): DataFrame =
    cleanScored(documents)
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("doc_id"),
        count(lit(1)).as("n_dups"),
        min(col("n_words")).as("n_words"))
      .select(col("doc_id"), col("h"), col("n_dups"), col("n_words"))
      .orderBy(col("doc_id"))

  /** The end-to-end curation pipeline a training-data run actually
    * executes, as ONE composed DataFrame program: normalize → quality
    * cut → exact-dedup canonical (first doc per content hash, dup
    * count carried) → per-source token-budget selection (quality-
    * ordered prefix until the source's budget is spent). Every stage
    * is an existing audited operator shape — [[cleanScored]], the
    * h-keyed dedup window, `Sampling.tokenBudgetSelect`'s budget
    * window — composed without re-tokenizing: the budget score reuses
    * stage 1's word/stop counts.
    *
    * Scale shape: one h-keyed window (uniform md5 keys) and one
    * source-keyed window — the latter sorts within source, so ONE
    * giant source means one large external sort; when sources are
    * that lopsided, budget per balanced hash-shard instead
    * (`samp_token_budget`'s shape). Fully integer/round-6 arithmetic
    * ⇒ exact CTE-chained SQL oracle.
    */
  def curatePipeline(documents: DataFrame, perSourceBudget: Long = 5000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = cleanScored(documents)
    val canon = scored
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("h")).orderBy(col("doc_id"))))
      .withColumn("n_dups", count(lit(1)).over(Window.partitionBy(col("h"))))
      .filter(col("rn") === 1)
    val score = round(least(lit(1.0), col("n_words") / 100.0) * 0.5
      + (lit(1.0) - col("n_stop").cast("double") / col("n_words")) * 0.5, 6)
    val budgetW = Window.partitionBy(col("source"))
      .orderBy(col("score").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    canon
      .withColumn("score", score)
      .withColumn("cum_tokens", sum(col("n_words")).over(budgetW))
      .withColumn("keep",
        when(col("cum_tokens") <= perSourceBudget, 1L).otherwise(0L))
      .select(col("doc_id"), col("source"), col("h"),
        col("n_dups").cast("long").as("n_dups"), col("n_words"),
        col("score"), col("cum_tokens"), col("keep"))
      .orderBy(col("doc_id"))
  }

  /** The quality cut of [[cleanScored]]: a document needs at least
    * CleanMinWords words and at most CleanMaxStopPerMille stopwords
    * per thousand words (a stop ratio of 0.5), compared as integers —
    * exact in both engines.
    */
  private[graft] val CleanMinWords = 5
  private[graft] val CleanMaxStopPerMille = 500

  /** The stateless prefix of [[cleanPipeline]] — normalize, word/stop
    * counts, quality cut, content hash — shared verbatim by the batch
    * pipeline and the streaming twin
    * ([[graft.streaming.DocPipelineJobs]]) so the two cannot diverge.
    * Narrow maps only: safe on both a scan and an unbounded stream.
    */
  private[graft] def cleanScored(documents: DataFrame): DataFrame =
    documents
      .withColumn("norm_text",
        regexp_replace(trim(lower(col("text"))), " +", " "))
      .withColumn("n_words", wordCount("norm_text"))
      .withColumn("n_stop", stopCount("norm_text"))
      .filter(col("n_words") >= CleanMinWords &&
        col("n_stop") * 1000 <= col("n_words") * CleanMaxStopPerMille)
      .withColumn("h", md5(col("norm_text")))

  /** PII detection + redaction: emails / phone numbers / IPv4
    * addresses found by regex, counted, and replaced with typed
    * placeholder tags. A narrow per-row map — scan-speed at 100 TB,
    * pipelines into the cleaning stage. The synthetic corpus carries
    * no PII, so the operator first *plants* deterministic PII derived
    * from doc_id (mirrored by the oracle) — the regexes then run over
    * text that genuinely contains what they must find. Patterns stick
    * to the regex subset Java and RE2 interpret identically
    * (character classes + bounded repetition, no lookaround).
    */
  def piiRedact(documents: DataFrame): DataFrame = {
    val email = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
    val phone = "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{3,4}-[0-9]{4}"
    val ipv4 = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
    documents
      .withColumn("with_pii", concat(
        col("text"),
        lit(" contact user"), col("doc_id"), lit("@mail.example.com"),
        lit(" or +1-555-01"), lpad(pmod(col("doc_id"), lit(100)).cast("string"), 2, "0"),
        lit("-"), lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
        lit(" from 10."), pmod(col("doc_id"), lit(256)), lit(".0.1")))
      // single email+phone-redacted column (the oracle's r2 CTE):
      // the IP count and the final redaction both read it, so the
      // subtree is written — and evaluated — once
      .withColumn("part_red",
        regexp_replace(regexp_replace(col("with_pii"),
          email, "[EMAIL]"), phone, "[PHONE]"))
      .select(col("doc_id"),
        regexp_count(col("with_pii"), lit(email)).cast("long").as("n_emails"),
        regexp_count(col("with_pii"), lit(phone)).cast("long").as("n_phones"),
        // count IPs on the phone-redacted text so the two patterns
        // can't overlap-claim the same digits in either engine
        regexp_count(col("part_red"), lit(ipv4)).cast("long").as("n_ips"),
        md5(regexp_replace(col("part_red"), ipv4, "[IP]").cast("binary"))
          .as("redacted_md5"))
      .orderBy(col("doc_id"))
  }

  /** Gopher-style repetition features: distinct-word and duplicate-
    * bigram fractions plus the heaviest single word's share — the
    * signals repetition quality filters cut on. Two explode +
    * word-keyed aggregates (map-side combined, near-uniform keys),
    * joined back on doc_id; thresholds compare scaled integers so the
    * cut is engine-exact. Docs need ≥ 2 words (mirrored by the
    * oracle).
    */
  def repetitionStats(documents: DataFrame, maxDupBigramPct: Int = 20): DataFrame = {
    // every statistic is per-document, so ONE fused row-local scan
    // ([[graft.expressions.RepetitionStats]]) replaces two corpus
    // explodes and four aggregation exchanges — zero shuffles before
    // the presentation sort; the declarative twin below is the spec's
    // parity oracle. NULL struct = fewer than two words, the rows the
    // twin's inner join drops.
    val st = {
      import org.apache.spark.sql.graftinternal.ColumnBridge.{column, expression}
      column(graft.expressions.RepetitionStats(expression(col("text"))))
    }
    documents.select(col("doc_id"), st.as("st"))
      .filter(col("st").isNotNull)
      .select(col("doc_id"), col("st.n_words").as("n_words"),
        col("st.n_distinct_words").as("n_distinct_words"),
        col("st.top_word_n").as("top_word_n"),
        col("st.n_bigrams").as("n_bigrams"),
        col("st.n_distinct_bigrams").as("n_distinct_bigrams"))
      .withColumn("dup_bigram_pct",
        expr("(n_bigrams - n_distinct_bigrams) * 100 div n_bigrams"))
      .withColumn("is_repetitive",
        when(col("dup_bigram_pct") >= maxDupBigramPct, 1L).otherwise(0L))
      .orderBy(col("doc_id"))
  }

  /** The explode + aggregate twin of [[repetitionStats]] — kept as
    * the spec's parity oracle.
    */
  private[graft] def repetitionStatsDeclarative(documents: DataFrame,
      maxDupBigramPct: Int = 20): DataFrame = {
    val words = documents
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_words"),
        count(lit(1)).as("n_distinct_words"),
        max(col("n")).as("top_word_n"))
    val bigrams = documents
      .withColumn("ws", split(col("text"), " "))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(ws) - 2), i -> concat(ws[i], ' ', ws[i+1]))")).as("b"))
      .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_bigrams"),
        count(lit(1)).as("n_distinct_bigrams"))
    words.join(bigrams, Seq("doc_id"))
      .withColumn("dup_bigram_pct",
        expr("(n_bigrams - n_distinct_bigrams) * 100 div n_bigrams"))
      .withColumn("is_repetitive",
        when(col("dup_bigram_pct") >= maxDupBigramPct, 1L).otherwise(0L))
      .select(col("doc_id"), col("n_words"), col("n_distinct_words"),
        col("top_word_n"), col("n_bigrams"), col("n_distinct_bigrams"),
        col("dup_bigram_pct"), col("is_repetitive"))
      .orderBy(col("doc_id"))
  }

  /** 64-bit rolling polynomial fingerprint over the document's
    * characters (Karp–Rabin style): two independent 31-bit-prime
    * rolling hashes packed into one long. Each step stays < 2^51 so
    * the arithmetic is exact (and ANSI-overflow-safe) everywhere —
    * which is what lets DuckDB's list_reduce fold reproduce it
    * bit-for-bit as a full SQL oracle. A narrow map — scan-speed at
    * 100 TB.
    */
  /** Character-level Shannon entropy + charset stats — the
    * low-entropy cut of cleaning pipelines (repeated-char spam and
    * binary-ish blobs score far below natural text's ~4 bits/char).
    * H = log₂(n) − Σ c·log₂(c)/n with each c·log₂(c) term cast to
    * DECIMAL(28,12) so the sum is exact — order-independent in the
    * oracle; the engines' log₂ implementations differ only in final
    * ulps, which the 6-decimal round absorbs. A pure per-row function
    * of `text`, computed by the fused one-pass
    * [[graft.expressions.CharEntropyStats]] — a narrow map, no
    * shuffle (the declarative explode + two doc-keyed aggregates
    * below stays as the parity twin).
    */
  def charEntropy(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftinternal.ColumnBridge.{column, expression}
    documents
      .filter(length(col("text")) > 0)
      .select(col("doc_id"),
        column(graft.expressions.CharEntropyStats(expression(col("text")))).as("st"))
      .select(col("doc_id"), col("st.distinct_chars").as("distinct_chars"),
        col("st.n_chars").as("n_chars"), col("st.entropy").as("entropy"))
      .orderBy(col("doc_id"))
  }

  /** The declarative twin of [[charEntropy]] (explode + two keyed
    * aggregates over the corpus's characters) — the Spark-semantics
    * specification the fused expression is spec-checked against; not
    * the production path.
    */
  private[graft] def charEntropyDeclarative(documents: DataFrame): DataFrame =
    documents
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      .groupBy(col("doc_id"), col("ch")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("distinct_chars"),
        sum(col("c")).as("n"),
        sum((col("c").cast("double") * log2(col("c").cast("double")))
          .cast("decimal(28,12)")).as("sl"))
      .select(col("doc_id"), col("distinct_chars"), col("n").as("n_chars"),
        round(log2(col("n").cast("double")) -
          col("sl").cast("double") / col("n").cast("double"), 6).as("entropy"))
      .orderBy(col("doc_id"))

  /** Unigram-LM surprisal: train the unigram model on the corpus's own
    * token counts, then score each doc by average bits per token —
    * −(1/n)·Σ log₂(tf(w)/N) = (1/n)·Σ (log₂N − log₂tf(w)). The
    * LM-perplexity quality cut of CCNet-style pipelines, reduced to
    * its exactly-reproducible core: the tf table is an aggregate the
    * corpus streams into once (vocab ≪ corpus ⇒ broadcast back), and
    * each token's bit cost is cast to DECIMAL(28,12) so the per-doc
    * sum is associative — partitioning-independent, with the
    * engines' log₂ ulp differences absorbed by the 6-decimal round.
    */
  def surprisal(documents: DataFrame): DataFrame =
    surprisalScored(
      documents.select(col("doc_id"), explode(split(col("text"), " ")).as("w")),
      unigramStats(documents))
      .orderBy(col("doc_id"))

  /** The corpus unigram LM: per-word counts — the frozen model a
    * batch trainer hands to the streaming scorer.
    */
  def unigramStats(documents: DataFrame): DataFrame =
    documents
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("tf"))

  /** The order-free surprisal core — shared by the batch operator
    * (self-trained stats) and the streaming twin
    * ([[graft.streaming.DocPipelineJobs]]`.scoreStream`, frozen
    * stats), so the two cannot drift. Tokens outside the stats
    * vocabulary are not scored (inner join): n_tokens counts scored
    * tokens only.
    */
  private[graft] def surprisalScored(words: DataFrame, tf: DataFrame): DataFrame = {
    val stats = broadcast(
      tf.crossJoin(tf.agg(sum(col("tf")).as("n_total"))))
    words.join(stats, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum((log2(col("n_total").cast("double")) - log2(col("tf").cast("double")))
          .cast("decimal(28,12)")).as("sb"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("sb").cast("double") / col("n_tokens").cast("double"), 6)
          .as("avg_surprisal_bits"))
  }

  /** Bigram-LM surprisal with add-1 smoothing: train on the corpus's
    * own bigram counts, score each doc by average bits per bigram —
    * (1/m)·Σ log₂((c(w₁)+V)/(c(w₁w₂)+1)). The next step up the
    * LM-quality ladder from [[surprisal]]: context-sensitive, so
    * word salad scores high-bits even when its unigrams are common.
    * The whole model is self-consistent with the bigram table: the
    * history mass c(w₁)=Σ_w₂ c(w₁w₂) is a marginal of it, and V is
    * the LM's own vocabulary — distinct tokens across the w₁/w₂
    * marginals (every smoothed probability stays well-defined; a
    * token the model never saw in any bigram contributes nothing to
    * any score, so corpus-vs-marginal V differ only via
    * single-token documents, which score no bigrams either way).
    * That self-consistency is also the scale story: the corpus is
    * exploded into bigrams exactly ONCE (persisted — the batch
    * analog of materializing the training table; the round-6 audit
    * found the un-persisted shape paid three corpus explodes), the
    * distinct-bigram stats table is persisted too (vocabulary²-
    * bounded, read by the history marginal, the vocabulary scalar
    * and the model self-join), and everything downstream of the two
    * caches is model-sized except the scoring join + per-doc
    * aggregation. Unlike the unigram tf table the bigram model can
    * outgrow a broadcast at 100 TB, so the model join stays an
    * un-hinted equi-join on (w1, w2) — AQE picks broadcast while it
    * fits and shuffled-hash beyond. Bit costs are DECIMAL(28,12)
    * sums (associative ⇒ partitioning-independent), rounded to 6
    * decimals to absorb log₂ ulp differences across engines.
    */
  def bigramSurprisal(documents: DataFrame): DataFrame =
    // small-corpus floor (round 8): below it the persist + checkpoint
    // epilogue costs more than the ≤3 corpus re-explodes it avoids
    // (~0.45 s flat at sf0.1, measured) — take the direct un-cached
    // plan there; identical results either side (same oracle)
    if (Caching.smallInput(documents)) bigramSurprisalPlan(identity, documents)
    else Caching.materialized(bigramSurprisalPlan(_, documents))

  /** The un-materialized scoring plan — split out (package-private) so
    * PlanPinSpec can assert the one-corpus-explode shape before the
    * checkpoint truncates the lineage. `hold` caches the bigram frame
    * and then the stats table: a [[Caching.Held]] at scale, `identity`
    * on the small-corpus path.
    */
  private[graft] def bigramSurprisalPlan(hold: DataFrame => DataFrame,
      documents: DataFrame): DataFrame = {
    val bg = hold(bigrams(documents))
    val stats = hold(bigramStats(bg))
    val model = stats.join(
      stats.groupBy(col("w1")).agg(sum(col("c12")).as("c1")), Seq("w1"))
    val vocab = stats.select(col("w1").as("w"))
      .union(stats.select(col("w2").as("w")))
      .agg(countDistinct(col("w")).as("v"))
    bg.join(model, Seq("w1", "w2"))
      .crossJoin(broadcast(vocab))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum((log2(col("c1").cast("double") + col("v").cast("double"))
          - log2(col("c12").cast("double") + lit(1.0)))
          .cast("decimal(28,12)")).as("sb"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("sb").cast("double") / col("n_bigrams").cast("double"), 6)
          .as("avg_bigram_bits"))
      .orderBy(col("doc_id"))
  }

  /** Per-doc adjacent token pairs — a narrow map, no shuffle until
    * the model join. Pairing is `arrays_zip(slice(ws, 1, n-1),
    * slice(ws, 2, n-1))` — codegen'd builtins producing the exact
    * rows of the interpreted `transform(sequence(1, n-1), i ->
    * struct(ws[i], ws[i+1]))` lambda formulation (higher-order
    * functions never enter whole-stage codegen; spec-pinned twin).
    */
  private[graft] def bigrams(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(arrays_zip(
        expr("slice(ws, 1, size(ws) - 1)").as("w1"),
        expr("slice(ws, 2, size(ws) - 1)").as("w2"))).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))

  /** The interpreted lambda twin of [[bigrams]], kept as the spec's
    * parity oracle.
    */
  private[graft] def bigramsDeclarative(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(ws) - 1)," +
          " i -> struct(element_at(ws, i) AS w1, element_at(ws, i + 1) AS w2))"))
        .as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))

  /** The corpus bigram LM: per-pair counts — the frozen model a
    * batch trainer would hand to a streaming scorer.
    */
  private[graft] def bigramStats(bg: DataFrame): DataFrame =
    bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))

  def fingerprint(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftinternal.ColumnBridge.{column, expression}
    documents.select(col("doc_id"),
        column(graft.expressions.RollingFingerprint(expression(col("text")))).as("fp"))
      .orderBy(col("doc_id"))
  }

  /** The interpreted declarative twin of [[fingerprint]]'s custom
    * expression — kept (package-private) as the spec's parity oracle.
    */
  private[graft] def fingerprintDeclarative(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"),
        (expr("aggregate(split(text, ''), 0L," +
          " (acc, ch) -> pmod(acc * 1000003L + ascii(ch), 2147483647))") * lit(4294967296L)
          + expr("aggregate(split(text, ''), 0L," +
            " (acc, ch) -> pmod(acc * 1000003L + ascii(ch), 2147483629))")).as("fp"))
      .orderBy(col("doc_id"))
}
