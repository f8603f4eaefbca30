package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** Planted-duplicate tests: the synthetic corpus contains real near-dups
  * but these specs control ground truth exactly.
  */
class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog while the cat sleeps on the warm mat near the door"
  private val nearDup = base.replace("warm", "cold") // 1-word edit
  private val distinct1 =
    "spark engines shuffle partitions across executors and broadcast small dimension tables for joins"
  private val distinct2 =
    "language models train on deduplicated corpora filtered by quality classifiers and heuristics"

  private def docs(texts: (Long, String)*): DataFrame =
    texts.toDF("doc_id", "text")

  /** Runs `body`; returns it with every message the Dedup logger
    * emitted meanwhile at the session's level (WARN).
    */
  private def dedupLog[T](body: => T): (T, Seq[String]) = {
    val logger = LogManager.getLogger(Dedup.getClass.getName).asInstanceOf[Logger]
    val seen = new ConcurrentLinkedQueue[String]
    val appender = new AbstractAppender("dedup-spec", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    logger.addAppender(appender)
    try {
      val out = body
      (out, seen.asScala.toSeq)
    } finally {
      logger.removeAppender(appender)
      appender.stop()
    }
  }

  test("incremental dedup kills index hits, keeps one canonical per batch hash") {
    val d = docs(
      1L -> distinct1, // previous crawl: distinct1's hash is in the index
      2L -> base,
      250L -> distinct1, // re-crawled verbatim → killed by the stored index
      251L -> distinct2, 252L -> distinct2, // batch-internal pair → one survives
      253L -> nearDup, // near-dup of indexed base, but EXACT dedup: survives
      254L -> "too short") // fails the quality cut → never reaches dedup
    val out = Dedup.incrementalDedup(d).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(out.toSeq == Seq((251L, 2L), (253L, 1L)))
    // rebuild equivalence: survivors ∪ index hashes = full-pipeline hashes
    val full = graft.operators.TextOps.cleanPipeline(d.filter($"doc_id" =!= 254L))
      .collect().map(_.getString(1)).toSet
    val surv = Dedup.incrementalDedup(d).collect()
      .map(_.getString(1)).toSet
    val indexed = graft.operators.TextOps.cleanPipeline(
      d.filter($"doc_id" < Dedup.SeenSplitId)).collect().map(_.getString(1)).toSet
    assert(surv.union(indexed) == full)
    assert(surv.intersect(indexed).isEmpty)
  }

  test("exact dedup groups identical texts and keeps min doc_id") {
    val out = Dedup.exact(docs(1L -> base, 2L -> base, 3L -> distinct1)).collect()
    assert(out.length == 2)
    val dupGroup = out.find(_.getLong(1) == 2L).get
    assert(dupGroup.getLong(2) == 1L) // canonical = min doc_id
  }

  test("ngram jaccard finds the planted near-dup and not the distinct pair") {
    val out = Dedup.ngramJaccard(
      docs(1L -> base, 2L -> nearDup, 3L -> distinct1, 4L -> distinct2))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((1L, 2L)))
  }

  test("containment finds the quote-inclusion pair that symmetric jaccard misses") {
    // doc 2 embeds doc 1 verbatim inside a much longer text: containment
    // of the small side = 1.0 while jaccard stays far below the 0.5 cut
    val small = distinct1
    val big = base + " " + distinct1 + " " + distinct2 + " " + nearDup
    val corpus = docs(1L -> small, 2L -> big,
      3L -> "entirely unrelated prose about gardening tips and seasonal vegetable rotation schedules")
    val cont = Dedup.containmentPairs(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(5), r.getDouble(6)))
    assert(cont.map(t => (t._1, t._2)).toSeq == Seq((1L, 2L)))
    assert(cont.head._3 >= 0.9) // near-total containment of the small side
    assert(cont.head._4 < 0.5) // ...invisible to the symmetric threshold
    val jac = Dedup.ngramJaccard(corpus).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!jac.contains((1L, 2L))) // proves the pair is jaccard-invisible
  }

  test("prefix-probe containment generator finds the embedded doc that minhash banding misses") {
    // the at-scale blind spot the generator exists for: a small doc
    // embedded verbatim in a much larger one — C = 1.0 but J ≈ 0.15,
    // so every MinHash band of the pair almost surely differs
    val small = distinct1
    val big = base + " " + distinct1 + " " + distinct2 + " " + nearDup
    val corpus = docs(1L -> small, 2L -> big,
      3L -> "entirely unrelated prose about gardening tips and seasonal vegetable rotation schedules")
    val mh = Dedup.minhashLsh(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(!mh.contains((1L, 2L)),
      "fixture broken: symmetric banding was supposed to miss this pair")
    val found = Dedup.containmentPairsLsh(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(5)))
    assert(found.map(t => (t._1, t._2)).toSeq == Seq((1L, 2L)))
    assert(found.head._3 >= 0.9)
  }

  test("prefix-probe containment generator is lossless: identical rows to the count-join") {
    val corpus = docs(1L -> base, 2L -> nearDup, 3L -> distinct1, 4L -> distinct2,
      5L -> (distinct1 + " " + distinct2), 6L -> (base + " extra words here"),
      7L -> (base + " " + distinct1 + " " + distinct2))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    // exact-equality parity: the generator may only change the
    // candidate plan, never the verified pair set or scores
    val exact = rows(Dedup.containmentPairs(corpus))
    assert(exact.nonEmpty, "fixture degenerate: no containment pair")
    assert(rows(Dedup.containmentPairsLsh(corpus)) == exact)
  }

  test("mega-document guard: a 100k-shingle doc takes the explode fallback, identical output") {
    // one book-length outlier above MaxMergeArrayLen (2^16): its pairs
    // must verify through the explode-count fallback instead of hauling
    // a multi-MB array through the candidate joins — and the result
    // must equal the direct count-join exactly
    val rnd = new scala.util.Random(7)
    // >65536 DISTINCT shingles needs >65538 distinct-window words
    val bigWords = (0 until 70000).map(i => s"w${i}_${rnd.nextInt(3)}")
    val big = bigWords.mkString(" ")
    // a small doc fully contained in the big one (a verbatim slice)
    val small = bigWords.slice(1000, 1060).mkString(" ")
    val corpus = docs(1L -> small, 2L -> big, 3L -> distinct1)
    val viaLsh = Dedup.containmentPairsLsh(corpus).collect().map(_.toSeq).toSeq
    val direct = Dedup.containmentPairs(corpus).collect().map(_.toSeq).toSeq
    assert(viaLsh == direct)
    assert(viaLsh.map(r => (r(0), r(1))) == Seq((1L, 2L)))
    // fixture sanity: the outlier really is above the merge cap
    val s = Dedup.shingleFps(corpus.filter(corpus("doc_id") === 2L)).count()
    assert(s > Dedup.MaxMergeArrayLen, s"fixture too small: $s shingles")
  }

  test("mega-document guard on the banded path: oversized pair verifies via fallback, identical output") {
    // round 13: candVerifiedOnDocs decides from the per-doc sizes
    // whether the oversize guard apparatus is needed at all
    // (mayHaveOversized probe). This pins the TRUE branch end-to-end:
    // two near-identical docs above MaxMergeArrayLen must surface
    // through the banded path's explode-count fallback with output
    // exactly equal to the direct count-join — i.e. the probed fast
    // path never silently drops the guard when it IS needed.
    val rnd = new scala.util.Random(11)
    val bigWords = (0 until 70000).map(i => s"m${i}_${rnd.nextInt(3)}")
    val big = bigWords.mkString(" ")
    val bigNear = (bigWords.take(69000) ++ Seq("zzq", "yyq")).mkString(" ")
    val corpus = docs(1L -> big, 2L -> bigNear, 3L -> distinct1)
    val viaBanded = Dedup.jaccardLshVerified(corpus).collect().map(_.toSeq).toSeq
    val direct = Dedup.ngramJaccard(corpus).collect().map(_.toSeq).toSeq
    assert(viaBanded == direct)
    assert(viaBanded.map(r => (r(0), r(1))) == Seq((1L, 2L)))
    val sBig = Dedup.shingleFps(corpus.filter(corpus("doc_id") === 1L)).count()
    val sNear = Dedup.shingleFps(corpus.filter(corpus("doc_id") === 2L)).count()
    assert(sBig > Dedup.MaxMergeArrayLen && sNear > Dedup.MaxMergeArrayLen,
      s"fixture too small: $sBig / $sNear shingles")
  }

  test("mega-document guard on the stratified path: the probe's max(s) selects the fallback, identical output") {
    // the stratified generator takes its oversize decision from the
    // corpus probe's max(s), not from a probe job of its own: two
    // near-identical docs above MaxMergeArrayLen must still go through
    // the guard (its isEmpty probe runs inside pairIntersectionsOnArrays)
    // and verify exactly as the direct count-join does
    val rnd = new scala.util.Random(13)
    val bigWords = (0 until 70000).map(i => s"k${i}_${rnd.nextInt(3)}")
    val big = bigWords.mkString(" ")
    val bigNear = (bigWords.take(69000) ++ Seq("zzq", "yyq")).mkString(" ")
    val corpus = docs(1L -> big, 2L -> bigNear, 3L -> distinct1)
    val probe = Dedup.corpusProbe(Dedup.stratifiedPerDoc(corpus))
    assert(probe.maxS > Dedup.MaxMergeArrayLen, s"fixture too small: max(s) = ${probe.maxS}")
    val (strat, jobs) = TestSpark.jobsDuring(
      Dedup.containmentStratified(corpus).collect().map(_.toSeq).toSeq)
    val direct = Dedup.containmentPairs(corpus).collect().map(_.toSeq).toSeq
    assert(strat == direct)
    assert(strat.map(r => (r(0), r(1))) == Seq((1L, 2L)))
    assert(jobs.exists(_.contains("pairIntersectionsOnArrays")),
      s"no guard job ran:\n${jobs.mkString("\n--\n")}")
  }

  test("containment threshold cuts pairs below tau") {
    // distinct1 has 13 distinct words, so 11 shingles; each other doc
    // keeps a prefix of it and appends unrelated text. Kept shingles of
    // the 11: 5 (≈ 0.45), 8 (≈ 0.73) and 9 (≈ 0.82) — only the last
    // reaches the 0.8 cut.
    val w = distinct1.split(" ")
    def prefixPlus(nWords: Int, tail: String) = w.take(nWords).mkString(" ") + " " + tail
    val gardening =
      "entirely unrelated prose about gardening tips and seasonal vegetable rotation schedules"
    val corpus = docs(1L -> distinct1,
      2L -> prefixPlus(7, distinct2),
      3L -> prefixPlus(10, gardening),
      4L -> prefixPlus(11, base))
    val out = Dedup.containmentPairs(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(5)))
    assert(out.map(t => (t._1, t._2)).toSeq == Seq((1L, 4L)))
    assert(out.head._3 == 9L && out.head._4 == 0.818182)
  }

  test("PPJoin prefix variant computes exactly the same pairs as the count-join") {
    val corpus = docs(1L -> base, 2L -> nearDup, 3L -> distinct1, 4L -> distinct2,
      5L -> (distinct1 + " " + distinct2), 6L -> (base + " extra words here"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val exact = rows(Dedup.ngramJaccard(corpus))
    assert(exact.nonEmpty, "fixture degenerate: no Jaccard pair")
    assert(rows(Dedup.ngramJaccardPrefix(corpus)) == exact)
  }

  test("minhash LSH surfaces the planted near-dup with high estimated jaccard") {
    val out = Dedup.minhashLsh(
      docs(1L -> base, 2L -> nearDup, 3L -> distinct1, 4L -> distinct2))
      .collect()
    val pair = out.find(r => r.getLong(0) == 1L && r.getLong(1) == 2L)
    assert(pair.isDefined, "planted near-dup not found by LSH")
    assert(pair.get.getDouble(2) > 0.5)
    assert(!out.exists(r => r.getLong(0) == 3L || r.getLong(1) == 3L))
  }

  test("simhash hamming distance is small for near-dups, large for distinct docs") {
    // a 1-word edit in a 20-word doc flips thin-majority bits past
    // hamming 3 (that is what simhash measures) — the planted
    // near-dup pair uses a 60-word doc where the relative edit is
    // small enough to stay within the pigeonhole threshold
    val big = Seq(base, base, base).mkString(" ")
    val bigNear = big.replaceFirst("warm", "cold")
    val sigs = Dedup.simhashSignatures(
      docs(1L -> big, 2L -> bigNear, 3L -> distinct1))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(1L), sigs(2L)) < ham(sigs(1L), sigs(3L)))
    val pairs = Dedup.simhashNearDup(docs(1L -> big, 2L -> bigNear, 3L -> distinct1))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 2L)))
  }

  test("fused shingle fingerprints equal the declarative split+fold twin") {
    import org.apache.spark.sql.functions.col
    val d = Seq(
      1L -> base,
      2L -> "a b",                         // < 3 words → no shingles
      3L -> "x  y z  ",                    // empty tokens, trailing space
      4L -> "héllo wörld ünïcode ünïcode wörld héllo wörld",
      5L -> "a a a a a",                   // duplicate shingles collapse
      6L -> "")                            // empty text
      .toDF("doc_id", "text")
    val fused = Dedup.shingleFps(d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val twin = Dedup.shingles(d)
      .select(col("doc_id"), Dedup.tokenHash62(col("g")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fused == twin)
    assert(fused.nonEmpty && !fused.exists(_._1 == 2L) && !fused.exists(_._1 == 6L))
  }

  test("url dedup canonicalizes scheme/host case, ports, fragments and tracking params") {
    val d = (0L until 100L).map(i => (i, s"text $i")).toDF("doc_id", "text")
    val out = Dedup.urlDedup(d).collect()
    val canons = out.map(_.getString(0))
    assert(canons.forall(u => !u.contains("utm_") && !u.contains("ref=") &&
      !u.contains("#") && !u.contains(":80") && !u.contains(":443") &&
      u == u.toLowerCase))
    // over 0..99 the canonical form is a pure function of doc_id % 50
    // (scheme %2 and id %25 are implied) → 50 groups of exactly {i, i+50}
    assert(out.length == 50)
    assert(out.forall(_.getLong(1) == 2L))
    assert(out.forall(r => r.getLong(2) < 50L)) // canonical = min doc_id
  }

  test("bloom filter flags every shingle of a previously-seen text, none of a novel one") {
    val seen = (0L until 6L).map(i =>
      (i, s"alpha bravo charlie delta echo foxtrot golf item$i hotel india"))
    // doc_id < Dedup.SeenSplitId is the seen shard; 250 and 251 probe it
    val corpus = (seen :+ (250L -> seen(1)._2) :+
      (251L -> "totally different words never appearing anywhere in that other shard"))
      .toDF("doc_id", "text")
    val out = Dedup.bloomShingleFilter(corpus).collect()
    val m = out.map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(m(250L)._1 == m(250L)._2, "exact copy of a seen doc: no false negatives")
    assert(m(251L)._2 == 0L, "novel text should not hit (FP odds ~1e-12 at this fill)")
    assert(m.keySet == Set(250L, 251L), "the seen shard itself is not probed")
  }

  test("embedding near-dup finds planted almost-identical vectors via LSH buckets") {
    val v = Array.tabulate(64)(i => math.sin(i + 1).toFloat)
    val vDup = v.clone(); vDup(0) = (v(0) + 1e-4f)
    val vFar = Array.tabulate(64)(i => math.cos(3 * i + 2).toFloat)
    val emb = Seq((1L, v.toSeq, 0), (2L, vDup.toSeq, 0), (3L, vFar.toSeq, 1))
      .toDF("vec_id", "embedding", "label")
    val out = Dedup.embedNearDup(emb).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
    assert(out.head.getDouble(2) > 0.999)
  }

  test("connected components labels every doc with the min reachable id through pairs") {
    // clusters: {1,2,3} via chain edges, {5,6}; 4 and 7 are singletons
    val docsDf = (1L to 7L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc1", "doc2")
    val got = Dedup.connectedComponents(docsDf, pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq(
      (1L, 1L, 1L), (2L, 1L, 0L), (3L, 1L, 0L), (4L, 4L, 1L),
      (5L, 5L, 1L), (6L, 5L, 0L), (7L, 7L, 1L)))
  }

  test("connected components converges on a long chain (diameter > 2 rounds)") {
    // path 10-11-12-...-19: min label must traverse the whole chain;
    // an edge cap of 0 forces the DISTRIBUTED min-label loop
    val docsDf = (10L to 19L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = (10L until 19L).map(i => (i, i + 1)).toDF("doc1", "doc2")
    val got = Dedup.connectedComponentsCapped(docsDf, pairs, maxDriverEdges = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((10L to 19L).forall(got(_) == 10L))
  }

  test("canonicalize keeps the longest member per component, smallest id on ties") {
    val docsDf = Seq(
      (1L, "a", 10L), (2L, "b", 30L), (3L, "c", 30L), // component 1: 3 wins? no — 2 and 3 tie at 30, keep 2
      (4L, "d", 5L), // singleton keeps itself
      (5L, "e", 1L), (6L, "f", 2L) // component 5: 6 is longer
    ).toDF("doc_id", "text", "n_chars")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc1", "doc2")
    val got = Dedup.canonicalize(docsDf, pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == Seq(
      (1L, 1L, 3L, 0L), (2L, 1L, 3L, 1L), (3L, 1L, 3L, 0L),
      (4L, 4L, 1L, 1L),
      (5L, 5L, 2L, 0L), (6L, 5L, 2L, 1L)))
    // exactly one keeper per component
    got.groupBy(_._2).foreach { case (_, g) => assert(g.count(_._4 == 1L) == 1) }
  }

  test("soft dedup weights each copy 1/|cluster| and clusters sum to one") {
    val docsDf = Seq(
      (1L, "a"), (2L, "b"), (3L, "c"), // one 3-member cluster
      (4L, "d"), // singleton
      (5L, "e"), (6L, "f") // one pair
    ).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc1", "doc2")
    val got = Dedup.softDedupWeights(docsDf, pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == Seq(
      (1L, 1L, 3L, 0.333333), (2L, 1L, 3L, 0.333333), (3L, 1L, 3L, 0.333333),
      (4L, 4L, 1L, 1.0),
      (5L, 5L, 2L, 0.5), (6L, 5L, 2L, 0.5)))
    got.groupBy(_._2).foreach { case (_, g) =>
      assert(math.abs(g.map(_._4).sum - 1.0) < 1e-5) }
  }

  test("every Dedup operator and phashPairs* give a declared result on degenerate inputs") {
    import org.apache.spark.sql.functions.{coalesce, col, length, lit}
    import graft.operators.Multimodal
    // 13 words, 11 distinct shingles, passes the clean filter
    val text = "the quick brown fox jumps over the lazy dog while the cat sleeps"
    def docsOf(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
      .withColumn("n_chars", coalesce(length(col("text")).cast("long"), lit(0L)))
    // 300 copies: ids 0..249 are the seen shard and 20..299 the train
    // side, so both halves of every id split are populated
    val inputs = Seq(
      "empty" -> docsOf(Seq.empty),
      "one row" -> docsOf(Seq(0L -> text)),
      "all-null text" -> docsOf((0L until 3L).map(i => i -> (null: String))),
      "300 identical" -> docsOf((0L until 300L).map(i => i -> text)))
    val vec = Array.tabulate(64)(i => math.sin(i + 1.0).toFloat).toSeq
    def embOf(rows: Seq[(Long, Seq[Float])]) = rows.toDF("vec_id", "embedding")
    val embInputs = Seq(
      embOf(Seq.empty), embOf(Seq(0L -> vec)),
      embOf((0L until 3L).map(i => i -> (null: Seq[Float]))),
      embOf((0L until 300L).map(i => i -> vec)))
    def hashes(d: DataFrame) =
      Dedup.simhashSignatures(d).select(col("doc_id"), col("sim").as("phash"))
    val allPairs = 300L * 299 / 2
    // per input (empty, one row, all-null text, 300 identical): the
    // result's row count, or the strategy the probe picks
    val cases: Seq[(String, DataFrame => Any, Seq[Any])] = Seq(
      ("shingles", d => Dedup.shingles(d), Seq(0L, 11L, 0L, 3300L)),
      ("incrementalDedup", d => Dedup.incrementalDedup(d), Seq(0L, 0L, 0L, 0L)),
      ("exact", d => Dedup.exact(d), Seq(0L, 1L, 1L, 1L)),
      ("ngramJaccard", d => Dedup.ngramJaccard(d), Seq(0L, 0L, 0L, allPairs)),
      ("ngramJaccardPrefix", d => Dedup.ngramJaccardPrefix(d), Seq(0L, 0L, 0L, allPairs)),
      ("jaccardStrategy", d => Dedup.jaccardStrategy(d), Seq("count", "prefix", "count", "lsh")),
      ("ngramJaccardAdaptive", d => Dedup.ngramJaccardAdaptive(d), Seq(0L, 0L, 0L, allPairs)),
      ("jaccardLshVerified", d => Dedup.jaccardLshVerified(d), Seq(0L, 0L, 0L, allPairs)),
      ("containmentPairs", d => Dedup.containmentPairs(d), Seq(0L, 0L, 0L, allPairs)),
      ("containmentPairsLsh", d => Dedup.containmentPairsLsh(d), Seq(0L, 0L, 0L, allPairs)),
      // copies read as background similarity 1: every stratified arm
      // drops (logged below) and no candidate is emitted
      ("containmentStratified", d => Dedup.containmentStratified(d), Seq(0L, 0L, 0L, 0L)),
      ("containmentAuto", d => Dedup.containmentAuto(d), Seq(0L, 0L, 0L, 0L)),
      ("contamination", d => Dedup.contamination(d), Seq(0L, 0L, 0L, 20L * 280)),
      ("minhashSignatures", d => Dedup.minhashSignatures(d), Seq(0L, 1L, 0L, 300L)),
      ("minhashLsh", d => Dedup.minhashLsh(d), Seq(0L, 0L, 0L, allPairs)),
      ("minhashEstEval", d => Dedup.minhashEstEval(d), Seq(0L, 0L, 0L, allPairs)),
      ("urlDedup", d => Dedup.urlDedup(d), Seq(0L, 1L, 3L, 50L)),
      ("bloomShingleFilter", d => Dedup.bloomShingleFilter(d), Seq(0L, 0L, 0L, 50L)),
      ("connectedComponents",
        d => Dedup.connectedComponents(d, Dedup.ngramJaccard(d)), Seq(0L, 1L, 3L, 300L)),
      ("canonicalize", d => Dedup.canonicalize(d, Dedup.ngramJaccard(d)), Seq(0L, 1L, 3L, 300L)),
      ("softDedupWeights",
        d => Dedup.softDedupWeights(d, Dedup.ngramJaccard(d)), Seq(0L, 1L, 3L, 300L)),
      ("simhashSignatures", d => Dedup.simhashSignatures(d), Seq(0L, 1L, 0L, 300L)),
      ("simhashNearDup", d => Dedup.simhashNearDup(d), Seq(0L, 0L, 0L, allPairs)),
      ("dupSpans", d => Dedup.dupSpans(d), Seq(0L, 1L, 3L, 300L)),
      ("phashPairs", d => Multimodal.phashPairs(hashes(d)), Seq(0L, 0L, 0L, allPairs)),
      ("phashPairsMih", d => Multimodal.phashPairsMih(hashes(d)), Seq(0L, 0L, 0L, allPairs)),
      ("phashPairsAuto", d => Multimodal.phashPairsAuto(hashes(d)), Seq(0L, 0L, 0L, allPairs)))
    def outcome(run: => Any): Any = try run match {
      case df: DataFrame => df.count()
      case other => other
    } catch { case e: Throwable => s"${e.getClass.getSimpleName}: ${e.getMessage}" }
    val (got, log) = dedupLog(cases.flatMap { case (name, op, want) =>
      inputs.map(_._2).zip(want).zip(inputs.map(_._1)).map { case ((d, w), input) =>
        (name, input, w, outcome(op(d))) }
    } ++ embInputs.zip(Seq(0L, 0L, 0L, allPairs)).zip(inputs.map(_._1)).map {
      case ((e, w), input) => ("embedNearDup", input, w, outcome(Dedup.embedNearDup(e))) })
    assert(log.count(_.contains("ALL arms dropped")) == 2, log.mkString("\n"))
    val wrong = got.filter { case (_, _, w, g) => w != g }
    assert(wrong.isEmpty, wrong.map { case (n, i, w, g) => s"$n on $i: want $w, got $g" }
      .mkString("\n", "\n", ""))
  }

  test("workflow latency and minhash eval are total on empty input") {
    val noEvents = Seq.empty[(Long, java.sql.Timestamp, Long, String, String)]
      .toDF("event_id", "ts", "user_id", "event_type", "props")
    assert(graft.operators.EventOps.workflowLatency(noEvents).collect().isEmpty)
    val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.minhashEstEval(noDocs).collect().isEmpty)
  }

  test("minhash accuracy harness reports exact jaccard and honest error per candidate") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val variantTail = (1 to 6).map(i => s"alt$i").mkString(" ")
    val d = Seq((1L, base), (2L, s"$base $variantTail"),
      (3L, "totally different words in every position here now")).toDF("doc_id", "text")
    val out = Dedup.minhashEstEval(d).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    val (est, exact, err) = out((1L, 2L))
    // doc1 shingles: 38; doc2 adds 1 bridging + 6 tail trigrams + shares 38
    def sh(t: String) = t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val trueJ = sh(base).intersect(sh(s"$base $variantTail")).size.toDouble /
      sh(base).union(sh(s"$base $variantTail")).size
    assert(math.abs(exact - trueJ) < 1e-6)
    assert(err == math.round(math.abs(est - exact) * 1e6) / 1e6)
    assert(math.abs(est - exact) < 0.2) // 128-perm estimate is in the zone
    assert(!out.keySet.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("semantic canon clusters planted identical embeddings, rest stay singleton") {
    val a = Array.tabulate(64)(i => math.sin(i * 0.5 + 1).toFloat).toSeq
    val far = (4 to 10).map(j =>
      (j.toLong, Array.tabulate(64)(i => math.cos(i * (j + 1) * 0.77).toFloat).toSeq, 1))
    val emb = ((1L, a, 0) +: (2L, a, 0) +: (3L, a, 0) +: far)
      .toDF("vec_id", "embedding", "label")
    val comps = Dedup.connectedComponents(
      emb.selectExpr("vec_id AS doc_id"),
      Dedup.embedNearDup(emb).selectExpr("id1 AS doc1", "id2 AS doc2"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // the three copies collapse to component 1 with one canonical
    assert(comps.filter(t => Set(1L, 2L, 3L).contains(t._1)).map(_._2).toSet == Set(1L))
    assert(comps.count(_._3 == 1L) == 1 + far.size)
  }

  test("distributed CC resolves a path graph far longer than the round budget") {
    // a 300-edge path is the adversarial case for plain neighbor-min
    // propagation (needs 300 rounds > Dedup's 50-round budget); the pointer-jump
    // shortcut must close it in ~log2(300) rounds. Both paths must
    // also agree exactly.
    val n = 300L
    val docsDf = (0L to n).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = (0L until n).map(i => (i, i + 1)).toDF("doc1", "doc2")
    val dist = Dedup.connectedComponentsCapped(docsDf, pairs, maxDriverEdges = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(dist.forall(_._2 == 0L))
    val driver = Dedup.connectedComponents(docsDf, pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(dist == driver)
  }

  test("driver union-find fast path equals the distributed label loop") {
    val rnd = new scala.util.Random(13)
    val docsDf = (0L to 60L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val edges = (1 to 50).map(_ => (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val pairs = edges.toDF("doc1", "doc2")
    def run(cap: Int) = Dedup.connectedComponentsCapped(docsDf, pairs, maxDriverEdges = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(run(1 << 20) == run(0))
  }

  test("adaptive jaccard picks prefix on long-tail vocab, count-join on moderate density") {
    // long-tail: every doc is built from its own unique words, so
    // every shingle is df=1 (singleton mass = 1.0)
    val longTail = (1L to 20L).map(i =>
      (i, (0 until 8).map(j => s"w${i}_$j").mkString(" "))).toDF("doc_id", "text")
    assert(Dedup.jaccardStrategy(longTail) == "prefix")
    // moderate: docs from a 30-word rotation — shingles repeat across
    // docs (no singleton mass) but df stays small, so the count-join's
    // candidate mass per occurrence sits under the dense cutover
    val moderate = (1L to 20L).map(i =>
      (i, (0 until 8).map(j => s"v${(i + j) % 30}").mkString(" "))).toDF("doc_id", "text")
    assert(Dedup.jaccardStrategy(moderate) == "count")
    // the switch is a pure cost decision: both strategies agree
    val viaAdaptive = Dedup.ngramJaccardAdaptive(moderate).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val viaCount = Dedup.ngramJaccard(moderate).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(viaAdaptive == viaCount)
  }

  test("adaptive jaccard dispatches a dense corpus to LSH-verified with identical pairs") {
    // dense: all docs drawn from the same 5-word rotation — only 5
    // distinct shingle types, so the count-join's candidate mass per
    // occurrence (~9.5) exceeds the dense cutover (6.0); every doc
    // holds the same 5 distinct shingles, so all pairs sit at J = 1.0
    // and banded candidates recall every one
    val dense = (1L to 20L).map(i =>
      (i, (0 until 8).map(j => s"v${(i + j) % 5}").mkString(" "))).toDF("doc_id", "text")
    assert(Dedup.jaccardStrategy(dense) == "lsh")
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSeq
    assert(rows(Dedup.ngramJaccardAdaptive(dense)) == rows(Dedup.ngramJaccard(dense)))
  }

  test("LSH-verified jaccard equals the exact count-join on high-J near-dups") {
    // true pairs at J = 18/19 ≈ 0.947 (one appended word) — banded
    // recall there is 1 − 4·10⁻⁷ per pair, and the fixed seeded
    // permutations make the outcome deterministic; unrelated docs sit
    // at J ≈ 0, far below any band collision
    val corpus = docs(1L -> base, 2L -> (base + " indeed"),
      3L -> distinct1, 4L -> (distinct1 + " truly"), 5L -> distinct2)
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSeq
    val exact = rows(Dedup.ngramJaccard(corpus))
    assert(exact.map(r => (r(0), r(1))) == Seq((1L, 2L), (3L, 4L)))
    // verification is exact: scores carried through unchanged too
    assert(rows(Dedup.jaccardLshVerified(corpus)) == exact)
  }

  test("containment auto finds the embedded doc on a long-tail corpus") {
    // a high-containment / low-Jaccard pair: small doc verbatim inside
    // a big one
    val small = distinct1
    val big = base + " " + distinct1 + " " + distinct2 + " " + nearDup
    val corpus = docs(1L -> small, 2L -> big,
      3L -> "entirely unrelated prose about gardening tips and seasonal vegetable rotation schedules")
    // this corpus is long-tail (every shingle rare), so the dispatcher
    // picks the lossless prefix generator and finds the pair
    val auto = Dedup.containmentAuto(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(auto.toSeq == Seq((1L, 2L)))
  }

  test("containment auto equals the exact count-join where duplication is size-bounded") {
    // dense 5-word rotation: every pair J = 1.0 (bounded size ratio) —
    // the regime containmentAuto dispatches to banding in
    val dense = (1L to 12L).map(i =>
      (i, (0 until 8).map(j => s"v${(i + j) % 5}").mkString(" "))).toDF("doc_id", "text")
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSeq
    val exact = rows(Dedup.containmentPairs(dense))
    assert(rows(Dedup.containmentAuto(dense)) == exact)
  }

  test("embed LSH geometry scales bits with the corpus, fixed below 48k") {
    // ≤ 12·2^12 vectors: the original 8×12 — every oracled scale
    // (sf0.01 = 500, sf0.1 = 2 000, generated sf1 = 20 000) sits here,
    // so the plane-literal oracles never move
    assert(Dedup.embedLshParams(500) == (8, 12))
    assert(Dedup.embedLshParams(20000) == (8, 12))
    assert(Dedup.embedLshParams(12L << 12) == ((8, 12)))
    // beyond: expected bucket occupancy n/2^bits stays ~3, so
    // worst-case (isotropic) candidates stay linear in n (the sf10
    // audit measured the fixed-bucket shape at 15.4× for 10× data)
    assert(Dedup.embedLshParams((12L << 12) + 1) == ((16, 15)))
    assert(Dedup.embedLshParams(200000) == ((16, 17)))
    // sf10's committed geometry is reproduced exactly by the recall
    // formula (the round-7 artifact stays comparable)...
    assert(Dedup.embedLshParams(500000) == ((16, 18)))
    // ...and the old hard 18-bit cap is GONE: at sf100 it meant
    // occupancy 19 and a ~730 M-row candidate join (measured filling
    // the bench disk, round 10) — tables now scale with bits to hold
    // recall@0.95 ≥ 92% instead of capping bits to hold recall
    assert(Dedup.embedLshParams(5000000L) == ((23, 21)))
    val (t, b) = Dedup.embedLshParams(100000000L)
    assert((t, b) == ((35, 25))) // occupancy ~3 even at 10⁸ vectors
    // bucket planes may never reach the verification sketch's
    // reserved range [896, 1024) — an enforced invariant (auto search
    // capped + require on the explicit path), not a coincidence
    assert(t * b <= Dedup.SketchPlaneOffset)
    assert(Dedup.SketchPlaneOffset == 896)
    // the verification sketch cut: 128·acos(τ)/π + 4.5σ — τ = 0.95
    // pairs show ≤ 29 of 128 mismatched sign bits (random pairs
    // center at 64), and the cut relaxes as τ loosens
    assert(Dedup.sketchMismatchCut(0.95) == 29)
    assert(Dedup.sketchMismatchCut(1.0) == 0)
    assert(Dedup.sketchMismatchCut(0.8) > Dedup.sketchMismatchCut(0.95))
  }

  test("contamination flags the train doc that embeds an eval doc, not unrelated docs") {
    // eval doc 1 (doc_id < Dedup.ContaminationEvalIds) is wholly
    // contained in train doc 20 (tail appended); train doc 21 shares
    // nothing
    val docsDf = Seq(
      (1L, base),
      (20L, base + " " + distinct1),
      (21L, distinct2)).toDF("doc_id", "text")
    val got = Dedup.contamination(docsDf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 20L)))
    // full containment: inter == s_eval for that pair
    val row = Dedup.contamination(docsDf).collect().head
    assert(row.getLong(2) == row.getLong(3))
  }

  test("per-row minhash signature equals the declarative 128-min-column reference") {
    val rnd = new scala.util.Random(2468)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val docsDf = (1L to 20L).map(i =>
      (i, Seq.fill(8 + rnd.nextInt(30))(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
      .toDF("doc_id", "text")
    val perRow = Dedup.minhashSignatures(docsDf).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val declarative = Dedup.minhashSignaturesDeclarative(docsDf).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(perRow.keySet == declarative.keySet)
    perRow.keySet.foreach(id => assert(perRow(id) == declarative(id), s"doc $id"))
  }

  test("per-row minhash signature equals the declarative reference on edge docs") {
    // duplicate shingles (min is duplicate-insensitive), consecutive
    // spaces (split keeps empty tokens), a non-BMP code point, an
    // all-identical group, and short or NULL docs that must be ABSENT
    // (the expression NULLs, the reference simply has no group)
    val docsDf = Seq(
      (1L, base),
      (2L, base + " " + base), // heavy shingle duplication
      (3L, "a  b c"),          // empty token from the double space
      (4L, "emoji 😃 tail words here"),
      (5L, "two words"),       // < 3 words: absent from both
      (6L, ""),                // empty text: absent from both
      (7L, "x y z"),
      (8L, null: String),      // NULL text: absent from both
      (9L, distinct1), (10L, distinct1), (11L, distinct1)) // identical docs
      .toDF("doc_id", "text")
    val perRow = Dedup.minhashSignatures(docsDf).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val declarative = Dedup.minhashSignaturesDeclarative(docsDf).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(perRow.keySet == declarative.keySet)
    assert(perRow.keySet == Set(1L, 2L, 3L, 4L, 7L, 9L, 10L, 11L))
    perRow.keySet.foreach(id => assert(perRow(id) == declarative(id), s"doc $id"))
    assert(perRow(9L) == perRow(10L) && perRow(10L) == perRow(11L))
  }

  test("graft_band_hashes equals the interpreted transform+aggregate fold") {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.graftinternal.ColumnBridge.{column, expression}
    val sigs = Dedup.minhashSignatures(docs(1L -> base, 2L -> (base + " tail")))
    val both = sigs.select(
      column(graft.expressions.BandHashes(expression(col("mh")), 8, 16)).as("fused"),
      expr("transform(sequence(0, 15), b -> aggregate(slice(mh, b * 8 + 1, 8), 0L," +
        " (acc, x) -> pmod(acc * 1000003 + x, 2147483647)))").as("interp"))
      .collect()
    both.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
    // null propagation: a null element nulls its band only; a
    // too-short signature nulls the bands past the end
    val edge = spark.sql(
      "SELECT array(1L, 2L, CAST(NULL AS BIGINT), 4L) AS a, array(1L, 2L, 3L) AS b")
    val e = edge.select(
      column(graft.expressions.BandHashes(expression(col("a")), 2, 2)).as("fa"),
      expr("transform(sequence(0, 1), b -> aggregate(slice(a, b * 2 + 1, 2), 0L," +
        " (acc, x) -> pmod(acc * 1000003 + x, 2147483647)))").as("ia"),
      column(graft.expressions.BandHashes(expression(col("b")), 2, 2)).as("fb"))
      .collect().head
    assert(e.getSeq[Any](0) == e.getSeq[Any](1)) // (hash, null) both ways
    assert(e.getSeq[Any](0)(1) == null)
    assert(e.getSeq[Any](2)(1) == null) // short signature: tail band null
  }

  test("per-row simhash signature equals the declarative 64-sum reference") {
    val rnd = new scala.util.Random(1357)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val docsDf = (1L to 20L).map(i =>
      (i, Seq.fill(3 + rnd.nextInt(40))(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
      .toDF("doc_id", "text")
    val perRow = Dedup.simhashSignatures(docsDf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val declarative = Dedup.simhashSignaturesDeclarative(docsDf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perRow == declarative)
  }

  test("per-row simhash signature equals the declarative reference on split edge cases") {
    val rnd = new scala.util.Random(8642)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val random = (1L to 20L).map(i =>
      (i, Seq.fill(3 + rnd.nextInt(40))(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
    // split(text, ' ') limit -1 semantics the per-row scan must
    // reproduce: empty string -> one empty token; consecutive spaces
    // -> empty tokens between; trailing space -> trailing empty
    // token; non-ASCII incl. an astral (surrogate-pair) code point;
    // NULL text (no row on either side) and an all-identical group
    val edges = Seq(
      (100L, ""), (101L, " "), (102L, "a  b"), (103L, "a b "),
      (104L, " a"), (105L, "über café"), (106L, "x😀y z"),
      (107L, "single"), (108L, null: String),
      (109L, distinct2), (110L, distinct2), (111L, distinct2))
    val docsDf = (random ++ edges).toDF("doc_id", "text")
    val perRow = Dedup.simhashSignatures(docsDf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val declarative = Dedup.simhashSignaturesDeclarative(docsDf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perRow == declarative)
    assert(perRow.keySet == (1L to 20L).toSet ++ (100L to 107L) ++ (109L to 111L))
    assert(perRow(109L) == perRow(110L) && perRow(110L) == perRow(111L))
  }

  test("minhash signatures are 128 wide and deterministic across plans") {
    val a = Dedup.minhashSignatures(docs(1L -> base)).collect().head.getSeq[Long](1)
    val b = Dedup.minhashSignatures(docs(1L -> base)).collect().head.getSeq[Long](1)
    assert(a.length == 128 && a == b)
  }

  test("graft_match_count equals the interpreted zip_with fold") {
    val out = spark.sql(
      """SELECT graft_match_count(a, b) AS m,
        |  aggregate(zip_with(a, b, (x, y) -> if(x = y, 1L, 0L)), 0L,
        |            (acc, v) -> acc + v) AS f
        |FROM VALUES (array(1L, 2L, 3L, 4L), array(1L, 9L, 3L, 0L)) AS t(a, b)
        |""".stripMargin).collect().head
    assert(out.getLong(0) == 2L && out.getLong(1) == 2L)
  }

  test("graft_sorted_intersect equals array_intersect cardinality, null-propagating") {
    val out = spark.sql(
      """SELECT
        |  graft_sorted_intersect(array(1L, 3L, 5L, 9L), array(2L, 3L, 9L, 11L)) AS i1,
        |  CAST(size(array_intersect(array(1L, 3L, 5L, 9L), array(2L, 3L, 9L, 11L))) AS BIGINT) AS s1,
        |  graft_sorted_intersect(array(1L, 2L), array(7L, 8L, 9L)) AS i2,
        |  graft_sorted_intersect(CAST(array() AS ARRAY<BIGINT>), array(1L)) AS i3,
        |  graft_sorted_intersect(array(1L, CAST(NULL AS BIGINT)), array(1L, 2L)) AS i4
        |""".stripMargin).collect().head
    assert(out.getLong(0) == 2L && out.getLong(1) == 2L)
    assert(out.getLong(2) == 0L && out.getLong(3) == 0L)
    assert(out.isNullAt(4)) // a null element poisons, like SQL set ops on unknowns
    // randomized parity vs the built-in (interpreted) set intersect,
    // through real shuffled data so codegen is exercised
    val rnd = new scala.util.Random(4242)
    import spark.implicits._
    val rows = (1 to 200).map { i =>
      def arr() = rnd.shuffle((0L to 60L).toList).take(rnd.nextInt(40)).distinct.sorted
      (i, arr(), arr())
    }
    val df = rows.toDF("id", "a", "b")
    val got = df.selectExpr("id", "graft_sorted_intersect(a, b) AS g",
        "CAST(size(array_intersect(a, b)) AS BIGINT) AS e")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    got.foreach { case (id, g, e) => assert(g == e, s"row $id: $g != $e") }
  }

  test("dup spans count tokens covered by cross-document 3-grams") {
    val d = docs(
      (1L, "a b c d e"),   // shares "a b c" with doc 2 -> tokens 1-3
      (2L, "x a b c y"),   // gram at pos 2 -> tokens 2-4
      (3L, "q r s t"),     // nothing shared
      (4L, "p q a b c d"), // shares "a b c"+"b c d" w/ 1 -> union 3-6
      (5L, "hi"))          // too short for any gram
    val got = Dedup.dupSpans(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got(1L) == (5L, 4L, 80L)) // "a b c"+"b c d" cover 1-4
    assert(got(2L) == (5L, 3L, 60L))
    assert(got(3L) == (4L, 0L, 0L))
    assert(got(4L) == (6L, 4L, 66L)) // positions 3-6, 4*100 div 6
    assert(got(5L) == (1L, 0L, 0L))
  }

  test("dup spans interval-union edges: every gap class and repeated grams") {
    // the coverage pass computes |∪[pos, pos+2]| as 3 + Σ min(3, gap)
    // over sorted dup positions — pin each gap regime against the
    // hand-counted union
    val d = docs(
      // L dup positions {1, 3}: gap 2 → 3 + 2 = 5 covered (all 5)
      (1L, "d1 d2 d3 d4 d5"),
      // M shares "d1 d2 d3" + "d3 d4 d5" but NOT "d2 d3 d4";
      // dup positions {1, 5}: gap 4 → 3 + 3 = 6 of 7
      (2L, "d3 d4 d5 qq d1 d2 d3"),
      // J dup positions {1, 4}: gap 3 (adjacent intervals) → 6 of 6
      (3L, "c1 c2 c3 c2 c3 c4"),
      // K shares both of J's grams at {1, 5}: gap 4 → 6 of 8
      (4L, "c1 c2 c3 zz c2 c3 c4 yy"),
      // H carries the SAME shared gram twice ({1, 5}: gap 4 → 6 of 7)
      (5L, "u v w x u v w"),
      (6L, "u v w"))
    val got = Dedup.dupSpans(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got(1L) == (5L, 5L, 100L))
    assert(got(2L) == (7L, 6L, 85L))
    assert(got(3L) == (6L, 6L, 100L))
    assert(got(4L) == (8L, 6L, 75L))
    assert(got(5L) == (7L, 6L, 85L))
    assert(got(6L) == (3L, 3L, 100L))
  }

  test("text expressions are registered as SQL functions by the extension") {
    val r = spark.sql(
      """SELECT graft_fingerprint('abc') AS fp,
        |  size(graft_shingle_fps('a b c d')) AS n_shingles,
        |  graft_char_entropy('aab').distinct_chars AS dc,
        |  graft_char_entropy('aab').n_chars AS nc
        |""".stripMargin).collect().head
    // same values the Column-API surfaces compute
    import spark.implicits._
    val viaOp = graft.operators.TextOps.fingerprint(
      Seq((1L, "abc")).toDF("doc_id", "text")).collect().head.getLong(1)
    assert(r.getLong(0) == viaOp)
    assert(r.getInt(1) == 2)  // "a b c", "b c d"
    assert(r.getLong(2) == 2L && r.getLong(3) == 3L)
  }

  test("graft_match_count and graft_dot propagate NULL like the fold") {
    // null element or length mismatch → NULL (zip_with null-pads)
    val out = spark.sql(
      """SELECT
        |  graft_match_count(array(1L, CAST(NULL AS BIGINT)), array(1L, 0L)) AS m1,
        |  graft_match_count(array(1L, 2L), array(1L)) AS m2,
        |  graft_dot(array(1.0D, CAST(NULL AS DOUBLE)), array(1.0D, 5.0D)) AS d1,
        |  graft_dot(array(1.0D, 2.0D), array(1.0D)) AS d2
        |""".stripMargin).collect().head
    assert(out.isNullAt(0) && out.isNullAt(1) && out.isNullAt(2) && out.isNullAt(3))
  }

  test("stratified arm geometry: recall-first pick, background guard, honest drop") {
    // pure driver arithmetic — the selection rules pinned without a corpus
    val free = Dedup.stratifiedArms(0.8, 5, 64, jBg = 1e-9,
      pairsAtGap = _ => 1.0, candBudget = 1e18)
    // g=0: J* = 0.8/2.2 — r=3 would need 63 bands > 128/3, so (r=2, b=23)
    val a0 = free(0).toOption.get
    assert((a0.r, a0.b) == (2, 23) && a0.recall > 0.95)
    // g=3: J* ≈ 0.049 — only r=1 fits at 95%: (1, 61)
    val a3 = free(3).toOption.get
    assert((a3.r, a3.b) == (1, 61) && a3.recall > 0.95)
    // g=5: J* ≈ 0.0125 needs 241 bands — capped at the budget, recall
    // honestly below 95% (the arm is provisioned, not promised)
    val a5 = free(5).toOption.get
    assert((a5.r, a5.b) == (1, 64) && a5.recall < 0.95)
    // the background guard raises r (b capped) when expected noise
    // collisions blow the candidate budget — recall at J* degrades
    val guarded = Dedup.stratifiedArms(0.8, 0, 64, jBg = 0.01,
      pairsAtGap = _ => 1e10, candBudget = 6.4e6)
    val g0 = guarded(0).toOption.get
    assert(g0.r == 3 && g0.b == 42 && g0.recall < a0.recall)
    // an arm indistinguishable from background at ANY geometry is
    // dropped (Left), never silently quadratic
    val dropped = Dedup.stratifiedArms(0.8, 5, 64, jBg = 0.3,
      pairsAtGap = _ => 1e12, candBudget = 6.4e6)
    assert(dropped(5) == Left(5))
    // the recall floor: an arm the guard degrades below 30%
    // worst-case recall is dropped too — full emission for a
    // single-digit-percent arm is the round-10 disk lesson. This is
    // the generated-sf100 gap-2 shape (measured jBg ≈ 9.3·10⁻⁴):
    // the guard lands on (r=3, b=42) at 3.8% recall → Left
    val floored = Dedup.stratifiedArms(0.8, 2, 64, jBg = 9.3e-4,
      pairsAtGap = _ => 2e12, candBudget = 2e7)
    assert(floored(2) == Left(2))
  }

  test("StratBandEmit is bit-identical to the per-(arm, role) union it replaced") {
    // the round-14 single-scan emitter vs the round-13 shape: one
    // filter+posexplode(BandHashes) branch per (arm, role), unioned.
    // Same corpus-derived per-doc table both ways; every emitted
    // (doc_id, ci, cj, band_idx, band_hash) row must match exactly,
    // including the partner-class eligibility gating and the gap-0
    // small-role rows routing to the LARGE side.
    import org.apache.spark.sql.functions.{col, explode, floor, log2, posexplode, size}
    import org.apache.spark.sql.graftinternal.ColumnBridge.{column, expression}
    val rnd = new scala.util.Random(11)
    val vocab = (0 until 30).map(i => s"w$i")
    def randDoc(n: Int) = (0 until n).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    // classes with a HOLE (no docs around class of ~2000 words missing):
    // sizes ~8, ~60, ~120 words → classes differ; gap-3 partners absent
    val corpus = docs(((1L to 8L).map(i => i -> randDoc(8)) ++
      (9L to 14L).map(i => i -> randDoc(60)) ++
      (15L to 18L).map(i => i -> randDoc(130))): _*)
    val sigs = corpus.select(col("doc_id"),
        column(graft.expressions.MinhashTextSignature(
          expression(col("text")))).as("mh"),
        column(graft.expressions.ShingleFingerprints(
          expression(col("text")))).as("hs"))
      .filter(col("mh").isNotNull)
      .withColumn("s", size(col("hs")).cast("long"))
      .withColumn("cls", floor(log2(col("s"))).cast("int"))
      .persist()
    val occupied = sigs.select(col("cls")).distinct().collect().map(_.getInt(0)).toSet
    assert(occupied.size >= 3, s"fixture broken: classes $occupied")
    val arms = Seq((0, 2, 23), (1, 1, 61), (2, 1, 61), (5, 1, 64))
    // ---- reference: the union shape of round 13, one branch per (arm, role) ----
    def emit(arm: (Int, Int, Int), asSmall: Boolean): Option[DataFrame] = {
      val (g, r, b) = arm
      val eligible =
        (if (asSmall) occupied.filter(c => occupied.contains(c + g))
         else occupied.filter(c => occupied.contains(c - g))).toSeq
      val base =
        if (asSmall) sigs.filter(col("cls").isin(eligible: _*))
          .select(col("doc_id"), col("cls").as("ci"), (col("cls") + g).as("cj"), col("mh"))
        else sigs.filter(col("cls").isin(eligible: _*))
          .select(col("doc_id"), (col("cls") - g).as("ci"), col("cls").as("cj"), col("mh"))
      if (eligible.isEmpty) None
      else Some(base.select(col("doc_id"), col("ci"), col("cj"),
        posexplode(column(graft.expressions.BandHashes(expression(col("mh")), r, b))))
        .toDF("doc_id", "ci", "cj", "band_idx", "band_hash"))
    }
    val refSmall = arms.flatMap(emit(_, asSmall = true)).reduceLeft(_ unionByName _)
    // gap 0 joins small vs small: its small-role rows route to the large side
    val refLarge = arms.flatMap(a => emit(a, asSmall = a._1 == 0))
      .reduceLeft(_ unionByName _)
    // ---- the emitter ----
    val mask = occupied.filter(c => c >= 0 && c < 64).foldLeft(0L)((m, c) => m | (1L << c))
    def emitted(asSmall: Boolean): DataFrame =
      sigs.select(col("doc_id"),
          explode(column(graft.expressions.StratBandEmit(
            expression(col("mh")), expression(col("cls")), arms, mask, asSmall))).as("e"))
        .select(col("doc_id"), col("e.ci").as("ci"), col("e.cj").as("cj"),
          col("e.band_idx").as("band_idx"), col("e.band_hash").as("band_hash"))
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)))).sorted
    def diffCheck(label: String, got: Seq[(Long, Int, Int, Int, Option[Long])],
        want: Seq[(Long, Int, Int, Int, Option[Long])]): Unit =
      assert(got == want, s"$label: sizes ${got.size} vs ${want.size}; " +
        s"extra=${got.diff(want).take(5)} missing=${want.diff(got).take(5)}")
    diffCheck("small role", rows(emitted(asSmall = true)), rows(refSmall))
    diffCheck("large role", rows(emitted(asSmall = false)), rows(refLarge))
    // and a short signature nulls the overflow bands exactly like
    // posexplode(BandHashes): band_hash null, the row still emitted
    val shortMh = new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array[Any](1L, 2L, 3L))
    val out = graft.expressions.StratBandEmit
      .compute(shortMh, 3, Array(0, 2, 23), 1L << 3, asSmall = true)
    assert(out.numElements() == 23)
    val first = out.getStruct(0, 4)
    val last = out.getStruct(22, 4)
    assert(!first.isNullAt(3) && last.isNullAt(3))
    // a gap-0 arm's partner is the document's own class: a mask
    // without that class emits no gap-0 rows in either role
    for (asSmall <- Seq(true, false))
      assert(graft.expressions.StratBandEmit
        .compute(shortMh, 3, Array(0, 2, 23), 1L << 4, asSmall).numElements() == 0)
    sigs.unpersist()
  }

  test("one-query corpus probe equals the two-read reference on short, NULL and empty inputs") {
    val rnd = new scala.util.Random(5)
    val vocab = (0 until 20).map(i => s"v$i")
    def randDoc(n: Int) = (0 until n).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val mixed = docs((Seq(1L -> base, 2L -> nearDup, 3L -> distinct1, 4L -> distinct2,
      5L -> "too short", 6L -> "", 7L -> (null: String), 8L -> "a b", 9L -> "a  b",
      10L -> (base + " " + distinct1 + " " + distinct2)) ++
      (11L to 80L).map(i => i -> randDoc(3 + rnd.nextInt(60)))): _*)
    val empty = mixed.limit(0)
    val allShort = docs(1L -> "too short", 2L -> (null: String), 3L -> "", 4L -> "x")
    def check(d: DataFrame): Dedup.CorpusProbe = {
      val probe = Dedup.corpusProbe(Dedup.stratifiedPerDoc(d))
      val ref = Dedup.corpusProbeOnFps(Dedup.shingleFps(d))
      assert(probe.hist == ref.hist)
      assert(probe.nDocs == ref.nDocs)
      assert(probe.occ == ref.occ)
      assert(probe.vocab == ref.vocab)
      assert(probe.jBg == ref.jBg)
      assert(probe.maxS == ref.maxS)
      probe
    }
    val p = check(mixed)
    assert(p.nDocs > 70 && p.hist.size > 1, s"fixture drifted: $p")
    for (d <- Seq(empty, allShort)) {
      val q = check(d)
      assert(q.nDocs == 0 && q.occ == 0 && q.vocab == 1 && q.maxS == 0 && q.hist.isEmpty)
      // no arm is dropped on a corpus with no class pair, so the
      // "ALL arms dropped" warning must not fire (the sentinel shows
      // the appender hears the Dedup logger)
      val (pairs, warned) = dedupLog {
        org.slf4j.LoggerFactory.getLogger(Dedup.getClass).warn("dedup-spec sentinel")
        Dedup.containmentStratified(d).collect()
      }
      assert(pairs.isEmpty)
      assert(warned.contains("dedup-spec sentinel"))
      assert(!warned.exists(_.contains("ALL arms dropped")), warned)
    }
  }

  test("stratified containment finds the embedded doc on a DENSE corpus") {
    // the round-8 carried gap, now structural: a dense-vocabulary
    // corpus (the banded regime) with a planted high-containment /
    // low-Jaccard pair — a 40-word doc embedded verbatim in an
    // 11×-larger one (size-class gap 3, J ≈ 0.09, C = 1.0)
    val rnd = new scala.util.Random(7)
    val vocab = (0 until 14).map(i => s"w$i")
    def randDoc(n: Int) = (0 until n).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val small = randDoc(40)
    val big = small + " " + randDoc(400)
    val fillers = (3L to 1302L).map(i => i -> randDoc(40))
    val corpus = docs((Seq(1L -> small, 2L -> big) ++ fillers): _*)
    assert(Dedup.jaccardStrategy(corpus) == "lsh") // dense: the regime under test
    val exact = Dedup.containmentPairs(corpus).collect().map(_.toSeq).toSeq
    assert(exact.map(r => (r(0), r(1))).contains((1L, 2L)))
    // fixed symmetric (6, 21) banding would miss the pair — its
    // per-band collision rate is J^6 ≈ 4·10⁻⁷ — but the stratified
    // generator provisions the gap-3 arm (r=1, b=61 at J* ≈ 0.049)
    // and finds it; exact verification keeps every surfaced row
    // identical to the exact contract
    val strat = Dedup.containmentStratified(corpus).collect().map(_.toSeq).toSeq
    assert(strat == exact)
    // and the dispatcher's dense arm IS the stratified generator now
    val auto = Dedup.containmentAuto(corpus).collect().map(_.toSeq).toSeq
    assert(auto == exact)
  }

  test("stratified candidate budget: default pinned, raised budget keeps guarded arms") {
    // the round-12 caller knob (VERDICT r11 #4). Driver-side geometry
    // first: at the generated-sf10 shape (jBg ≈ 1e-3, dense pair
    // mass) the default budget drops the gap-1 arm; a raised budget
    // keeps it — the knob is exactly what buys embedded-doc recall
    // at corpus density
    val pairsAtGap: Int => Double = g => if (g <= 1) 2e11 else 1e9
    val tight = Dedup.stratifiedArms(0.8, 1, 64, jBg = 1e-3, pairsAtGap,
      candBudget = 4.0 * 500000)
    val roomy = Dedup.stratifiedArms(0.8, 1, 64, jBg = 1e-3, pairsAtGap,
      candBudget = 64.0 * 500000)
    assert(tight(1).isLeft, "fixture: default budget was supposed to drop gap 1")
    assert(roomy(1).isRight, "raised budget keeps the gap-1 arm")
    assert(roomy(1).toOption.get.recall >= 0.5)
    // end-to-end default-pin: passing the default explicitly is the
    // identity — the CORRECTNESS row's behavior is untouched
    val rnd = new scala.util.Random(11)
    val vocab = (0 until 14).map(i => s"w$i")
    def randDoc(n: Int) = (0 until n).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val corpus = docs(((1L to 300L).map(i => i -> randDoc(40))
      :+ (301L -> randDoc(40))): _*)
    val dflt = Dedup.containmentStratified(corpus).collect().map(_.toSeq).toSeq
    val explicit = Dedup.containmentStratified(corpus,
      candBudgetPerDoc = Dedup.StratifiedCandBudgetPerDoc)
      .collect().map(_.toSeq).toSeq
    assert(dflt == explicit)
  }

  test("planted verbatim copy forms a gap-0 containment pair the stratified generator finds with probability 1") {
    // the dd_containment_strat_planted CORRECTNESS row's mechanism,
    // pinned at spec scale: a verbatim copy (J = 1) collides in
    // EVERY band of any kept gap-0 arm, so the planted pair cannot
    // be missed whatever geometry the background guard lands on
    val spark2 = spark
    import spark2.implicits._
    val base = spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
      .select($"doc_id", $"text")
    val planted = base.filter($"doc_id" === 0L)
      .select(($"doc_id" + 900000000000L).as("doc_id"), $"text")
    val found = Dedup.containmentStratified(base.unionByName(planted))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(found.contains((0L, 900000000000L)),
      s"planted pair missing from ${found.length} found pairs")
  }

  test("budget knob at density, operator-level: default misses the planted gap-1 pair, 16/doc finds it") {
    // the dd_containment_strat_budget CORRECTNESS row's other half
    // (VERDICT r12 #4): the driver row runs at oracle density, where
    // both budgets keep the gap-1 arm — the FLIP the knob buys shows
    // at corpus density. Fixture: a 6-word vocabulary saturates its
    // 216-trigram space, pushing measured background similarity into
    // the window where the gap-1 arm's background cost busts the
    // default budget at every ≥0.5-recall geometry but fits at
    // 16/doc. Two occupied size classes one gap apart (~21 distinct
    // trigrams → class 4, ~41 → class 5) give the arm real pair mass.
    val rnd = new scala.util.Random(42)
    val vocab = (0 until 6).map(i => s"w$i")
    def randDoc(n: Int) = (0 until n).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val smalls = (1L to 50L).map(i => i -> randDoc(24))
    val bigs = (51L to 100L).map(i => i -> randDoc(48))
    val plantedSmall = randDoc(24)
    // word-prefix embedding: every trigram of the small doc appears
    // in the big one (C = 1), ~2× the distinct shingles (gap 1)
    val plantedBig = plantedSmall + " " + randDoc(24)
    val corpus = docs((smalls ++ bigs
      :+ (200L -> plantedSmall) :+ (201L -> plantedBig)): _*)
    // preconditions through the operator's OWN probe (shared helper),
    // so fixture drift fails loudly instead of passing vacuously
    val tri = Dedup.shingleFps(corpus).persist()
    val probe = try {
      val sz = tri.groupBy(org.apache.spark.sql.functions.col("doc_id")).count()
        .filter(org.apache.spark.sql.functions.col("doc_id").isin(200L, 201L))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      def cls(s: Long) = (math.log(s.toDouble) / math.log(2)).toInt
      assert(cls(sz(201L)) - cls(sz(200L)) == 1,
        s"fixture drifted: planted pair no longer one size class apart ($sz)")
      Dedup.corpusProbeOnFps(tri)
    } finally tri.unpersist(blocking = false)
    assert(probe.hist.keySet == Set(4, 5),
      s"fixture drifted: expected classes {4, 5}, got ${probe.hist}")
    def gap1Arm(budget: Long) = Dedup.stratifiedArms(0.8, 5, 64, probe.jBg,
      probe.pairsAtGap, budget.toDouble * probe.nDocs)(1)
    assert(gap1Arm(Dedup.StratifiedCandBudgetPerDoc).isLeft,
      s"fixture drifted: default budget was supposed to drop gap 1 (jBg=${probe.jBg})")
    assert(gap1Arm(16L).isRight,
      s"fixture drifted: budget 16 was supposed to keep gap 1 (jBg=${probe.jBg})")
    // the flip, operator-level — what the knob actually buys
    val atDefault = Dedup.containmentStratified(corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!atDefault.contains((200L, 201L)),
      "default budget found the gap-1 pair its dropped arm cannot provision")
    val atSixteen = Dedup.containmentStratified(corpus, candBudgetPerDoc = 16L)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(atSixteen.contains((200L, 201L)),
      s"budget 16 missed the planted gap-1 pair (found ${atSixteen.length} pairs)")
  }
}
