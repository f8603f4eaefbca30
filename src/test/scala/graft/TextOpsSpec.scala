package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextOps

class TextOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs(texts: (Long, String, String)*) =
    texts.toDF("doc_id", "text", "lang")

  test("token counts: whitespace vs BPE-ish regex") {
    val out = TextOps.tokens(docs((1L, "the cat sat", "en")).select("doc_id", "text"))
      .collect().head
    assert(out.getLong(1) == 3) // whitespace
    assert(out.getLong(2) == 3) // letter runs
    val punct = TextOps.tokens(docs((1L, "hello, world! 42", "en"))
      .select("doc_id", "text")).collect().head
    assert(punct.getLong(1) == 3)
    assert(punct.getLong(2) == 5) // hello , world ! 42
  }

  test("fused text-scan stats equal the declarative split/filter/regex twins") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(97531)
    val alphabet = "abc XYZ 019 ,.!€😃é  " // incl. multi-byte, non-BMP, double spaces
    val randomTexts = (1L to 40L).map(i =>
      i -> Seq.fill(rnd.nextInt(60))(alphabet(rnd.nextInt(alphabet.length))).mkString)
    val edge = Seq(41L -> "", 42L -> " ", 43L -> "the", 44L -> "a a the b the",
      45L -> "  leading and trailing  ", 46L -> "42abc7x", 47L -> "😃😃ab😃")
    val df = (randomTexts ++ edge).toDF("doc_id", "text")
    val both = df.select(
      TextOps.textStats("text").as("s"),
      TextOps.wordCountDeclarative("text").as("dw"),
      TextOps.stopCountDeclarative("text").as("ds"),
      size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
        .cast("long").as("db"),
      (length(col("text"))
        - length(regexp_replace(col("text"), "[0-9]", ""))).cast("long").as("dd"))
      .collect()
    both.foreach { r =>
      val s = r.getStruct(0)
      assert(s.getLong(0) == r.getLong(1), s"n_words vs split: $r")
      assert(s.getLong(1) == r.getLong(2), s"n_stop vs filter: $r")
      assert(s.getLong(2) == r.getLong(3), s"n_bpe vs regex: $r")
      assert(s.getLong(3) == r.getLong(4), s"n_digits vs replace: $r")
    }
  }

  test("fused repetition stats equal the explode+aggregate twin") {
    val rnd = new scala.util.Random(8642)
    val vocab = Vector("the", "cat", "sat", "on", "mat", "a", "")
    val randoms = (1L to 30L).map(i =>
      i -> Seq.fill(2 + rnd.nextInt(25))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    val edge = Seq(31L -> "solo", 32L -> "", 33L -> "x x x x",
      34L -> "a  b", 35L -> " ")
    val df = (randoms ++ edge).toDF("doc_id", "text")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (0 until r.length).map(r.get).toSeq).toSeq
    assert(rows(TextOps.repetitionStats(df)) ==
      rows(TextOps.repetitionStatsDeclarative(df)))
    // single-word and empty docs are absent from both
    val ids = TextOps.repetitionStats(df).collect().map(_.getLong(0)).toSet
    assert(!ids.contains(31L) && !ids.contains(32L))
    assert(ids.contains(34L) && ids.contains(35L)) // empty tokens still words
  }

  test("zip-slice bigrams equal the interpreted transform-lambda twin") {
    val df = Seq((1L, "a b c d"), (2L, "x y"), (3L, "lone"), (4L, ""),
      (5L, "a  b")).toDF("doc_id", "text") // incl. empty token from double space
    val zs = TextOps.bigrams(df).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sorted.toSeq
    val tr = TextOps.bigramsDeclarative(df).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sorted.toSeq
    assert(zs == tr && zs.nonEmpty)
    assert(!zs.exists(_._1 == 3L)) // single-word doc emits nothing
  }

  test("quality: stopword ratio and score are exact") {
    val out = TextOps.quality(docs((1L, "the cat sat on the mat", "en"))
      .select("doc_id", "text")).collect().head
    assert(out.getLong(1) == 6)         // n_words
    assert(out.getLong(2) == 2)         // n_stop ('the' twice)
    assert(out.getDouble(3) == 0.333333) // stop_ratio rounded
  }

  test("langid picks the dominant marker language deterministically") {
    val out = TextOps.langId(docs(
      (1L, "word the word the word", "en"),
      (2L, "mot le mot le mot", "fr"),
      (3L, "wort der wort", "de"))).collect()
    assert(out.map(_.getString(1)).toSeq == Seq("en", "fr", "de"))
    assert(out.map(_.getLong(2)).toSeq == Seq(1L, 1L, 1L))
  }

  test("fingerprint: equal texts collide, different texts differ") {
    val out = TextOps.fingerprint(docs(
      (1L, "same text here", "en"), (2L, "same text here", "en"),
      (3L, "different text", "en")).select("doc_id", "text"))
      .collect().map(_.getLong(1))
    assert(out(0) == out(1))
    assert(out(0) != out(2))
  }

  test("codegen'd fingerprint equals the declarative fold, incl. non-ASCII") {
    val d = docs(
      (1L, "key agg row scan slow fast table value part hash", "en"),
      (2L, "héllo wörld ünïcode façade", "fr"),
      (3L, "", "en"),
      (4L, "a", "en")).select("doc_id", "text")
    val fast = TextOps.fingerprint(d).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val slow = TextOps.fingerprintDeclarative(d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == slow)
  }

  test("pii redaction counts and strips planted emails, phones and IPs") {
    // doc 42 gets planted user42@mail.example.com, +1-555-0142-0042, 10.42.0.1;
    // the text itself carries one extra email and one extra ip
    val d = docs((42L, "reach me at someone@corp.example.org or 192.168.1.10 ok", "en"))
      .select("doc_id", "text")
    val out = TextOps.piiRedact(d).collect().head
    assert(out.getLong(1) == 2) // emails: in-text + planted
    assert(out.getLong(2) == 1) // phone: planted
    assert(out.getLong(3) == 2) // ips: in-text + planted
    // and the redacted text really lost them
    val red = TextOps.piiRedact(d)
    assert(red.columns.toSeq ==
      Seq("doc_id", "n_emails", "n_phones", "n_ips", "redacted_md5"))
  }

  test("repetition stats: distinct/duplicate fractions are exact") {
    val out = TextOps.repetitionStats(
      docs((1L, "a a a a b", "en"), (2L, "x y z w v u", "en"))
        .select("doc_id", "text")).collect()
    val r1 = out.find(_.getLong(0) == 1L).get
    assert(r1.getLong(1) == 5)  // n_words
    assert(r1.getLong(2) == 2)  // distinct words
    assert(r1.getLong(3) == 4)  // top word count
    assert(r1.getLong(4) == 4)  // bigrams: "a a" x3, "a b"
    assert(r1.getLong(5) == 2)  // distinct bigrams
    assert(r1.getLong(6) == 50) // dup pct
    assert(r1.getLong(7) == 1)  // repetitive
    val r2 = out.find(_.getLong(0) == 2L).get
    assert(r2.getLong(6) == 0 && r2.getLong(7) == 0)
  }

  test("char entropy is exact on known distributions") {
    import graft.operators.TextOps
    val d = Seq((1L, "aaaa"), (2L, "abab"), (3L, "aab"), (4L, ""))
      .toDF("doc_id", "text")
    val out = TextOps.charEntropy(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(1L) == ((1L, 4L, 0.0)))       // constant string: zero entropy
    assert(out(2L) == ((2L, 4L, 1.0)))       // uniform over 2 symbols: 1 bit
    assert(out(3L)._3 == 0.918296)           // log2(3) - 2/3, rounded to 6
    assert(!out.contains(4L))                // empty text filtered
  }

  test("fused char entropy matches the declarative explode/aggregate twin") {
    import graft.operators.TextOps
    // multi-byte code points, surrogate pair, long mixed text — the
    // shapes where histogram vs explode could diverge
    val d = Seq((1L, "naïve café ütf"), (2L, "a😀b😀"),
      (3L, "the quick brown fox jumps over the lazy dog 0123456789"),
      (4L, "zzzzzzzzzzzzzzzzzzzzzzzz"))
      .toDF("doc_id", "text")
    val fused = TextOps.charEntropy(d).collect().map(_.toSeq).toSeq
    val twin = TextOps.charEntropyDeclarative(d).collect().map(_.toSeq).toSeq
    assert(fused == twin)
  }

  test("unigram surprisal scores rare-token docs above stock phrasing") {
    import graft.operators.TextOps
    // corpus: "the cat" x3 docs + one doc with two hapax tokens
    val d = Seq((1L, "the cat"), (2L, "the cat"), (3L, "the cat"),
      (4L, "zyx qwv")).toDF("doc_id", "text")
    val out = TextOps.surprisal(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // N=8; the/cat tf=3 → bits = log2(8)-log2(3); zyx/qwv tf=1 → 3 bits
    val common = math.round((3.0 - math.log(3.0) / math.log(2.0)) * 1e6) / 1e6
    assert(out(1L) == ((2L, common)))
    assert(out(4L) == ((2L, 3.0)))
    assert(out(4L)._2 > out(1L)._2)
  }

  test("bigram surprisal charges unusual word order the unigram model misses") {
    import graft.operators.TextOps
    // same unigram profile everywhere: a,b each tf=4; only ORDER differs
    val d = Seq((1L, "a b"), (2L, "a b"), (3L, "a b"),
      (4L, "b a")).toDF("doc_id", "text")
    val out = TextOps.bigramSurprisal(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // V=2; (a,b) c12=3, c1(a)=3 → log2(5/4); (b,a) c12=1, c1(b)=1 → log2(3/2)
    def bits(c1: Double, c12: Double) =
      math.round((math.log((c1 + 2.0) / (c12 + 1.0)) / math.log(2.0)) * 1e6) / 1e6
    assert(out(1L) == ((1L, bits(3.0, 3.0))))
    assert(out(4L) == ((1L, bits(1.0, 1.0))))
    assert(out(4L)._2 > out(1L)._2)
  }

  test("bigram surprisal emits one row per multi-token doc with n_tokens-1 pairs") {
    import graft.operators.TextOps
    val d = Seq((1L, "one"), (2L, "two words"), (3L, "three word doc"),
      (4L, "")).toDF("doc_id", "text")
    val out = TextOps.bigramSurprisal(d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(2L -> 1L, 3L -> 2L))
  }

  test("tfidf ranks a doc's distinctive term above corpus-wide stopwords") {
    import graft.operators.TextOps
    val d = Seq((1L, "common common zebra"), (2L, "common words here"),
      (3L, "common words there")).toDF("doc_id", "text")
    val out = TextOps.tfidfTopTerms(d, k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
    val doc1 = out.filter(_._1 == 1L).sortBy(_._2)
    // zebra: df=1, tf=1 → 1*ln(4/2); common: df=3, tf=2 → 2*ln(4/4)=0
    assert(doc1.head._3 == "zebra")
    assert(doc1.head._4 == math.round(math.log(2.0) * 1e6) / 1e6)
    // every score of the idf-zero ubiquitous term is 0
    assert(out.filter(_._3 == "common").forall(_._4 == 0.0))
  }

  test("tfidf top terms equal a driver-side tf-idf reference, ties broken on the term") {
    // the shipping repartition-first window against a plain Scala
    // tf-idf on a fixture with score ties (same tf, same df ⇒ equal
    // scores that must break on the term) and uneven group sizes:
    // rank order and tie order are both pinned
    import graft.operators.TextOps
    val rnd = new scala.util.Random(42)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta")
    val texts = (1L to 60L).map { i =>
      i -> (0 until (3 + rnd.nextInt(12)))
        .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    val k = 3
    val tf = texts.map { case (id, t) =>
      id -> t.split(" ").groupBy(identity).view.mapValues(_.length).toMap }
    val df = tf.flatMap(_._2.keys).groupBy(identity).view.mapValues(_.size).toMap
    val n = texts.size
    // Spark's round(x, 6) is HALF_UP on the decimal value, log is StrictMath.log
    def score(tfv: Int, dfv: Int) = BigDecimal(tfv * StrictMath.log((n + 1.0) / (dfv + 1.0)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val reference = tf.flatMap { case (id, terms) =>
      terms.toSeq.map { case (w, c) => (w, score(c, df(w))) }
        .sortBy { case (w, sc) => (-sc, w) }.take(k).zipWithIndex
        .map { case ((w, sc), i) => (id, i + 1L, w, sc) }
    }
    // the fixture really exercises the tie-break inside the top-k
    assert(reference.sliding(2).exists {
      case Seq(a, b) => a._1 == b._1 && a._4 == b._4
      case _ => false
    }, "fixture broken: no tied scores inside any document's top-k")
    val shipped = TextOps.tfidfTopTerms(texts.toDF("doc_id", "text"), k).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3))).toSeq
    assert(shipped == reference)
  }

  test("bpe pair stats weight adjacent char pairs by word frequency") {
    import graft.operators.TextOps
    // 'ab' appears in "abc" (x3 via tf) and "ab" (x2): expect n(ab)=5
    val d = Seq((1L, "abc ab x"), (2L, "abc ab"), (3L, "abc")).toDF("doc_id", "text")
    val out = TextOps.bpePairStats(d).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("ab" -> 5L, "bc" -> 3L))
  }

  test("bpe apply segments with the frozen merges: 'the' is one token") {
    import graft.operators.TextOps
    // 'the' → t+h, then th+e → 1 token; 'inner' → in+n+er = 3 tokens
    // ('i n'→'in', 'e r'→'er'; middle n stays); 'xyz' → no merges = 3
    val d = Seq((1L, "the"), (2L, "inner"), (3L, "xyz"), (4L, "the inner xyz"),
      (5L, "a/b http://x")) // '/' is CONTENT, not the symbol delimiter
      .toDF("doc_id", "text")
    val out = TextOps.bpeApply(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(1L) == ((3L, 1L, 3.0)))
    assert(out(2L) == ((5L, 3L, 1.666667)))
    assert(out(3L) == ((3L, 3L, 1.0)))
    assert(out(4L) == ((11L, 7L, math.round(11.0 / 7.0 * 1e6) / 1e6)))
    // slash-bearing words count exactly: '/' is content here, and no
    // merge pair occurs in 'a/b' or 'http://x' (h→t, not t→h)
    assert(out(5L) == ((11L, 11L, 1.0)))
  }

  test("lr quality classifier: digit-heavy text rejected, prose accepted") {
    import graft.operators.TextOps
    val prose = "the quick brown fox jumps over the lazy dog near a quiet river bank today"
    val digits = "737 188 405 22 9 30991 4 2218 777 01 55 83 9000 12 644 5 71 3 88 20"
    val d = Seq((1L, prose), (2L, digits)).toDF("doc_id", "text")
    val out = TextOps.lrQuality(d).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(out(1L)._2 == 1L && out(2L)._2 == 0L)
    assert(out(1L)._1 > 0.5 && out(2L)._1 < 0.5)
    // hand-check the prose doc: 15 words, 3 stopwords ('the' x2, 'a'),
    // 0 digits, 73 chars → mean word len (73-15+1)/15
    val z = -0.5 + 2.2 * 0.15 + 1.8 * (3.0 / 15.0) - 3.0 * 0.0 +
      0.7 * (59.0 / 15.0 / 10.0)
    val p = math.round(1.0 / (1.0 + math.exp(-z)) * 1e6) / 1e6
    assert(out(1L)._1 == p)
  }

  test("bm25 ranks keyword matches per Okapi formula with doc_id tie-break") {
    val d = docs((1L, "spark join spark", "en"), (2L, "join filter", "en"),
      (3L, "filter sort", "en")).select("doc_id", "text")
    val out = TextOps.bm25TopK(d, queries = Seq(0 -> "spark", 0 -> "join"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // d1 holds the rare term twice plus 'join'; d2 only 'join'; d3 nothing
    assert(out.map(t => (t._1, t._2, t._3)).toSeq == Seq((0, 1L, 1L), (0, 2L, 2L)))
    // hand-rolled Okapi BM25 (k1=1.2, b=0.75) over the same stats:
    // N=3, sum_dl=7 (the no-match doc still counts in corpus stats)
    val avgdl = 7.0 / 3
    def contrib(tf: Long, df: Long, dl: Long): Double =
      math.log(1.0 + ((3.0 - df) + 0.5) / (df + 0.5)) * (tf * 2.2) /
        (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl)))
    assert(math.abs(out(0)._4 - (contrib(2, 1, 3) + contrib(1, 2, 3))) < 1e-6)
    assert(math.abs(out(1)._4 - contrib(1, 2, 2)) < 1e-6)
  }

  test("curatePipeline: normalize→dedup canonical→per-source budget, end to end") {
    val longText = Seq.fill(60)("word").mkString(" ") // 60 words, no stopwords
    val corpus = Seq(
      (1L, longText, "srcA"),            // canonical of the dup pair
      (2L, longText.toUpperCase, "srcA"), // normalizes identical → dup of 1
      (3L, "tiny doc", "srcA"),          // < 5 words → quality-cut
      (4L, Seq.fill(80)("data").mkString(" "), "srcB"),
      (5L, Seq.fill(70)("more").mkString(" "), "srcB"))
      .toDF("doc_id", "text", "source")
    val out = TextOps.curatePipeline(corpus, perSourceBudget = 100)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(3), r.getLong(4), r.getLong(6), r.getLong(7))).toMap
    assert(out.keySet == Set(1L, 4L, 5L)) // 2 deduped away, 3 cut
    assert(out(1L)._2 == 2L) // dup count carried on the canonical
    // srcB budget 100: doc 4 (80 words, higher score) fits, doc 5 overflows
    assert(out(4L) == (("srcB", 1L, 80L, 80L, 1L)))
    assert(out(5L)._4 == 150L && out(5L)._5 == 0L)
    assert(out(1L)._5 == 1L) // srcA's only survivor fits its budget
  }
}
