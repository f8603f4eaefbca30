package graft

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, EventOps, Relational}
import graft.sources.Tables

/** Property-style invariants over seeded random inputs: the statistical
  * operators' estimates must track ground truth, and the window-based
  * operators must satisfy their defining recurrences.
  */
class PropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val vocab = Vector("alpha", "beta", "gamma", "delta", "eps",
    "zeta", "eta", "theta", "iota", "kappa", "lam", "mu")

  test("minhash estimate tracks true shingle jaccard within 3 sigma (128 perms)") {
    val rnd = new scala.util.Random(1234)
    (1 to 5).foreach { trial =>
      // pairs share a common prefix so true jaccard spans low..high
      val shared = Seq.fill(10 + 4 * trial)(vocab(rnd.nextInt(vocab.size)))
      def tail() = Seq.fill(30 - 4 * trial)(vocab(rnd.nextInt(vocab.size)))
      val t1 = (shared ++ tail()).mkString(" ")
      val t2 = (shared ++ tail()).mkString(" ")
      val docs = Seq((1L, t1), (2L, t2)).toDF("doc_id", "text")
      def sh(t: String) = t.split(" ").sliding(3).map(_.mkString(" ")).toSet
      val (s1, s2) = (sh(t1), sh(t2))
      val trueJ = s1.intersect(s2).size.toDouble / s1.union(s2).size
      val sigs = Dedup.minhashSignatures(docs).collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val est = sigs(1L).zip(sigs(2L)).count { case (a, b) => a == b } / 128.0
      // sigma = sqrt(j(1-j)/128) <= 0.0442; allow 3 sigma + slack
      assert(math.abs(est - trueJ) <= 0.15,
        s"trial $trial: true=$trueJ est=$est")
    }
  }

  test("token budget never overruns and keeps quality prefixes on random corpora") {
    val rnd = new scala.util.Random(7171)
    (1 to 4).foreach { trial =>
      val docs = (0L until 60L).map { i =>
        (i, Seq.fill(2 + rnd.nextInt(25))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }.toDF("doc_id", "text")
      val budget = 100L + rnd.nextInt(400)
      val nShards = 1 + rnd.nextInt(4)
      val out = graft.operators.Sampling
        .tokenBudgetSelect(docs, budget = budget, nShards = nShards).collect()
        .map(r => (r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(5)))
      out.groupBy(_._1).foreach { case (_, g) =>
        // kept tokens within the shard's share, and the kept set is a
        // prefix of the quality order (no dropped doc outranks a kept)
        assert(g.filter(_._4 == 1L).map(_._3).sum <= budget / nShards,
          s"trial $trial overran")
        val keptMin = g.filter(_._4 == 1L).map(_._2).minOption
        val dropMax = g.filter(_._4 == 0L).map(_._2).maxOption
        for (km <- keptMin; dm <- dropMax)
          assert(km >= dm - 1e-9, s"trial $trial: kept $km below dropped $dm")
      }
    }
  }

  test("bigram surprisal is non-negative and bounded by log2 of model mass") {
    val rnd = new scala.util.Random(9292)
    val docs = (0L until 40L).map { i =>
      (i, Seq.fill(3 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val out = graft.operators.TextOps.bigramSurprisal(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.nonEmpty)
    out.foreach { case (id, n, bits) =>
      // add-1 smoothing: (c12+1) <= (c1+V) always → bits >= 0; and a
      // bigram can't cost more than log2(total bigrams + vocab)
      assert(bits >= 0.0, s"doc $id negative bits")
      assert(bits <= 20.0 && n >= 1, s"doc $id out of range")
    }
  }

  test("AsofJoinExec matches a reference model on random keyed timelines") {
    val rnd = new scala.util.Random(4242)
    (1 to 5).foreach { trial =>
      // right side unique per (key, ts) by construction; ts collisions
      // with the left side are common (small ts domain)
      val rightRows = (0 until 6).flatMap { k =>
        rnd.shuffle((0 until 50).toList).take(10 + rnd.nextInt(20))
          .map(t => (k.toLong, t.toLong, rnd.nextLong(1000000)))
      }
      val leftRows = (0 until 8).flatMap { k => // keys 6,7 have no right rows
        (0 until 15).map(i => (100L * k + i, k.toLong, rnd.nextInt(50).toLong))
      }
      val right = rightRows.toDF("k", "t", "payload")
      val left = leftRows.toDF("lid", "k", "lt")
      val got = graft.operators.Temporal
        .asofBackwardExec(left, "lt", right, "t", "k", Seq("payload"))
        .collect()
        .map(r => (r.getLong(0), if (r.isNullAt(3)) None else Some(r.getLong(3))))
        .toSet
      val byKey = rightRows.groupBy(_._1)
      val expected = leftRows.map { case (lid, k, lt) =>
        val m = byKey.getOrElse(k, Seq.empty).filter(_._2 <= lt)
        (lid, if (m.isEmpty) None else Some(m.maxBy(_._2)._3))
      }.toSet
      assert(got == expected, s"trial $trial")
    }
  }

  test("AsofJoinExec handles buffer-backed string keys (no stale key views)") {
    val rnd = new scala.util.Random(777)
    val keys = Vector("alpha", "beta", "gamma", "delta")
    val rightRows = keys.flatMap { k =>
      rnd.shuffle((0 until 40).toList).take(12).map(t => (k, t.toLong, s"$k-$t"))
    }
    val leftRows = keys.zipWithIndex.flatMap { case (k, ki) =>
      (0 until 10).map(i => (100L * ki + i, k, rnd.nextInt(40).toLong))
    }
    val got = graft.operators.Temporal
      .asofBackwardExec(leftRows.toDF("lid", "k", "lt"),
        "lt", rightRows.toDF("k", "t", "tag"), "t", "k", Seq("tag"))
      .collect()
      .map(r => (r.getLong(0), Option(r.getString(3)))).toSet
    val byKey = rightRows.groupBy(_._1)
    val expected = leftRows.map { case (lid, k, lt) =>
      val m = byKey.getOrElse(k, Seq.empty).filter(_._2 <= lt)
      (lid, if (m.isEmpty) None else Some(m.maxBy(_._2)._3))
    }.toSet
    assert(got == expected)
    // every matched tag must carry ITS OWN key prefix — a stale key
    // view would stitch one key's payload onto another key's rows
    got.foreach { case (lid, tag) =>
      val k = leftRows.find(_._1 == lid).get._2
      tag.foreach(t => assert(t.startsWith(k + "-"), s"$lid: $t vs $k"))
    }
  }

  test("AsofJoinExec never matches a left row with null timestamp") {
    // regression: a null-ts left row must not inherit lastMatch buffered
    // from an earlier same-key left row — the declarative twin (null ts
    // sorts first, no preceding right rows) and DuckDB ASOF both yield
    // no match, so the exec must agree
    val right = Seq((1L, 5L, 900L), (1L, 20L, 901L), (2L, 3L, 902L))
      .toDF("k", "t", "payload")
    val left = Seq(
      (10L, 1L, Some(25L)), // matches t=20
      (11L, 1L, None),      // null ts: NO match, even though key 1 has history
      (12L, 1L, Some(6L)),  // matches t=5 (and must not be poisoned by row 11)
      (13L, 2L, None),      // null ts on key 2: no match
      (14L, 3L, Some(9L))   // key with no right rows: no match
    ).toDF("lid", "k", "lt")
    val got = graft.operators.Temporal
      .asofBackwardExec(left, "lt", right, "t", "k", Seq("payload"))
      .collect()
      .map(r => (r.getLong(0), if (r.isNullAt(3)) None else Some(r.getLong(3))))
      .toSet
    assert(got == Set(
      (10L, Some(901L)), (11L, None), (12L, Some(900L)),
      (13L, None), (14L, None)))
  }

  test("lshTableKeys nulls the bucket array for non-64-dim vectors") {
    import org.apache.spark.sql.functions._
    val df = Seq(
      (1L, Seq.fill(64)(0.1)),
      (2L, Seq.fill(32)(0.1)), // wrong dim: must get NULL keys, not t<<32
      (3L, Seq.fill(64)(-0.2))
    ).toDF("vec_id", "vd")
      .select(col("vec_id"),
        graft.functions.VectorOps.lshTableKeys(col("vd"), 4, 8).as("keys"))
    val rows = df.collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(!rows(1L) && rows(2L) && !rows(3L))
    // and explode drops the mismatched vector from candidate generation
    val exploded = df.select(col("vec_id"), explode(col("keys")))
      .select("vec_id").distinct().collect().map(_.getLong(0)).toSet
    assert(exploded == Set(1L, 3L))
  }

  test("fused LshSignatures expression equals the declarative when-chain bit-for-bit") {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorOps
    val rnd = new scala.util.Random(31337)
    // vec 40 carries a NaN element: every plane dot is NaN, and Spark's
    // GreaterThan ranks NaN above 0, so the declarative twin sets every
    // sign bit — the fused expression must agree
    val vecs = (0 until 40).map(i => (i.toLong, Seq.fill(64)(rnd.nextDouble() * 2 - 1))) :+
      (40L, Double.NaN +: Seq.fill(63)(0.5))
    val df = vecs.toDF("vec_id", "vd")
    val fused = df.select(col("vec_id"),
        VectorOps.lshTableKeys(col("vd"), 8, 12).as("keys"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // the declarative twin, built inline exactly as lshTableKeys used to
    val planesField = VectorOps.getClass.getDeclaredField("planes")
    planesField.setAccessible(true)
    val planes = planesField.get(VectorOps).asInstanceOf[IndexedSeq[Seq[Double]]]
    val declarative = df.select(col("vec_id"), array((0 until 8).map { t =>
        (0 until 12).map { j =>
          when(VectorOps.dot(col("vd"), typedlit(planes(t * 12 + j))) > 0,
            lit(1L << j)).otherwise(lit(0L))
        }.reduce(_ + _) + lit(t.toLong << 32)
      }: _*).as("keys"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    vecs.foreach { case (id, _) => assert(fused(id) == declarative(id), s"vec $id") }
    // and the NaN vector really landed on the all-bits-set signatures
    assert(fused(40L) == (0 until 8).map(t => (t.toLong << 32) | 0xFFFL))
  }

  test("session count = 1 + number of >30min gaps, for random gap sequences") {
    val rnd = new scala.util.Random(99)
    (1 to 8).foreach { _ =>
      val gaps = List.fill(12)(1L + rnd.nextInt(90))
      val times = gaps.scanLeft(1000L)(_ + _)
      val events = times.zipWithIndex.map { case (m, i) =>
        (i.toLong, new Timestamp(m * 60000L), 1L, "view", 1.0, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      val nSessions = EventOps.sessionGap(events).count()
      val expected = 1 + gaps.count(_ > 30)
      assert(nSessions == expected, s"gaps=$gaps")
    }
  }

  test("approx sketches land within their in-query tolerance of exact companions") {
    val li = Tables(spark, TestSpark.sfDir).lineitem
    // exact companion columns agree with the independent q9 exact path
    val exact = Relational.q9DistinctAgg(li).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    Relational.q19ApproxDistinct(li).collect().foreach { r =>
      val (ep, es) = exact(r.getString(0))
      assert(r.getLong(1) == ep && r.getLong(2) == es)
      assert(r.getBoolean(4), s"HLL partkey sketch out of 10% for ${r.getString(0)}")
      assert(r.getBoolean(5), s"HLL suppkey sketch out of 10% for ${r.getString(0)}")
    }
    Relational.q20ApproxPercentile(li).collect().foreach { r =>
      assert(r.getDouble(1) <= r.getDouble(2)) // p50 <= p95
      assert(r.getBoolean(3), s"GK p50 sketch out of 5% for ${r.getString(0)}")
      assert(r.getBoolean(4), s"GK p95 sketch out of 5% for ${r.getString(0)}")
    }
  }

  test("chunker invariants hold for random doc lengths and window shapes") {
    val rnd = new scala.util.Random(7)
    val docs = (1L to 40L).map(i =>
      (i, Seq.fill(1 + rnd.nextInt(120))(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
      .toDF("doc_id", "text")
    val lens = docs.collect().map(r => r.getLong(0) -> r.getString(1).split(" ").length).toMap
    for ((c, o) <- Seq((32, 8), (16, 0), (10, 9), (7, 3))) {
      val stride = c - o
      val chunks = graft.operators.Sampling.chunkSequences(docs, c, o).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .groupBy(_._1)
      lens.foreach { case (id, n) =>
        val cs = chunks(id).sortBy(_._2)
        val expected = 1 + math.max(0, (n - c + stride - 1) / stride)
        assert(cs.length == expected, s"doc $id n=$n C=$c O=$o")
        assert(cs.head._3 == 1L) // first chunk starts at token 1
        cs.foreach { ch => assert(ch._4 >= 1 && ch._4 <= c) }
        // consecutive starts advance by exactly the stride, and the
        // last chunk reaches the final token
        cs.sliding(2).foreach {
          case Array(a, b) => assert(b._3 - a._3 == stride)
          case _ =>
        }
        assert(cs.last._3 + cs.last._4 - 1 == n)
      }
    }
  }

  test("interleave prefixes are exactly proportional at rational thresholds") {
    val rnd = new scala.util.Random(11)
    val sizes = Map("s0" -> 40, "s1" -> 17, "s2" -> 8, "s3" -> 1)
    val rows = sizes.toSeq.flatMap { case (src, n) =>
      (1 to n).map(_ => (rnd.nextLong().abs, "x", "en", src, 1L))
    }
    val d = rows.toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = graft.operators.Sampling.interleaveSources(d).collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
    // count_s(rank/n_s <= t) == floor(t * n_s) for every source and
    // threshold: the defining property of the low-discrepancy order
    for (t <- Seq(0.25, 0.5, 0.75, 1.0)) {
      val prefix = out.filter { case (_, rank, n) => rank.toDouble / n <= t }
      sizes.foreach { case (src, n) =>
        assert(prefix.count(_._1 == src) == math.floor(t * n).toInt,
          s"source $src at t=$t")
      }
    }
    // per-source ranks appear in increasing order in the global sort
    sizes.keys.foreach { src =>
      val ranks = out.filter(_._1 == src).map(_._2)
      assert(ranks.toSeq == ranks.sorted.toSeq)
    }
  }

  test("prefix-probe containment generator is lossless on random corpora") {
    val rnd = new scala.util.Random(90210)
    (1 to 3).foreach { trial =>
      // random docs over a small vocabulary → dense shingle overlap,
      // plus planted embeddings (doc j contains doc j-1 verbatim) so
      // high-containment/low-jaccard pairs definitely exist
      val base = (0L until 18L).map { i =>
        i -> Seq.fill(5 + rnd.nextInt(40))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      }
      val planted = base.take(4).map { case (i, t) =>
        (100L + i) -> (t + " " + Seq.fill(30)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      val docs = (base ++ planted).toDF("doc_id", "text")
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
      val exact = rows(Dedup.containmentPairs(docs))
      // the planted pairs sit at C = 1.0, so the parity is never vacuous
      assert(base.take(4).forall { case (i, _) =>
        exact.exists(r => r(0) == i && r(1) == 100L + i) }, s"trial $trial: planted pair missing")
      assert(rows(Dedup.containmentPairsLsh(docs)) == exact,
        s"trial $trial: generator lost or invented pairs")
    }
  }

  test("adversarial text never fails a text/dedup operator: bad rows degrade, don't crash") {
    // a real crawl contains all of these; the library contract is that
    // each operator drops or scores the row, never kills the job
    val adversarial = Seq[(Long, String)](
      1L -> null,
      2L -> "",
      3L -> "   \t\n  ",
      4L -> "one",
      5L -> " ctrlcharshere and some more words",
      6L -> ("tok" * 40000), // one ~120 KB token, no separators
      7L -> "🎉🎊 emoji 🎈 and 中文字符 mixed with ascii words here",
      8L -> Seq.fill(2000)("w").mkString(" "), // 2000 identical tokens
      9L -> "normal words so at least one row flows all the way through")
    val docs = adversarial.toDF("doc_id", "text")
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .withColumn("source", org.apache.spark.sql.functions.lit("src0"))
      .withColumn("n_chars",
        org.apache.spark.sql.functions.coalesce(
          org.apache.spark.sql.functions.length(
            org.apache.spark.sql.functions.col("text")).cast("long"),
          org.apache.spark.sql.functions.lit(0L)))
    import graft.operators.TextOps
    val ops: Seq[(String, () => Long)] = Seq(
      "dd_exact" -> (() => Dedup.exact(docs).count()),
      "ngram_jaccard" -> (() => Dedup.ngramJaccard(docs).count()),
      "minhash_lsh" -> (() => Dedup.minhashLsh(docs).count()),
      "simhash" -> (() => Dedup.simhashNearDup(docs).count()),
      "containment_lsh" -> (() => Dedup.containmentPairsLsh(docs).count()),
      "txt_tokens" -> (() => TextOps.tokens(docs).count()),
      "txt_quality" -> (() => TextOps.quality(docs).count()),
      "txt_fingerprint" -> (() => TextOps.fingerprint(docs).count()))
    ops.foreach { case (name, run) =>
      val n = try run() catch {
        case e: Throwable => fail(s"$name crashed on adversarial text: ${e.getMessage}")
      }
      assert(n >= 0, name)
    }
  }
}
