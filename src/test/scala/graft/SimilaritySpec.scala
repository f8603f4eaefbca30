package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity
import graft.sources.Tables

class SimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val emb = Tables(spark, TestSpark.sfDir).embeddings

  test("brute-force top-k returns k ranked neighbors per probe, cos descending") {
    val rows = Similarity.bruteTopK(emb).collect()
    assert(rows.length == 50) // 10 probes × top 5
    rows.groupBy(_.getLong(0)).foreach { case (_, g) =>
      val byRank = g.sortBy(_.getLong(1))
      assert(byRank.map(_.getLong(1)).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
      val cosines = byRank.map(_.getDouble(3))
      assert(cosines.zip(cosines.tail).forall { case (a, b) => a >= b })
    }
  }

  test("planted identical vector is its own nearest neighbor at cos ≈ 1") {
    val v = Array.tabulate(64)(i => math.sin(i * 0.7 + 1).toFloat).toSeq
    val far = (0 until 30).map(j =>
      (100L + j, Array.tabulate(64)(i => math.cos(i * (j + 2)).toFloat).toSeq, 1))
    val df = ((0L, v, 0) +: (50L, v, 0) +: far).toDF("vec_id", "embedding", "label")
    val top = Similarity.bruteTopK(df).collect().head
    assert(top.getLong(2) == 50L)
    assert(top.getDouble(3) > 0.999999)
  }

  test("pca recovers a planted dominant direction with orthonormal axes") {
    // sample spread along `dir` (large coefficient) + a weak
    // orthogonal secondary direction — classic anisotropic cloud
    val dim = 16
    val dir = Array.tabulate(dim)(i => math.sin(i * 0.9 + 0.3))
    val nrm = math.sqrt(dir.map(x => x * x).sum)
    val u = dir.map(_ / nrm)
    val sec = Array.tabulate(dim)(i => if (i % 2 == 0) u(i + 1) else -u(i - 1))
    val sample = (0 until 200).map { j =>
      val a = (j % 21 - 10) / 2.0 // -5 .. 5
      val b = (j % 7 - 3) / 10.0  // -0.3 .. 0.3
      // deterministic full-rank jitter keeps the covariance away from
      // exact rank-2, where a third axis would have nothing to find
      (j.toLong, Array.tabulate(dim)(i =>
        a * u(i) + b * sec(i) + 0.05 + 0.01 * math.sin(i * 7.77 + j * 1.3)))
    }.toArray
    val m = Similarity.pcaFit(sample)
    def dot(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    // top axis aligns with the planted direction (sign-fixed, so
    // compare |cos|); axes pairwise orthogonal and unit-norm
    assert(math.abs(dot(m.axes(0), u)) > 0.99)
    assert(m.axes.length == 4)
    for (k <- 0 until 4) assert(math.abs(dot(m.axes(k), m.axes(k)) - 1.0) < 1e-9)
    for (a <- 0 until 4; b <- a + 1 until 4)
      assert(math.abs(dot(m.axes(a), m.axes(b))) < 1e-6)
    // determinism: an independent fit is bit-identical
    val m2 = Similarity.pcaFit(sample)
    assert(m.axes.flatten.toSeq == m2.axes.flatten.toSeq &&
      m.mean.toSeq == m2.mean.toSeq)
  }

  test("cluster topics label separated embedding groups with their own vocabulary") {
    // two well-separated directions; docs of each group share a
    // vocabulary the other group never uses. Lloyd starts from the 16
    // lowest vec_ids (10..25): the five distinct jittered group-A
    // vectors (j = id % 5) each keep their own centroid — duplicates
    // tie to the smaller cluster id — and group B gathers around the
    // one B seed (id 25), so six clusters are occupied
    def vec(base: Double, j: Int) =
      Array.tabulate(64)(i => (math.sin(i * base) + 0.01 * j).toFloat).toSeq
    val aIds = (10L to 24L); val bIds = (25L to 39L)
    val embRows = aIds.map(id => (id, vec(0.3, (id % 5).toInt), 0)) ++
      bIds.map(id => (id, vec(2.1, (id % 5).toInt), 1))
    val docRows = aIds.map(id => (id, "alpha beta gamma alpha")) ++
      bIds.map(id => (id, "delta epsilon zeta delta"))
    val out = Similarity.clusterTopics(
      docRows.toDF("doc_id", "text"),
      embRows.toDF("vec_id", "embedding", "label")).collect()
      .map(r => (r.getLong(0), r.getString(2)))
    val byCluster = out.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(byCluster.size == 6)
    val vocabA = Set("alpha", "beta", "gamma")
    val vocabB = Set("delta", "epsilon", "zeta")
    val sets = byCluster.values.toSeq
    assert(sets.count(_.subsetOf(vocabA)) == 5 && sets.count(_.subsetOf(vocabB)) == 1)
  }

  test("pca variance is non-increasing across components on unit-scale data") {
    // unit-norm vectors: the model trains on the NORMALIZED sample,
    // so the eigen ordering transfers to projections only when the
    // corpus lives at the same scale (true for real embeddings)
    val rows = (0 until 60).map { j =>
      val raw = Array.tabulate(16)(i =>
        math.sin(i * 0.5 + j * 0.3) * (4.0 - i % 4))
      val nrm = math.sqrt(raw.map(x => x * x).sum)
      (100L + j, raw.map(x => (x / nrm).toFloat).toSeq, 0)
    }
    val df = rows.toDF("vec_id", "embedding", "label")
    val out = Similarity.pcaVariance(df).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(out.forall(_._2 == 60L))
    // the model centers with the UNIT-NORMALIZED sample's mean, so
    // raw-scale projections need not be exactly zero-mean — the
    // meaningful invariant is the power-iteration ordering: variance
    // non-increasing across components, and all moments finite
    assert(out.forall(t => !t._3.isNaN && !t._4.isNaN && t._4 >= 0))
    val vars = out.map(_._4)
    assert(vars.zip(vars.tail).forall { case (a, b) => a >= b - 1e-6 })
  }

  test("whiten zero-centers and unit-scales every varying dim, zeroes constant dims") {
    // dim 0 constant, dim 1 spread; 4-dim vectors, 5 rows
    val rows = (0 until 5).map(j =>
      (j.toLong, Seq(2.5f, j.toFloat, j.toFloat * 2 - 4, 1f + (j % 2)), 0))
    val out = Similarity.whiten(rows.toDF("vec_id", "embedding", "label")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out.size == 20)
    // constant dim 0 → exactly 0 everywhere
    assert((0 until 5).forall(j => out((j.toLong, 0L)) == 0.0))
    // each varying dim: mean 0, variance 1 (population)
    for (d <- 1L until 4L) {
      val zs = (0 until 5).map(j => out((j.toLong, d)))
      assert(math.abs(zs.sum) < 1e-5)
      assert(math.abs(zs.map(z => z * z).sum / 5 - 1.0) < 1e-5)
    }
    // hand-check dim 1: values 0..4, mu=2, sd=sqrt(2) → z0 = -sqrt(2)
    assert(math.abs(out((0L, 1L)) + math.sqrt(2.0)) < 1e-6)
  }

  test("pca projection equals the driver-side centered dot product") {
    val vecs = (0 until 40).map { j =>
      (100L + j, Array.tabulate(64)(i => (math.sin(i * 0.31 + j) * 2).toFloat).toSeq, 0)
    }
    val df = vecs.toDF("vec_id", "embedding", "label")
    val out2 = Similarity.pcaProject(df).collect()
    assert(out2.length == 40)
    assert(out2.forall(_.length == 5)) // vec_id + pc1..pc4
    val m = Similarity.pcaTrain(
      df.select($"vec_id", org.apache.spark.sql.functions.expr(
        "transform(embedding, x -> cast(x as double))").as("cv")))
    val byId = vecs.map { case (id, v, _) => id -> v.map(_.toDouble).toArray }.toMap
    out2.foreach { r =>
      val v = byId(r.getLong(0))
      for (k <- 0 until 4) {
        val y = v.zip(m.axes(k)).map { case (x, w) => x * w }.sum -
          Similarity.pcaBias(m, k)
        assert(math.abs(r.getDouble(1 + k) - y) < 1e-6)
      }
    }
  }

  test("LSH ANN candidates are a subset of correct cosine ordering (recall check)") {
    val brute = Similarity.bruteTopK(emb).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val lsh = Similarity.annLshTopK(emb).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    // LSH trades recall for never scanning the full corpus; what it does
    // return must be genuine corpus vectors ranked by true cosine.
    assert(lsh.distinct.length == lsh.length)
    info(s"LSH recall vs brute force: ${lsh.count(brute.contains)}/${lsh.length}")
  }

  test("knn vote predicts the planted majority label") {
    val v = Array.tabulate(64)(i => math.sin(i * 0.3).toFloat)
    def near(seed: Int) =
      Array.tabulate(64)(i => (v(i) + 0.001f * ((seed + i) % 7))).toSeq
    def far(seed: Int) =
      Array.tabulate(64)(i => math.cos(i * seed + 1).toFloat).toSeq
    val rows = (0L, v.toSeq, 9) +:
      ((1 to 6).map(j => (10L + j, near(j), 4)) ++
        (1 to 6).map(j => (20L + j, far(j + 2), 7)))
    val df = rows.toDF("vec_id", "embedding", "label")
    val out = Similarity.knnVote(df).collect().head
    assert(out.getInt(1) == 4)
  }

  test("IVF ANN: planted identical vector is guaranteed recalled at rank 1") {
    val v = Array.tabulate(64)(i => math.sin(i * 0.7 + 1).toFloat).toSeq
    val corpus = (0 until 60).map(j =>
      (100L + j, Array.tabulate(64)(i => math.cos(i * (j + 2) * 0.31).toFloat).toSeq, 1))
    // probe vec_id 0; its identical copy sits in the corpus at id 50:
    // both argmax to the same centroid, so the copy is always probed
    val df = ((0L, v, 0) +: (50L, v, 0) +: corpus)
      .toDF("vec_id", "embedding", "label")
    val top = Similarity.annIvfTopK(df).collect().head
    assert(top.getLong(2) == 50L)
    assert(top.getDouble(3) > 0.999999)
  }

  test("IVF ANN results are true cosines, deduped, ranked; recall reported") {
    val brute = Similarity.bruteTopK(emb).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = Similarity.annIvfTopK(emb).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(ivf.distinct.length == ivf.length)
    assert(ivf.nonEmpty)
    info(s"IVF recall vs brute force (4/16 lists probed): ${ivf.count(brute.contains)}/${brute.size}")
  }

  test("PQ ANN: planted identical vector is recalled at rank 1 via ADC + re-rank") {
    val v = Array.tabulate(64)(i => math.sin(i * 0.7 + 1).toFloat).toSeq
    val corpus = (0 until 60).map(j =>
      (100L + j, Array.tabulate(64)(i => math.cos(i * (j + 2) * 0.31).toFloat).toSeq, 1))
    // the identical copy quantizes to the probe's own cells, so its
    // ADC score is the self-quantization dot — top of the approx
    // ranking, then exact re-rank pins it at rank 1
    val df = ((0L, v, 0) +: (50L, v, 0) +: corpus)
      .toDF("vec_id", "embedding", "label")
    val top = Similarity.annPqTopK(df).collect().head
    assert(top.getLong(2) == 50L)
    assert(top.getDouble(3) > 0.999999)
  }

  test("PQ ANN results are true cosines, deduped, ranked; recall reported") {
    val brute = Similarity.bruteTopK(emb).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val pq = Similarity.annPqTopK(emb).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(pq.distinct.length == pq.length)
    assert(pq.nonEmpty)
    info(s"PQ recall vs brute force (rerank 20 of ~990): ${pq.count(brute.contains)}/${brute.size}")
  }

  test("IVF-PQ ANN: planted identical vector is recalled at rank 1 through routing + ADC") {
    val v = Array.tabulate(64)(i => math.sin(i * 0.7 + 1).toFloat).toSeq
    val corpus = (0 until 60).map(j =>
      (100L + j, Array.tabulate(64)(i => math.cos(i * (j + 2) * 0.31).toFloat).toSeq, 1))
    val df = ((0L, v, 0) +: (50L, v, 0) +: corpus)
      .toDF("vec_id", "embedding", "label")
    val top = Similarity.annIvfPqTopK(df).collect().head
    assert(top.getLong(2) == 50L)
    assert(top.getDouble(3) > 0.999999)
  }

  test("IVF-PQ results are true cosines, deduped, ranked; recall reported") {
    val brute = Similarity.bruteTopK(emb).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivfpq = Similarity.annIvfPqTopK(emb).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(ivfpq.distinct.length == ivfpq.length)
    assert(ivfpq.nonEmpty)
    info(s"IVF-PQ recall vs brute force (4/16 lists as codes): ${ivfpq.count(brute.contains)}/${brute.size}")
  }

  test("residual IVF-PQ: planted identical vector recalled; recall beats-or-ties plain IVF-PQ") {
    val v = Array.tabulate(64)(i => math.sin(i * 0.7 + 1).toFloat).toSeq
    val corpus = (0 until 60).map(j =>
      (100L + j, Array.tabulate(64)(i => math.cos(i * (j + 2) * 0.31).toFloat).toSeq, 1))
    val df = ((0L, v, 0) +: (50L, v, 0) +: corpus)
      .toDF("vec_id", "embedding", "label")
    val top = Similarity.annIvfPqResTopK(df).collect().head
    assert(top.getLong(2) == 50L)
    assert(top.getDouble(3) > 0.999999)
    // on the shared fixture, residual coding should not lose recall
    // vs quantizing the raw unit vectors (same routing, finer codes)
    val brute = Similarity.bruteTopK(emb).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val plain = Similarity.annIvfPqTopK(emb).collect()
      .map(r => (r.getLong(0), r.getLong(2))).count(brute.contains)
    val res = Similarity.annIvfPqResTopK(emb).collect()
      .map(r => (r.getLong(0), r.getLong(2))).count(brute.contains)
    info(s"IVF-PQ recall plain=$plain residual=$res / ${brute.size}")
    assert(res >= plain - 2) // same ballpark guaranteed; typically higher
  }

  test("PQ codes pack nSub codes per vector, deterministically across runs") {
    val a = Similarity.pqCodes(emb).collect().map(r => (r.getLong(0), r.getLong(1)))
    val b = Similarity.pqCodes(emb).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(a.toSeq == b.toSeq) // decimal-sum k-means ⇒ run-invariant
    assert(a.length == emb.filter("vec_id >= 10").count().toInt)
    // 8 subspaces × 4 bits → codes fit 32 bits
    assert(a.forall { case (_, code) => code >= 0L && code < (1L << 32) })
  }

  test("dim stats compute exact per-dimension mean and population std") {
    val d = Seq((1L, Seq(1f, 3f), 0), (2L, Seq(5f, 7f), 0))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.dimStats(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    // dim0: {1,5} -> mean 3, std sqrt(26/2-9)=2; dim1: {3,7} -> 5, 2
    assert(got.toSeq == Seq((0L, 2L, 3.0, 2.0), (1L, 2L, 5.0, 2.0)))
  }

  test("range search returns exactly the pairs with cosine above tau") {
    // tau = 0.25: the near copy (cos ≈ 1) is in, the antipode (cos = -1) out
    val v = Array.tabulate(64)(i => math.sin(i * 0.7 + 1).toFloat).toSeq
    val near = v.map(x => (x * 1.01f + 0.001f))         // cos ≈ 1
    val anti = v.map(x => -x)                            // cos = -1
    val df = Seq((0L, v, 0), (10L, near, 0), (11L, anti, 0))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.rangeSearch(df).collect()
    assert(got.map(_.getLong(1)).toSeq == Seq(10L))
    assert(got.head.getDouble(2) > 0.99)
  }

  test("label centroids compute exact per-dimension means") {
    val df = Seq(
      (0L, Seq(1.0f, 3.0f), 7),
      (1L, Seq(3.0f, 5.0f), 7),
      (2L, Seq(10.0f, 20.0f), 8))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.labelCentroids(df).collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> (r.getDouble(2), r.getLong(3))).toMap
    assert(got((7, 0L)) == (2.0, 2L))
    assert(got((7, 1L)) == (4.0, 2L))
    assert(got((8, 0L)) == (10.0, 1L))
    assert(got((8, 1L)) == (20.0, 1L))
  }

  test("ivfTrain is deterministic and returns unit centroids") {
    val c = emb.filter($"vec_id" >= 10)
      .select($"vec_id",
        org.apache.spark.sql.functions.expr("transform(embedding, x -> cast(x as double))").as("cv"))
    val a = Similarity.ivfTrain(c)
    val b = Similarity.ivfTrain(c)
    assert(a == b)
    a.foreach { cen =>
      val norm = math.sqrt(cen.centroid.map(x => x * x).sum)
      assert(math.abs(norm - 1.0) < 1e-9)
    }
  }

  test("recall@k compares LSH to brute per probe, consistent with the raw top-k sets") {
    val got = Similarity.recallAtK(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.length == 10) // one row per probe
    got.foreach { case (_, hits, recall) =>
      assert(hits >= 0 && hits <= 5)
      assert(recall == math.rint(hits / 5.0 * 1e6) / 1e6)
    }
    // independent recomputation from the two top-k sets
    val brute = Similarity.bruteTopK(emb).collect()
      .map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
    val lsh = Similarity.annLshTopK(emb).collect()
      .map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
    got.foreach { case (p, hits, _) =>
      val expected = brute(p).map(_._2).toSet
        .intersect(lsh.getOrElse(p, Array.empty[(Long, Long)]).map(_._2).toSet).size
      assert(hits == expected, s"probe $p")
    }
  }

  test("SQ8 codes stay in [0,255] and fingerprints are deterministic across runs") {
    val a = Similarity.sq8Codes(emb).collect()
    val b = Similarity.sq8Codes(emb).collect()
    assert(a.nonEmpty)
    a.foreach { r =>
      assert(r.getLong(1) >= 0L && r.getLong(2) <= 255L) // code_min / code_max
      assert(r.getLong(3) >= r.getLong(2)) // sum over 64 dims ≥ max
    }
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
  }

  test("SQ8 ANN: 8-bit dequantized search preserves brute-force neighbors almost exactly") {
    val brute = Similarity.bruteTopK(emb).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val sq = Similarity.annSq8TopK(emb).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(sq.distinct.length == sq.length)
    // 8 bits per dimension is near-lossless on unit-scale data: the
    // quantization cell is (hi−lo)/255 ≈ 0.8% of the range, so the
    // top-5 sets should essentially coincide with exact search.
    val hits = sq.count(brute.contains)
    assert(hits >= (sq.length * 9) / 10,
      s"SQ8 recall vs brute collapsed: $hits/${sq.length}")
    info(s"SQ8 recall vs brute force: $hits/${sq.length}")
  }

  test("SQ8 dequantization error is bounded by half a quantization cell per dimension") {
    val v = Array.tabulate(64)(i => math.sin(i * 1.3).toFloat).toSeq
    val w = Array.tabulate(64)(i => math.cos(i * 0.9).toFloat).toSeq
    val df = Seq((0L, v, 0), (10L, v, 0), (11L, w, 1))
      .toDF("vec_id", "embedding", "label")
    // probe 0 equals corpus vector 10: after SQ8 the pair must still
    // score at cos ≈ 1 (error ≤ 64 cells of (hi−lo)/255/2 each)
    val top = Similarity.annSq8TopK(df).collect().head
    assert(top.getLong(2) == 10L)
    assert(top.getDouble(3) > 0.9999)
  }

  test("SQ8 drift is zero for in-range data and counts out-of-range components") {
    // corpus spans [-1, 1] per dim; probe 0 stays inside, probe 1
    // blows past the range on every dimension
    val corpus = (10L until 40L).map(j =>
      (j, Array.tabulate(64)(i => math.sin(i * (j + 1.0)).toFloat).toSeq, 0))
    // exact copy of corpus vector 10 ⇒ inside [lo, hi] on every dim
    val inRange = (0L, Array.tabulate(64)(i => math.sin(i * 11.0).toFloat).toSeq, 0)
    val outRange = (1L, Array.fill(64)(9.0f).toSeq, 0)
    val df = (inRange +: outRange +: corpus).toDF("vec_id", "embedding", "label")
    val drift = Similarity.sq8DriftStats(df).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(drift.size == 64)
    drift.values.foreach { case (n, lo, hi) =>
      assert(n == 2L) // two probe vectors contribute per dimension
      assert(lo == 0L) // nothing undershoots
      assert(hi == 1L) // exactly the out-of-range probe clips high
    }
  }

  test("IVF over SQ8 codes: probing every list equals the full compressed-corpus search") {
    val all = Similarity.ivfSq8Search(emb, nProbeClusters = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val flat = Similarity.annSq8TopK(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    // with no pruning the routed search must reproduce the unrouted
    // one exactly — same dequantization, same ranking contract
    assert(all == flat)
    val pruned = Similarity.annIvfSq8TopK(emb).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(pruned.distinct.length == pruned.length)
    val hits = pruned.count(flat.map(t => (t._1, t._3)).toSet.contains)
    info(s"IVF-SQ8 recall vs full SQ8 scan (4/16 lists): $hits/${pruned.length}")
  }

  test("hybrid RRF: a doc ranked 1 by both arms fuses to rank 1 at exactly 2/(60+1)") {
    val docs = ((0L until 40L).map(i => (i, s"filler w$i body", "web")) :+
      (30L, "zebra crossing zebra", "web")).toDF("doc_id", "text", "source")
    val v = Array.tabulate(64)(i => math.sin(i * 0.7).toFloat).toSeq
    val emb1 = ((0L, v, 0) +: (10L until 40L).map(j =>
      (j, Array.tabulate(64)(i => math.cos(i * (j + 2.0)).toFloat).toSeq, 1)) :+
      (30L, v, 0)).toDF("vec_id", "embedding", "label")
    val out = Similarity.hybridRrf(docs, emb1, queries = Seq(0 -> "zebra")).collect()
    val top = out.minBy(_.getLong(1))
    assert(top.getLong(2) == 30L) // doc 30: lexical rank 1 AND semantic rank 1
    assert(top.getLong(4) == 1L && top.getLong(5) == 1L)
    assert(math.abs(top.getDouble(3) - 2.0 / 61.0) < 1e-9)
  }

  test("hybrid RRF over the real tables: ranks contiguous, scores non-increasing, arms traceable") {
    val docs = Tables(spark, TestSpark.sfDir).documents
    val rows = Similarity.hybridRrf(docs, emb).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (_, g) =>
      val byRank = g.sortBy(_.getLong(1))
      assert(byRank.map(_.getLong(1)).toSeq == (1L to byRank.length).toSeq)
      val scores = byRank.map(_.getDouble(3))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
      // every fused row must be explained by at least one arm
      assert(byRank.forall(r => r.getLong(4) > 0L || r.getLong(5) > 0L))
    }
  }

  test("SQ8 and hybrid operators are total on empty input") {
    val noVecs = Seq.empty[(Long, Seq[Float], Int)]
      .toDF("vec_id", "embedding", "label")
    assert(Similarity.sq8Codes(noVecs).collect().isEmpty)
    assert(Similarity.annSq8TopK(noVecs).collect().isEmpty)
    assert(Similarity.sq8DriftStats(noVecs).collect().isEmpty)
    assert(Similarity.bruteTopK(noVecs).collect().isEmpty)
    assert(Similarity.annLshTopK(noVecs).collect().isEmpty)
    assert(Similarity.rangeSearch(noVecs).collect().isEmpty)
    assert(Similarity.knnVote(noVecs).collect().isEmpty)
    assert(Similarity.recallAtK(noVecs).collect().isEmpty)
    val noDocs = Seq.empty[(Long, String, String)].toDF("doc_id", "text", "source")
    assert(Similarity.hybridRrf(noDocs, noVecs).collect().isEmpty)
    // one-sided emptiness: a lexical-only corpus still fuses
    val docsOnly = Seq((7L, "zebra stripe zebra", "web"))
      .toDF("doc_id", "text", "source")
    val fused = Similarity.hybridRrf(docsOnly, noVecs,
      queries = Seq(0 -> "zebra")).collect()
    assert(fused.length == 1 && fused.head.getLong(2) == 7L)
    assert(fused.head.getLong(5) == 0L) // no semantic arm
  }

  test("whiten and the new text operators are total on empty input") {
    val noVecs = Seq.empty[(Long, Seq[Float], Int)]
      .toDF("vec_id", "embedding", "label")
    assert(Similarity.whiten(noVecs).collect().isEmpty)
    val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    import graft.operators.TextOps
    assert(TextOps.bigramSurprisal(noDocs).collect().isEmpty)
    assert(TextOps.lrQuality(noDocs).collect().isEmpty)
    assert(TextOps.tfidfTopTerms(noDocs).collect().isEmpty)
    assert(TextOps.bpePairStats(noDocs).collect().isEmpty)
    val noPairs = Seq.empty[(Long, Long)].toDF("doc1", "doc2")
    assert(graft.operators.Dedup.softDedupWeights(noDocs, noPairs)
      .collect().isEmpty)
  }

  test("trained models are cached across queries: a repeated ANN query trains nothing") {
    Similarity.annIvfTopK(emb).collect() // ensure the IVF model exists
    Similarity.annPqTopK(emb).collect() // ensure the PQ codebook exists
    val before = Similarity.trainingsRun.get
    Similarity.annIvfTopK(emb).collect()
    Similarity.annPqTopK(emb).collect()
    Similarity.annIvfPqTopK(emb).collect() // composes the two already-trained models
    assert(Similarity.trainingsRun.get == before,
      "rerunning ANN queries on the same corpus must hit the model cache")
  }

  /** n 16-dim vectors with ids from `firstId`, a distinct direction
    * per id (`phase` separates corpora); the second frequency keeps
    * the centered sample above rank 4, so PCA has four real axes.
    */
  private def smoothVecs(firstId: Long, n: Int, phase: Double): Seq[(Long, Seq[Float], Int)] =
    (0 until n).map(j => (firstId + j, Array.tabulate(16)(i =>
      (math.sin(i * 0.37 + j * 0.9 + phase) + 0.3 * math.sin(i * 7.77 + j * 1.3) + 0.1)
        .toFloat).toSeq, j % 3))

  test("a second trained corpus makes every recorded model ambiguous: no oracle literals") {
    // each corpus trains IVF + residual PQ, PQ and PCA; after two
    // distinct corpora no accessor may pick one model for the oracle
    for (phase <- Seq(0.0, 1.7)) {
      val df = (smoothVecs(0L, 3, phase) ++ smoothVecs(10L, 40, phase))
        .toDF("vec_id", "embedding", "label")
      Similarity.annIvfPqResTopK(df).collect()
      Similarity.annPqTopK(df).collect()
      Similarity.pcaProject(df).collect()
    }
    assert(Similarity.lastIvfModel.isEmpty)
    assert(Similarity.lastPqModel.isEmpty)
    assert(Similarity.lastResPqModel.isEmpty)
    assert(Similarity.lastPcaModel.isEmpty)
  }

  test("trained ANN operators on degenerate corpora: empty throws, one vector answers") {
    val docsFor = (ids: Seq[Long]) => ids.map(id => (id, s"term$id shared", "web"))
      .toDF("doc_id", "text", "source")
    // every operator that trains a model, as its SparkEntry query calls it
    val trained: Seq[(String, DataFrame => DataFrame)] = Seq(
      "ann_ivf_topk" -> (e => Similarity.annIvfTopK(e)),
      "ann_ivf_sq8_topk" -> (e => Similarity.annIvfSq8TopK(e)),
      "emb_pq_codes" -> (e => Similarity.pqCodes(e)),
      "ann_pq_topk" -> (e => Similarity.annPqTopK(e)),
      "ann_ivfpq_topk" -> (e => Similarity.annIvfPqTopK(e)),
      "ann_ivfpq_res_topk" -> (e => Similarity.annIvfPqResTopK(e)),
      "emb_pca_project" -> (e => Similarity.pcaProject(e)),
      "emb_pca_var" -> (e => Similarity.pcaVariance(e)),
      "txt_topics" -> (e => Similarity.clusterTopics(docsFor(10L to 12L), e)))
    val probes = smoothVecs(0L, 3, 0.4)
    val empties = Seq(
      "empty table" -> Seq.empty[(Long, Seq[Float], Int)],
      "probes only" -> smoothVecs(0L, 10, 0.4),
      "all-zero corpus" -> (probes ++ (10L to 14L).map(id => (id, Seq.fill(16)(0f), 0))))
    // an empty corpus (zero-norm vectors are dropped) has nothing to
    // train on: the trainer's require fires while the frame is built
    for ((input, rows) <- empties; (query, op) <- trained) {
      val e = intercept[IllegalArgumentException](op(rows.toDF("vec_id", "embedding", "label")))
      assert(e.getMessage.contains("empty corpus"), s"$query on $input")
    }
    // one corpus vector: fewer than the 16 IVF lists and 16 PQ codes —
    // the searches return it for every probe at its true cosine
    val one = (probes :+ smoothVecs(10L, 1, 2.2).head).toDF("vec_id", "embedding", "label")
    val exact = Similarity.bruteTopK(one).collect().map(_.toSeq).toSeq
    assert(exact.map(r => (r(0), r(1), r(2))) ==
      Seq((0L, 1L, 10L), (1L, 1L, 10L), (2L, 1L, 10L)))
    for ((query, op) <- trained.filter(t => t._1.startsWith("ann_")))
      assert(op(one).collect().map(_.toSeq).toSeq == exact, query)
    assert(Similarity.pqCodes(one).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((10L, 0L)))
    val topics = Similarity.clusterTopics(docsFor(Seq(10L)), one).collect()
      .map(r => (r.getLong(0), r.getString(2))).toSet
    assert(topics == Set((0L, "term10"), (0L, "shared")))
    // a single vector has zero covariance: PCA has no axis to find
    for ((query, op) <- trained.filter(_._1.startsWith("emb_pca"))) {
      val e = intercept[IllegalArgumentException](op(one))
      assert(e.getMessage.contains("power iteration collapsed at component 0"), query)
    }
  }
}
