package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorOps

/** Similarity search over the embeddings table (SURVEY.md §2.3).
  *
  * Scale design (100 TB): the probe set is small and **broadcast**, the
  * corpus is streamed once — scoring is a broadcast nested-loop that
  * never shuffles the corpus. Top-k then reduces probe-keyed score
  * rows; with a handful of probes that window input is ~|corpus|×|P|
  * rows keyed on probe_id, the same single-shuffle shape as any
  * grouped aggregation. For large probe sets the LSH-bucketed variant
  * (`annLshTopK`) is the scale path: both sides shuffle only on the
  * 16-bit signature key and score strictly within buckets.
  */
object Similarity {

  // Tuning constants. Every SparkEntry query runs with exactly these
  // values, and the DuckDB oracles (SparkEntry.oracleSql) hardcode
  // them, so a second value could never be verified.
  /** vec_id < NProbes are the probes; the rest is the corpus. */
  private val NProbes = 10
  /** Neighbors per probe returned by every top-k search. */
  private val TopK = 5
  /** Voters per probe in [[knnVote]]. */
  private val KnnVoters = 10
  /** LSH geometry: independent hyperplane tables × bits per table. */
  private val LshTables = 12
  private val LshBitsPerTable = 6
  /** IVF coarse quantizer: lists trained, lists probed, Lloyd passes. */
  private val IvfClusters = 16
  private val IvfProbeClusters = 4
  private val IvfIters = 3
  /** PQ codebook: subspaces, codes per subspace, Lloyd passes, and the
    * approx candidates each probe re-ranks by exact cosine.
    */
  private val PqSubspaces = 8
  private val PqCodes = 16
  private val PqIters = 3
  private val PqRerank = 20
  /** [[rangeSearch]]'s cosine threshold. */
  private val RangeTau = 0.25
  /** PCA: components kept, power iterations per component. */
  private val PcaComponents = 4
  private val PcaPowerIters = 200
  /** Label terms per cluster in [[clusterTopics]]. */
  private val TopicTerms = 5
  /** [[hybridRrf]]: per-arm depth, fused depth, RRF rank offset. */
  private val RrfArmK = 20
  private val RrfTopK = 10
  private val RrfOffset = 60
  /** Size cap for model training samples. Codebook quality saturates
    * at a few thousand training points per centroid family (the FAISS
    * rule of thumb is ~100–1000 points per centroid), so the sample —
    * not the corpus — bounds training cost.
    */
  private val TrainSampleSize = 4096

  // zero-norm vectors have no direction: cosine would be NaN, and
  // Spark ranks NaN above every number — they are excluded up front
  // (mirrored in the oracle SQL)
  private def probes(embeddings: DataFrame): DataFrame =
    embeddings.filter(col("vec_id") < NProbes)
      .select(col("vec_id").as("probe_id"),
        VectorOps.toDoubleArray(col("embedding")).as("pv"))
      .filter(VectorOps.dot(col("pv"), col("pv")) > 0)

  private def corpus(embeddings: DataFrame): DataFrame =
    embeddings.filter(col("vec_id") >= NProbes)
      .select(col("vec_id"), col("label"),
        VectorOps.toDoubleArray(col("embedding")).as("cv"))
      .filter(VectorOps.dot(col("cv"), col("cv")) > 0)

  /** The shared top-k epilogue: rank per probe by cosine desc with a
    * deterministic vec_id tie-break — ONE definition, because the
    * recall specs compare every ANN variant against [[bruteTopK]] and
    * so depend on all of them ranking and rounding identically.
    */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    scored
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("probe_id"), col("rnk"), col("vec_id"),
        round(col("cos"), 6).as("cos"))
      .orderBy(col("probe_id"), col("rnk"))
  }

  /** Brute-force cosine top-k: exact baseline. Probes broadcast; one
    * pass over the corpus; rank per probe with deterministic
    * tie-break on vec_id.
    */
  def bruteTopK(embeddings: DataFrame): DataFrame =
    rankTopK(
      corpus(embeddings)
        .crossJoin(broadcast(probes(embeddings)))
        .withColumn("cos", VectorOps.cosine(col("pv"), col("cv"))), TopK)

  /** Multi-table LSH ANN: candidates come from LshTables independent
    * hyperplane signatures (explode + one equi-join on the packed
    * table key); cosine is computed only for bucket collisions, then
    * duplicate (probe, vec) hits across tables collapse through a
    * keyed aggregate. Tables buy recall, bits buy pruning — with
    * 12 tables × 6 bits a cos≈0.3 true neighbor (this corpus is
    * near-random) is recovered ~45% of the time while scanning ~20%
    * of the corpus; on genuinely clustered embeddings the same
    * parameters prune far harder. Recall vs `bruteTopK` is the spec's
    * property check.
    */
  def annLshTopK(embeddings: DataFrame): DataFrame = {
    val p = probes(embeddings)
      .withColumn("bucket",
        explode(VectorOps.lshTableKeys(col("pv"), LshTables, LshBitsPerTable)))
    val c = corpus(embeddings)
      .withColumn("bucket",
        explode(VectorOps.lshTableKeys(col("cv"), LshTables, LshBitsPerTable)))
    val scored = c.join(broadcast(p), Seq("bucket"))
      .withColumn("cos", VectorOps.cosine(col("pv"), col("cv")))
      // same pair can collide in several tables; cos is identical on
      // every copy, so a keyed max collapses dups in the one shuffle
      // already needed to rank per probe
      .groupBy(col("probe_id"), col("vec_id"))
      .agg(max(col("cos")).as("cos"))
    rankTopK(scored, TopK)
  }

  /** One IVF centroid: id + unit-norm vector. */
  final case class Centroid(cluster_id: Int, centroid: Seq[Double])

  /** Corpus → (cluster_id, vec_id, cv) by broadcast centroid argmax —
    * shared by the IVF and IVF-SQ8 searches so their list assignments
    * are identical by construction. Centroids are unit vectors, so
    * argmax_c dot(v, c) ≡ argmax_c cos(v, c): no need to normalize the
    * data side for ranking.
    */
  private def assignClusters(c: DataFrame, cDF: DataFrame): DataFrame =
    c.crossJoin(cDF)
      .withColumn("d", VectorOps.dot(col("cv"), col("centroid")))
      .groupBy(col("vec_id"))
      .agg(expr("max_by(struct(cluster_id, cv), struct(d, -cluster_id))").as("m"))
      .select(col("m.cluster_id").as("cluster_id"), col("vec_id"), col("m.cv").as("cv"))

  /** [[assignClusters]] minus the vector payload: when the caller
    * only needs (vec_id, cluster_id) — the PQ paths, which re-derive
    * subvectors separately — hauling the 64-double array through the
    * argmax shuffle would multiply its width ~25× for nothing.
    */
  private def assignClusterIds(c: DataFrame, cDF: DataFrame): DataFrame =
    c.crossJoin(cDF)
      .withColumn("d", VectorOps.dot(col("cv"), col("centroid")))
      .groupBy(col("vec_id"))
      .agg(expr("max_by(cluster_id, struct(d, -cluster_id))").as("cluster_id"))
      .select(col("vec_id"), col("cluster_id"))

  /** Each probe's nProbeClusters nearest centroids (broadcast score +
    * per-probe rank) — shared by every IVF-routed search.
    */
  private def probeClusters(p: DataFrame, cDF: DataFrame,
      nProbeClusters: Int): DataFrame = {
    val wp = Window.partitionBy(col("probe_id"))
      .orderBy(col("d").desc, col("cluster_id"))
    p.crossJoin(cDF)
      .withColumn("d", VectorOps.dot(col("pv"), col("centroid")))
      .withColumn("r", row_number().over(wp))
      .filter(col("r") <= nProbeClusters)
      .select(col("probe_id"), col("pv"), col("cluster_id"))
  }

  /** A collected training sample plus a content fingerprint (ids +
    * exact double bits), so trained models can key on WHAT was
    * trained on, not on which DataFrame object happened to produce it.
    */
  private final case class TrainSample(vecs: Array[(Long, Array[Double])], fp: Long)

  /** Cross-query caches. Training is deterministic for fixed data
    * (every training parameter is a constant), so retraining the same
    * model per query is pure waste — at corpus scale each retrain
    * re-runs the TakeOrdered sample collect over the full corpus. The
    * sample caches on the corpus plan's `semanticHash` (same source ⇒
    * same plan ⇒ same sample; assumes the underlying files are
    * immutable within a JVM session); models cache on the sample's
    * CONTENT fingerprint, which is exact regardless of where the
    * sample came from.
    *
    * The model caches double as the record `SparkEntry.oracleSql`
    * reads: it interpolates the learned constants into the DuckDB
    * oracles (the same shared-model pattern as the LSH plane and
    * MinHash permutation literals — ONE model definition,
    * assignment/routing/search verified independently in SQL). If two
    * DIFFERENT corpora train in one JVM the model is ambiguous — the
    * `last*Model` accessors return None and the affected queries
    * degrade to rows-only rather than emit a wrong oracle.
    */
  private val sampleCache =
    new java.util.concurrent.ConcurrentHashMap[Int, TrainSample]()
  private val ivfCache =
    new java.util.concurrent.ConcurrentHashMap[Long, Seq[Centroid]]()
  private val pqCache =
    new java.util.concurrent.ConcurrentHashMap[Long, Seq[PqCentroid]]()
  // the residual-trained codebook is a DIFFERENT model from the plain
  // PQ codebook — its own cache so the two can never cross
  private val resPqCache =
    new java.util.concurrent.ConcurrentHashMap[Long, Seq[PqCentroid]]()

  /** Count of actual Lloyd trainings run this JVM (cache misses only)
    * — lets specs pin that a suite of ANN queries trains each model
    * once, and gives operators a cheap signal that a hot loop is
    * churning the cache.
    */
  private[graft] val trainingsRun = new java.util.concurrent.atomic.AtomicInteger(0)

  /** PCA model over the training sample: per-dimension mean + top-k
    * principal axes (orthonormal up to power-iteration convergence).
    * Like the IVF/PQ codebooks it is a tiny learned dimension table —
    * k·dim + dim doubles — that broadcasts into a distributed
    * projection; only the sample ever reaches the driver.
    */
  final case class PcaModel(mean: Array[Double], axes: Array[Array[Double]])

  private val pcaCache =
    new java.util.concurrent.ConcurrentHashMap[Long, PcaModel]()

  private def soleValue[V](m: java.util.concurrent.ConcurrentHashMap[Long, V]): Option[V] =
    if (m.size == 1) Some(m.values.iterator.next()) else None
  def lastIvfModel: Option[Seq[Centroid]] = soleValue(ivfCache)
  def lastPqModel: Option[Seq[PqCentroid]] = soleValue(pqCache)
  def lastResPqModel: Option[Seq[PqCentroid]] = soleValue(resPqCache)
  def lastPcaModel: Option[PcaModel] = soleValue(pcaCache)

  /** μ·axisₖ as ONE fixed-order driver-side sum — shared by the
    * projection operator and the SQL oracle emitter so the centering
    * literal cannot drift between them.
    */
  def pcaBias(m: PcaModel, k: Int): Double = {
    var s = 0.0; var d = 0
    while (d < m.mean.length) { s += m.mean(d) * m.axes(k)(d); d += 1 }
    s
  }

  /** Deterministic, content-independent training sample: the
    * [[TrainSampleSize]] corpus vectors with the lowest `md5(vec_id)`
    * (vec_id tie-break), unit-normalized, returned in vec_id order. A
    * TakeOrdered-shaped job — the corpus streams once and only the
    * winners move; at 100 TB the sample is the only vector data that
    * ever reaches the driver. The md5 ordering decorrelates the sample
    * from ingestion order (a plain `LIMIT n` would train on one
    * shard's vectors).
    */
  private def sampleUnitVecs(corpusVecs: DataFrame): Array[(Long, Array[Double])] =
    corpusVecs
      .select(col("vec_id"), col("cv"))
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(TrainSampleSize)
      .collect()
      .map { r =>
        // normalize the winners here instead of mapping an
        // interpreted per-element lambda over the whole corpus before
        // the TakeOrdered cut; sequential sum + Math.sqrt + division
        // are the exact double ops the SQL formulation ran, so
        // trained models are bit-identical
        val v = r.getSeq[Double](1).toArray
        var s = 0.0; var i = 0
        while (i < v.length) { s += v(i) * v(i); i += 1 }
        val norm = math.sqrt(s)
        i = 0
        while (i < v.length) { v(i) /= norm; i += 1 }
        (r.getLong(0), v)
      }
      .sortBy(_._1)

  /** The cached sample for a corpus plan: one TakeOrdered collect per
    * corpus per JVM, shared by every model that trains on it.
    */
  private def trainSample(corpusVecs: DataFrame): TrainSample =
    sampleCache.computeIfAbsent(corpusVecs.semanticHash(), { _ =>
      val vecs = sampleUnitVecs(corpusVecs)
      var h = 1125899906842597L // FNV-ish seeded polynomial over exact bits
      vecs.foreach { case (id, v) =>
        h = h * 31 + id
        var i = 0
        while (i < v.length) { h = h * 31 + java.lang.Double.doubleToLongBits(v(i)); i += 1 }
      }
      TrainSample(vecs, h)
    })

  /** IVF coarse quantizer: deterministic spherical k-means trained on
    * a bounded [[sampleUnitVecs]] sample, Lloyd run in memory on the
    * driver (init = the sample's lowest-vec_id vectors; assignment =
    * argmax dot with smaller-cluster_id tie-break; fixed iteration
    * order ⇒ bit-deterministic across runs and partitionings). The
    * centroid table is the *model* — k·dim doubles broadcast like any
    * learned dimension table. Every data-sized step (corpus
    * assignment, routing, search) stays a distributed plan; training
    * cost is bounded by the sample, not the corpus — running
    * distributed Lloyd over 100 TB per query to fit a 16×64-double
    * model would be shuffle for nothing. An empty corpus throws
    * `IllegalArgumentException("requirement failed: empty corpus")`.
    */
  def ivfTrain(corpusVecs: DataFrame): Seq[Centroid] =
    ivfTrainOnSample(trainSample(corpusVecs))

  /** The ONE coarse-assignment rule: argmax dot, strict > so ties
    * keep the smaller cluster id — shared by Lloyd training and
    * residual computation so the rule cannot drift between them (it
    * must also always match [[assignClusters]]'s
    * `max_by(…, struct(d, -cluster_id))`).
    */
  private def nearestCentroid(v: Array[Double], cents: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.NegativeInfinity
    var c = 0
    while (c < cents.length) {
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i) * cents(c)(i); i += 1 }
      if (s > bestD) { bestD = s; best = c }
      c += 1
    }
    best
  }

  private def ivfTrainOnSample(ts: TrainSample): Seq[Centroid] =
    ivfCache.computeIfAbsent(ts.fp, _ => ivfLloyd(ts.vecs))

  private def ivfLloyd(samplePairs: Array[(Long, Array[Double])]): Seq[Centroid] = {
    trainingsRun.incrementAndGet()
    val sample = samplePairs.map(_._2)
    require(sample.nonEmpty, "empty corpus")
    val dim = sample(0).length
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < dim) { s += a(i) * b(i); i += 1 }
      s
    }
    var centroids: Array[Array[Double]] =
      sample.take(IvfClusters).map(_.clone())
    for (_ <- 1 to IvfIters) {
      val sums = Array.fill(centroids.length)(new Array[Double](dim))
      val counts = new Array[Long](centroids.length)
      sample.foreach { v =>
        val best = nearestCentroid(v, centroids)
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
        counts(best) += 1
      }
      centroids = centroids.zipWithIndex.map { case (old, c) =>
        // spherical update: the summed direction, unit-normalized
        // (the sum and the mean point the same way); empty or
        // degenerate clusters keep their centroid in place
        val norm = math.sqrt(dot(sums(c), sums(c)))
        if (counts(c) == 0L || norm == 0.0) old
        else sums(c).map(_ / norm)
      }
    }
    centroids.zipWithIndex.map { case (v, i) => Centroid(i, v.toSeq) }.toSeq
  }

  /** IVF ANN: corpus vectors are assigned once to their nearest coarse
    * centroid (broadcast cross-score + keyed argmax — the corpus never
    * shuffles); each probe searches only its IvfProbeClusters nearest
    * inverted lists. Scanned fraction ≈ IvfProbeClusters / IvfClusters
    * on balanced lists; this is the classic IVF-Flat trade. The spec
    * plants an identical vector (guaranteed same cluster as its probe
    * ⇒ guaranteed recall) and reports observed recall vs `bruteTopK`.
    * An empty corpus throws [[ivfTrain]]'s "empty corpus" error while
    * the DataFrame is built.
    */
  def annIvfTopK(embeddings: DataFrame): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val c = corpus(embeddings)
    val centroids = ivfTrain(c)
    val cDF = broadcast(spark.createDataset(centroids).toDF())
    val assigned = assignClusters(c, cDF)
    val pc = probeClusters(probes(embeddings), cDF, IvfProbeClusters)
    rankTopK(
      assigned.join(broadcast(pc), Seq("cluster_id"))
        .withColumn("cos", VectorOps.cosine(col("pv"), col("cv"))), TopK)
  }

  /** Semantic topic labeling: IVF-cluster the embedding corpus with
    * the SAME trained coarse quantizer the ANN queries use (one cached
    * model per corpus), then label each cluster with its top TF-IDF
    * terms — tf summed over member docs, idf at cluster granularity
    * (ln((C+1)/(cf+1)), cf = clusters containing the term). The
    * "what is this corpus about" primitive: k-means topics with
    * readable labels, composed entirely from verified stages. Member
    * assignment is the broadcast-centroid argmax (corpus never
    * shuffles for it); the doc join keys on doc_id; term stats are
    * cluster-keyed aggregates over ≤ IvfClusters·|vocab| rows. An
    * empty corpus throws [[ivfTrain]]'s "empty corpus" error while the
    * DataFrame is built.
    */
  def clusterTopics(documents: DataFrame, embeddings: DataFrame): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val c = corpus(embeddings)
    val cDF = broadcast(spark.createDataset(ivfTrain(c)).toDF())
    val member = assignClusterIds(c, cDF)
    val terms = documents
      .join(member, documents("doc_id") === member("vec_id"))
      .select(col("cluster_id"), explode(split(col("text"), " ")).as("w"))
    // one shared TF-IDF core with tfidfTopTerms (group = cluster —
    // a HANDFUL of groups, so the partial WindowGroupLimit pass is
    // the right plan and the bare-window arm is kept; see topKByScore)
    graft.operators.TextOps.tfidfTopK(terms, "cluster_id",
        terms.agg(count_distinct(col("cluster_id")).as("n_groups")), TopicTerms,
        corpusSizedGroups = false)
      .select(col("cluster_id").cast("long").as("cluster_id"), col("rnk"),
        col("term"), col("score"))
      .orderBy(col("cluster_id"), col("rnk"))
  }

  /** One product-quantization codebook row: subspace, code id, and
    * the (dim/PqSubspaces)-dim sub-centroid.
    */
  final case class PqCentroid(s: Int, c: Int, centroid: Seq[Double])

  /** Train PQ codebooks: the unit-normalized vector splits into
    * PqSubspaces contiguous subspaces, each L2-quantized to PqCodes
    * centroids. Like [[ivfTrain]], Lloyd runs in memory on a bounded
    * [[sampleUnitVecs]] sample (init = the sample's lowest-vec_id
    * subvectors; assignment = the same argmax(sub·c − ‖c‖²/2) with
    * smaller-code tie-break as [[assignCodes]]; fixed iteration order
    * ⇒ deterministic). The codebook is the model — PqSubspaces ×
    * PqCodes × subDim doubles broadcast everywhere; encoding and the
    * ADC scan — the data-sized steps — stay distributed plans.
    */
  private def pqTrainOnSample(ts: TrainSample): Seq[PqCentroid] =
    pqCache.computeIfAbsent(ts.fp, _ => lloydPq(ts.vecs))

  /** Residual-PQ codebook: like [[pqTrainOnSample]] but trained on each sample
    * vector's residual against its assigned coarse centroid
    * (assignment = the same argmax-dot / smaller-id rule as
    * [[assignClusters]]; unit centroids make raw-vs-normalized
    * assignment identical). Quantizing residuals instead of the
    * vectors themselves is the standard IVF-PQ refinement: within a
    * list the residual magnitudes are a fraction of the vector norms,
    * so the same 4-bit budget spends on much finer structure.
    */
  private def pqTrainResidualsOnSample(ts: TrainSample,
      centroids: Seq[Centroid]): Seq[PqCentroid] =
    // `centroids` is the IVF model trained on the same sample, so the
    // sample fingerprint alone keys the residual codebook
    resPqCache.computeIfAbsent(ts.fp, { _ =>
      val cents = centroids.sortBy(_.cluster_id).map(_.centroid.toArray).toArray
      val residuals = ts.vecs.map { case (id, v) =>
        val best = nearestCentroid(v, cents)
        val r = new Array[Double](v.length)
        var i = 0
        while (i < v.length) { r(i) = v(i) - cents(best)(i); i += 1 }
        (id, r)
      }
      lloydPq(residuals)
    })

  private def lloydPq(sample: Array[(Long, Array[Double])]): Seq[PqCentroid] = {
    trainingsRun.incrementAndGet()
    require(sample.nonEmpty, "empty corpus")
    val nSub = PqSubspaces
    val dim = sample(0)._2.length
    val subDim = dim / nSub
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < subDim) { s += a(i) * b(i); i += 1 }
      s
    }
    // subvectors per sample vector: subs(v)(s) = s-th contiguous slice
    val subs: Array[Array[Array[Double]]] = sample.map { case (_, v) =>
      Array.tabulate(nSub)(s => java.util.Arrays.copyOfRange(v, s * subDim, (s + 1) * subDim))
    }
    // init = the PqCodes lowest vec_ids in the sample (sample is
    // vec_id-sorted), code id = rank within that set
    var codebook: Array[Array[Array[Double]]] =
      Array.tabulate(nSub)(s => subs.take(PqCodes).map(_(s).clone()))
    for (_ <- 1 to PqIters) {
      val sums = Array.fill(nSub, PqCodes)(new Array[Double](subDim))
      val counts = Array.fill(nSub)(new Array[Long](PqCodes))
      subs.foreach { vsubs =>
        var s = 0
        while (s < nSub) {
          val sub = vsubs(s)
          var best = 0; var bestScore = Double.NegativeInfinity
          var c = 0
          while (c < codebook(s).length) { // strict > ties to the smaller code
            val cent = codebook(s)(c)
            val score = dot(sub, cent) - dot(cent, cent) / 2.0
            if (score > bestScore) { bestScore = score; best = c }
            c += 1
          }
          var i = 0
          while (i < subDim) { sums(s)(best)(i) += sub(i); i += 1 }
          counts(s)(best) += 1
          s += 1
        }
      }
      codebook = Array.tabulate(nSub)(s => Array.tabulate(codebook(s).length) { c =>
        if (counts(s)(c) == 0L) codebook(s)(c) // code lost all members; keep it
        else sums(s)(c).map(_ / counts(s)(c))
      })
    }
    (for (s <- 0 until nSub; c <- 0 until codebook(s).length)
      yield PqCentroid(s, c, codebook(s)(c).toSeq)).toSeq
  }

  /** (vec_id, s, sub): the unit-normalized vector's PqSubspaces
    * contiguous subvectors — one narrow map, the corpus never shuffles.
    */
  private def subVectors(corpusVecs: DataFrame): DataFrame = {
    val nSub = PqSubspaces
    corpusVecs
      .withColumn("norm", sqrt(VectorOps.dot(col("cv"), col("cv"))))
      // subDim derives from the vector itself (size(cv) div nSub), so
      // a corpus of any dimensionality splits correctly — with a guard
      // that the dimension actually divides into nSub subspaces
      // instead of silently slicing a ragged tail off
      .withColumn("subdim",
        when(pmod(size(col("cv")), lit(nSub)) === 0, size(col("cv")).cast("int") / nSub)
          .otherwise(raise_error(concat(lit(s"embedding dim "), size(col("cv")),
            lit(s" not divisible by nSub=$nSub")))).cast("int"))
      .select(col("vec_id"), explode(expr(
        s"transform(sequence(0, ${nSub - 1})," +
          " s -> struct(s as s, transform(slice(cv, s * subdim + 1, subdim)," +
          " x -> x / norm) as sub))")).as("e"))
      .select(col("vec_id"), col("e.s").as("s"), col("e.sub").as("sub"))
  }

  /** Per (vec_id, s): the L2-nearest code (tie → smaller c) against a
    * broadcast codebook — shared by training, encoding and search so
    * assignments agree by construction. argmin‖sub − c‖² ≡
    * argmax (sub·c − ‖c‖²/2), which runs through the codegen'd
    * `graft_dot` instead of an interpreted zip_with fold — this is
    * the hot loop of training AND encoding
    * (|corpus|·PqSubspaces·PqCodes evaluations per pass).
    */
  private def assignCodes(subs: DataFrame, cb: DataFrame): DataFrame = {
    val scored = cb.withColumn("half_cn2",
      VectorOps.dot(col("centroid"), col("centroid")) / 2.0)
    // max_by carries ONLY the code int, not the subvector: every
    // consumer re-derives what it needs from (vec_id, s, c), and the
    // aggregate's partial state runs on scan-wide partitions — at 5 M
    // vectors an 8-double payload per (vec_id, s) group is multi-GB
    // of hash-map state per partition and the partial agg spills
    // (measured at generated sf100, round 11: ann_ivfpq_topk 111.9 s
    // → see SCALING.md for the post-fix number)
    subs.join(scored, Seq("s"))
      .withColumn("score",
        VectorOps.dot(col("sub"), col("centroid")) - col("half_cn2"))
      .groupBy(col("vec_id"), col("s"))
      .agg(expr("max_by(c, struct(score, -c))").as("c"))
  }

  /** PQ encoding: each corpus vector compresses to one packed long
    * (PqSubspaces codes × log₂(PqCodes) bits — 64-dim float → 4
    * bytes, a 64× storage cut). This is the 100 TB memory story:
    * the ADC scan in [[annPqTopK]] reads ONLY these codes, never the
    * vectors.
    */
  /** The shared PQ prologue: train the codebook on the bounded
    * sample (one TakeOrdered collect — no cached distributed state,
    * so there is nothing to release and the call is safe under
    * executor loss), broadcast it, and hand the caller the lazy
    * corpus subvector table for the data-sized encode/search body.
    * ONE definition, because every PQ consumer must quantize against
    * an identically-trained codebook.
    */
  private def withTrainedSubs(embeddings: DataFrame)(
      body: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val c = corpus(embeddings)
    val codebook = pqTrainOnSample(trainSample(c))
    val cb = broadcast(spark.createDataset(codebook).toDF())
    body(subVectors(c), cb)
  }

  /** An empty corpus throws the PQ trainer's "empty corpus" error
    * while the DataFrame is built.
    */
  def pqCodes(embeddings: DataFrame): DataFrame = {
    // 8 subspaces × 4 bits: the packed code fits one long
    val bitsPerCode = 32 - Integer.numberOfLeadingZeros(PqCodes - 1)
    withTrainedSubs(embeddings) { (subs, cb) =>
      assignCodes(subs, cb)
        .groupBy(col("vec_id"))
        .agg(sum(expr(
          s"shiftleft(CAST(c AS BIGINT), CAST(s * $bitsPerCode AS INT))"))
          .as("pq_code"))
        .orderBy(col("vec_id"))
    }
  }

  /** PQ ANN: asymmetric-distance top-k. Each probe computes a tiny
    * (PqSubspaces × PqCodes) dot-product table against the codebook;
    * the corpus contributes only its codes, so the scan is a broadcast
    * lookup join + a (probe, vec)-keyed sum — no vectors move. The
    * approx ranking picks PqRerank candidates, which re-rank by exact
    * cosine (the standard ADC + re-rank shape). Same output contract
    * as [[bruteTopK]]; planted-recall spec. An empty corpus throws the
    * PQ trainer's "empty corpus" error while the DataFrame is built.
    */
  def annPqTopK(embeddings: DataFrame): DataFrame =
    withTrainedSubs(embeddings) { (subs, cb) =>
      adcRerankTopK(embeddings,
        assignCodes(subs, cb).select(col("vec_id"), col("s"), col("c")), cb)
    }

  /** The shared ADC epilogue: per-probe distance tables against the
    * codebook, the approx (probe, vec) ranking over a codes DataFrame,
    * the PqRerank candidate cut and the exact-cosine re-rank into
    * [[rankTopK]]'s contract. ONE definition, because every
    * code-scanning ANN variant must rank identically — a fix to the
    * dt formula, the ADC tie-break or the rerank cut must not
    * silently miss a variant. `codes` is (vec_id, s, c) for a full
    * ADC scan (every probe × every code); with a `probe_id` column
    * — (probe_id, vec_id, s, c), the IVF-routed shape — each code row
    * scores only against its routed probe.
    */
  private def adcRerankTopK(embeddings: DataFrame, codes: DataFrame,
      cb: DataFrame): DataFrame = {
    val dt = probeDistanceTable(embeddings, cb)
    val dtKeys =
      if (codes.columns.contains("probe_id")) Seq("probe_id", "s", "c")
      else Seq("s", "c")
    // the PqSubspaces per-code distances sum as DECIMAL(38,18): a
    // double sum over shuffled rows is addition-order-dependent
    // (partial-agg arrival order varies run to run), and a last-ulp
    // wobble at the rerank cut would make the candidate set — and the
    // oracle compare — nondeterministic; decimal is exact and
    // associative
    val approx = codes.join(broadcast(dt), dtKeys)
      .groupBy(col("probe_id"), col("vec_id"))
      .agg(sum(col("dp").cast("decimal(38,18)")).as("approx"))
    rerankExact(embeddings, approx)
  }

  /** Per-probe distance table: dot(probe_sub, centroid) for every
    * (s, code) — PqSubspaces·PqCodes rows per probe, broadcast
    * everywhere.
    */
  private def probeDistanceTable(embeddings: DataFrame, cb: DataFrame): DataFrame =
    subVectors(
      probes(embeddings).select(col("probe_id").as("vec_id"), col("pv").as("cv")))
      .join(cb, Seq("s"))
      .select(col("vec_id").as("probe_id"), col("s"), col("c"),
        VectorOps.dot(col("sub"), col("centroid")).as("dp"))

  /** The rerank-cut + exact-cosine epilogue shared by every ADC
    * variant: `approx` is (probe_id, vec_id, approx) with approx
    * decimal-exact; the top PqRerank per probe re-rank by true cosine
    * into [[rankTopK]]'s contract.
    */
  private def rerankExact(embeddings: DataFrame, approx: DataFrame): DataFrame = {
    val wa = Window.partitionBy(col("probe_id"))
      .orderBy(col("approx").desc, col("vec_id"))
    val cand = approx.withColumn("ar", row_number().over(wa))
      .filter(col("ar") <= PqRerank)
      .select(col("probe_id"), col("vec_id"))
    rankTopK(
      cand.join(corpus(embeddings), Seq("vec_id"))
        .join(broadcast(probes(embeddings)), Seq("probe_id"))
        .withColumn("cos", VectorOps.cosine(col("pv"), col("cv"))), TopK)
  }

  /** IVF-PQ ANN: the 100 TB composition — the IVF coarse quantizer
    * routes each probe to IvfProbeClusters inverted lists, and within
    * the probed lists the ADC scan reads ONLY the PQ codes (4 bytes a
    * vector), so a search touches ~(IvfProbeClusters/IvfClusters) of
    * the corpus as codes and exactly PqRerank full vectors. Codes here
    * quantize the unit vectors directly (IVF-Flat routing + PQ
    * storage); encoding residuals against the assigned centroid is the
    * standard refinement when quantization error dominates.
    * Planted-recall spec. An empty corpus throws the trainers' "empty
    * corpus" error while the DataFrame is built.
    */
  def annIvfPqTopK(embeddings: DataFrame): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val c = corpus(embeddings)
    val centroids = ivfTrain(c)
    val cDF = broadcast(spark.createDataset(centroids).toDF())
    val listed = assignClusterIds(c, cDF) // (vec_id, cluster_id)
    withTrainedSubs(embeddings) { (subs, cb) =>
      // the IVF-PQ index shape: (cluster_id, vec_id, s, c) — codes
      // partitioned by inverted list
      val codes = assignCodes(subs, cb)
        .select(col("vec_id"), col("s"), col("c"))
        .join(listed, Seq("vec_id"))
      val pc = probeClusters(probes(embeddings), cDF, IvfProbeClusters)
      // route codes to probed lists only, then the shared ADC epilogue
      // scores each code row against its routed probe
      val routed = codes.join(broadcast(pc.select(col("probe_id"), col("cluster_id"))),
        Seq("cluster_id"))
        .select(col("probe_id"), col("vec_id"), col("s"), col("c"))
      adcRerankTopK(embeddings, routed, cb)
    }
  }

  /** cdot(cluster_id, s, c) = dot(coarse-centroid subvector, code
    * centroid): the cross table of the two models (IvfClusters ×
    * PqSubspaces × PqCodes rows) that makes residual arithmetic linear
    * — derived by both Spark and the SQL oracle from the same model
    * literals.
    */
  private def centroidCodeDots(cDF: DataFrame, cb: DataFrame): DataFrame =
    cDF.select(col("cluster_id"), col("centroid").as("ivf_centroid"))
      .crossJoin(cb)
      // subDim = the code centroid's own length (not a hardcoded
      // dim/PqSubspaces): any corpus dimensionality slices correctly,
      // and the guard fails loudly if the two models' shapes ever
      // disagree
      .select(col("cluster_id"), col("s"), col("c"),
        VectorOps.dot(
          expr("CASE WHEN size(ivf_centroid) = size(centroid) * " + PqSubspaces +
            " THEN slice(ivf_centroid, s * size(centroid) + 1, size(centroid)) " +
            "ELSE raise_error('IVF centroid dim <> code subdim * nSub') END"),
          col("centroid")).as("cdot"))

  /** Per (vec_id, s): the residual code — argmax over codes of
    * (sub − c_sub)·q − ‖q‖²/2, computed WITHOUT materializing residual
    * vectors via the linear split (sub·q) − cdot(cluster, s, q) —
    * tie → smaller code, exactly [[assignCodes]]'s rule.
    */
  private def assignResidualCodes(subs: DataFrame, clusters: DataFrame,
      cb: DataFrame, cdot: DataFrame): DataFrame = {
    val scored = cb.withColumn("half_cn2",
      VectorOps.dot(col("centroid"), col("centroid")) / 2.0)
    subs.join(clusters, Seq("vec_id"))
      .join(scored, Seq("s"))
      .join(cdot, Seq("cluster_id", "s", "c"))
      .withColumn("score",
        VectorOps.dot(col("sub"), col("centroid")) - col("cdot") - col("half_cn2"))
      .groupBy(col("vec_id"), col("s"))
      .agg(expr("max_by(struct(c, cluster_id), struct(score, -c))").as("m"))
      .select(col("vec_id"), col("s"), col("m.c").as("c"),
        col("m.cluster_id").as("cluster_id"))
  }

  /** Residual IVF-PQ ANN: the full FAISS-style composition — codes
    * quantize each vector's RESIDUAL against its assigned coarse
    * centroid (trained on sample residuals,
    * [[pqTrainResidualsOnSample]]), so the 4-bit-per-subspace budget
    * resolves within-list structure instead of re-encoding the
    * centroid every vector in the list shares. All residual
    * arithmetic uses the linear split (v − c)·q = v·q − c·q with the
    * broadcast [[centroidCodeDots]] table: neither encoding nor the
    * ADC scan ever materializes a residual vector, the corpus still
    * contributes only its codes, and the approx sum stays
    * decimal-exact. Same output contract as [[bruteTopK]];
    * planted-recall spec + full model-literal oracle. An empty corpus
    * throws the trainers' "empty corpus" error while the DataFrame is
    * built.
    */
  def annIvfPqResTopK(embeddings: DataFrame): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val c = corpus(embeddings)
    val sample = trainSample(c)
    val centroids = ivfTrainOnSample(sample)
    val codebook = pqTrainResidualsOnSample(sample, centroids)
    val cDF = broadcast(spark.createDataset(centroids).toDF())
    val cb = broadcast(spark.createDataset(codebook).toDF())
    val cdot = broadcast(centroidCodeDots(cDF, cb))
    val listed = assignClusterIds(c, cDF)
    val codes = assignResidualCodes(subVectors(c), listed, cb, cdot)
    val pc = probeClusters(probes(embeddings), cDF, IvfProbeClusters)
    val dt = probeDistanceTable(embeddings, cb)
    // approx similarity = p̂·(c + q̂) = p̂·c + Σₛ p̂ₛ·qₛ — the p̂·c term
    // is what ranks vectors from DIFFERENT probed lists correctly
    // (without it only the residual cross-term survives and
    // cross-cluster comparisons are meaningless)
    val pcd = broadcast(pc.join(cDF, Seq("cluster_id"))
      .select(col("probe_id"), col("cluster_id"),
        (VectorOps.dot(col("pv"), col("centroid")) /
          sqrt(VectorOps.dot(col("pv"), col("pv")))).as("pcdot")))
    val approx = codes
      .join(broadcast(pc.select(col("probe_id"), col("cluster_id"))), Seq("cluster_id"))
      .join(broadcast(dt), Seq("probe_id", "s", "c"))
      .groupBy(col("probe_id"), col("vec_id"), col("cluster_id"))
      .agg(sum(col("dp").cast("decimal(38,18)")).as("sum_dp"))
      .join(pcd, Seq("probe_id", "cluster_id"))
      // exact decimal Σdp casts back to double before adding p̂·c: a
      // double + double in a fixed order — identical in both engines
      // (decimal+decimal would round differently under Spark's
      // precision-loss promotion vs DuckDB's)
      .withColumn("approx", col("sum_dp").cast("double") + col("pcdot"))
      .select(col("probe_id"), col("vec_id"), col("approx"))
    rerankExact(embeddings, approx)
  }

  /** ANN quality harness: per-probe recall@k of the LSH index against
    * the exact [[bruteTopK]] baseline — the measurement every
    * approximate-index rollout needs before trusting it at corpus
    * scale. Both sides are top-k tables (NProbes·TopK rows), so the
    * comparison join is trivially small whatever the corpus size; the
    * cost is the two searches themselves. n_hits is exact integer,
    * recall = n_hits/TopK in one fixed-order double division.
    */
  def recallAtK(embeddings: DataFrame): DataFrame = {
    val brute = bruteTopK(embeddings)
      .select(col("probe_id"), col("vec_id"))
    val approx = annLshTopK(embeddings)
      .select(col("probe_id"), col("vec_id"), lit(1L).as("hit"))
    brute.join(approx, Seq("probe_id", "vec_id"), "left")
      .groupBy(col("probe_id"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .select(col("probe_id"), col("n_hits"),
        round(col("n_hits") / lit(TopK.toDouble), 6).as("recall"))
      .orderBy(col("probe_id"))
  }

  /** Range search: every corpus vector within cosine ≥ RangeTau of each
    * probe (the "all near neighbors" companion to top-k — what a
    * contamination / near-dup-against-eval check runs). Probes
    * broadcast, corpus streamed once, no shuffle at all: the filter
    * runs where the scan runs. Same exact-cosine contract as
    * [[bruteTopK]]; swap the corpus side to LSH buckets exactly as
    * `annLshTopK` does when the probe set outgrows a broadcast.
    */
  def rangeSearch(embeddings: DataFrame): DataFrame =
    corpus(embeddings)
      .crossJoin(broadcast(probes(embeddings)))
      .withColumn("cos", VectorOps.cosine(col("pv"), col("cv")))
      .filter(col("cos") >= RangeTau)
      .select(col("probe_id"), col("vec_id"), round(col("cos"), 6).as("cos"))
      .orderBy(col("probe_id"), col("vec_id"))

  /** Per-label centroids in long form (label, dim, mean, n): the
    * class-prototype table behind nearest-centroid classification and
    * cluster drift monitoring. One posexplode + one (label, dim)-keyed
    * aggregate — map-side combined, dim×labels keys ⇒ skew-free.
    * Component sums accumulate as DECIMAL(38,15) (exact, associative)
    * so the means are independent of partitioning, then divide out as
    * doubles.
    */
  def labelCentroids(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("label"), posexplode(VectorOps.toDoubleArray(col("embedding")))
        .as(Seq("dim", "x")))
      .groupBy(col("label"), col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast("decimal(38,15)")).as("sx"))
      .select(col("label"), col("dim").cast("long").as("dim"),
        round(col("sx").cast("double") / col("n"), 9).as("mean"), col("n"))
      .orderBy(col("label"), col("dim"))

  /** Deterministic PCA fit on the in-memory sample: exact mean +
    * centered covariance accumulated in fixed order, then power
    * iteration with deflation for the top PcaComponents axes. A fixed
    * iteration count and a fixed generic start vector (no randomness)
    * make the fit bit-deterministic across runs and partitionings —
    * the same property every other trained model here relies on for
    * its literal-interpolated oracle. Sign convention: the
    * largest-|coordinate| entry of each axis is positive (first
    * index on ties), so the axis orientation is well-defined. A
    * sample whose deflated covariance maps an iterate to exactly zero
    * (a single vector, or identical ones: zero covariance) throws
    * `IllegalArgumentException` "power iteration collapsed".
    */
  private[graft] def pcaFit(samplePairs: Array[(Long, Array[Double])]): PcaModel = {
    trainingsRun.incrementAndGet()
    val sample = samplePairs.map(_._2)
    require(sample.nonEmpty, "empty corpus")
    val dim = sample(0).length
    require(PcaComponents <= dim, "more components than dimensions")
    val n = sample.length
    def forDim(f: Int => Unit): Unit = {
      var i = 0; while (i < dim) { f(i); i += 1 }
    }
    val mean = new Array[Double](dim)
    sample.foreach(v => forDim(i => mean(i) += v(i)))
    forDim(i => mean(i) /= n)
    val cov = Array.ofDim[Double](dim, dim)
    sample.foreach { v =>
      forDim { i =>
        val di = v(i) - mean(i)
        forDim(j => cov(i)(j) += di * (v(j) - mean(j)))
      }
    }
    forDim(i => forDim(j => cov(i)(j) /= n))
    // cov·x for the current (deflated) covariance
    def matVec(x: Array[Double]): Array[Double] = {
      val out = new Array[Double](dim)
      forDim { i =>
        var s = 0.0; var j = 0
        while (j < dim) { s += cov(i)(j) * x(j); j += 1 }
        out(i) = s
      }
      out
    }
    val axes = Array.ofDim[Double](PcaComponents, dim)
    var k = 0
    while (k < PcaComponents) {
      // generic deterministic start: decaying weights offset per
      // component so no start is symmetric with a coordinate axis
      var w = Array.tabulate(dim)(i => 1.0 / (1 + i + 3 * k))
      var it = 0
      while (it < PcaPowerIters) {
        val nw = matVec(w)
        var norm = 0.0
        forDim(i => norm += nw(i) * nw(i))
        norm = math.sqrt(norm)
        require(norm > 0, s"power iteration collapsed at component $k")
        forDim(i => nw(i) /= norm)
        w = nw; it += 1
      }
      var amax = 0
      forDim(i => if (math.abs(w(i)) > math.abs(w(amax))) amax = i)
      if (w(amax) < 0) forDim(i => w(i) = -w(i))
      axes(k) = w
      // deflate: cov ← cov − λ·w·wᵀ with λ = wᵀ·cov·w
      val cw = matVec(w)
      var lam = 0.0
      forDim(i => lam += w(i) * cw(i))
      forDim(i => forDim(j => cov(i)(j) -= lam * w(i) * w(j)))
      k += 1
    }
    PcaModel(mean, axes)
  }

  /** Train (or fetch the cached) PCA model for a corpus — same
    * sample/caching discipline as [[ivfTrain]]: one TakeOrdered
    * sample per corpus per JVM, models keyed on the sample's content
    * fingerprint. Throws what [[pcaFit]] throws.
    */
  def pcaTrain(corpusVecs: DataFrame): PcaModel = {
    val ts = trainSample(corpusVecs)
    pcaCache.computeIfAbsent(ts.fp, _ => pcaFit(ts.vecs))
  }

  /** PCA projection of the corpus onto the top PcaComponents principal
    * axes — the dimensionality-reduction step before cheap ANN /
    * clustering / visualization. The model is driver-trained on the bounded
    * sample ([[pcaFit]]); the projection is a narrow per-row map:
    * each component is one fixed-order multiply-add chain over the
    * vector's elements (codegen'd, no shuffle) using the axis
    * literals, with the centering folded into a per-component scalar
    * bias (y = v·w − μ·w) so centered vectors never materialize —
    * the same linear split the residual IVF-PQ ADC uses. The oracle
    * re-derives the identical chain from the identical literals. The
    * model is trained while the DataFrame is built, so an empty corpus
    * throws "empty corpus" and a zero-covariance one "power iteration
    * collapsed" ([[pcaFit]]) there.
    */
  def pcaProject(embeddings: DataFrame): DataFrame = {
    val cvs = corpus(embeddings)
    val m = pcaTrain(cvs)
    cvs.select(col("vec_id") +: pcaColumns(m): _*).orderBy(col("vec_id"))
  }

  /** Explained-variance diagnostics for the trained PCA model: the
    * population mean/variance of each component's corpus projections
    * (decimal-exact moments over the ROUNDED projections, so both
    * engines aggregate identical inputs) — the "how many components
    * do I keep" table. Reuses [[pcaProject]]'s exact output; one
    * narrow projection pass + a PcaComponents-row aggregate. Throws
    * what [[pcaProject]] throws.
    */
  def pcaVariance(embeddings: DataFrame): DataFrame = {
    val proj = pcaProject(embeddings)
    val perComp = (1 to PcaComponents).map { k =>
      proj.select(lit(k.toLong).as("component"), col(s"pc$k").as("y"))
    }.reduce(_ unionAll _)
    perComp.groupBy(col("component"))
      .agg(count(lit(1)).as("n"),
        sum(col("y").cast("decimal(38,15)")).as("sy"),
        sum((col("y") * col("y")).cast("decimal(38,15)")).as("syy"))
      .select(col("component"), col("n"),
        round(col("sy").cast("double") / col("n"), 9).as("mean"),
        round(greatest(lit(0.0), col("syy").cast("double") / col("n")
          - (col("sy").cast("double") / col("n"))
            * (col("sy").cast("double") / col("n"))), 9).as("variance"))
      .orderBy(col("component"))
  }

  /** The projection columns for a trained model over a `cv`
    * double-array column — ONE definition for the batch operator and
    * the streaming twin (`DocPipelineJobs.pcaStream`), so live
    * projections are bit-identical to batch.
    */
  private[graft] def pcaColumns(m: PcaModel): IndexedSeq[Column] = {
    val dim = m.mean.length
    m.axes.toIndexedSeq.zipWithIndex.map { case (w, k) =>
      val chain = (0 until dim).map(d => col("cv").getItem(d) * lit(w(d)))
        .reduce(_ + _)
      round(chain - lit(pcaBias(m, k)), 6).as(s"pc${k + 1}")
    }
  }

  /** Whitened embeddings: z = (x − μ_dim)/σ_dim per element — the
    * apply step of the [[dimStats]] fit, emitted as exploded
    * (vec_id, dim, z) rows. The stats aggregate is dim-keyed (tiny:
    * one row per dimension) and broadcasts back onto the exploded
    * corpus, so the corpus never shuffles — one scan, one broadcast
    * join, the presentation sort. μ/σ stay UNROUNDED doubles derived
    * from exact decimal moments (bit-identical in both engines); a
    * zero-variance dimension whitens to 0 rather than dividing by
    * zero. At 100 TB this is the standard pre-index normalization
    * pass: stats job + narrow map, nothing corpus-sized moves.
    */
  def whiten(embeddings: DataFrame): DataFrame =
    applyWhiten(explodedDims(embeddings), whitenStats(embeddings))
      .orderBy(col("vec_id"), col("dim"))

  /** (vec_id, dim, x) rows of an embedding frame — shared by the
    * batch operator and the streaming twin.
    */
  private[graft] def explodedDims(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id"),
      posexplode(VectorOps.toDoubleArray(col("embedding"))).as(Seq("dim", "x")))

  /** The whitening fit: per-dim UNROUNDED μ/σ from exact decimal
    * moments — the frozen stats a batch fit hands to the streaming
    * scorer (`DocPipelineJobs.whitenStream`).
    */
  private[graft] def whitenStats(embeddings: DataFrame): DataFrame = {
    val mu = col("sx").cast("double") / col("n")
    explodedDims(embeddings).groupBy(col("dim"))
      .agg(sum(col("x").cast("decimal(38,15)")).as("sx"),
        sum((col("x") * col("x")).cast("decimal(38,15)")).as("sxx"),
        count(lit(1)).as("n"))
      .select(col("dim"), mu.as("mu"),
        sqrt(greatest(lit(0.0),
          col("sxx").cast("double") / col("n") - mu * mu)).as("sd"))
  }

  /** The order-free whitening apply — ONE definition for batch and
    * stream so z can't drift between them.
    */
  private[graft] def applyWhiten(ex: DataFrame, stats: DataFrame): DataFrame =
    ex.join(broadcast(stats), Seq("dim"))
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        round(when(col("sd") === 0, lit(0.0))
          .otherwise((col("x") - col("mu")) / col("sd")), 6).as("z"))

  /** Per-dimension corpus statistics (dim, n, mean, std): the
    * whitening/normalization table an embedding pipeline fits before
    * indexing (zero-center, unit-variance). Same shape as
    * [[labelCentroids]] — one posexplode + one dim-keyed aggregate
    * with DECIMAL moment sums (exact, associative ⇒
    * partitioning-independent), population variance from the two
    * moments, rounded for engine parity.
    */
  def dimStats(embeddings: DataFrame): DataFrame =
    embeddings
      .select(posexplode(VectorOps.toDoubleArray(col("embedding")))
        .as(Seq("dim", "x")))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast("decimal(38,15)")).as("sx"),
        sum((col("x") * col("x")).cast("decimal(38,15)")).as("sxx"))
      .select(col("dim").cast("long").as("dim"), col("n"),
        round(col("sx").cast("double") / col("n"), 9).as("mean"),
        // the central moment clamps at 0: float error can leave a
        // constant dimension at ~-2e-16, where sqrt would emit NaN
        // here and crash DuckDB's stricter sqrt in the oracle
        round(sqrt(greatest(lit(0.0), col("sxx").cast("double") / col("n")
          - (col("sx").cast("double") / col("n"))
            * (col("sx").cast("double") / col("n")))), 9).as("std"))
      .orderBy(col("dim"))

  /** One-row frame carrying the per-dimension quantization range as
    * two aligned arrays (lo_arr, hi_arr), built entirely in-plan:
    * posexplode → 64-row min/max agg → sort_array(collect_list) so
    * the array order is dim order regardless of partial-agg arrival.
    * Broadcast wherever it joins — the "model" here is just corpus
    * min/max, so unlike IVF/PQ there is nothing to train and the SQL
    * oracle re-derives it exactly with no literal interpolation.
    */
  private def sq8StatsRow(c: DataFrame): DataFrame =
    c.select(posexplode(col("cv")).as(Seq("dim", "x")))
      .groupBy(col("dim"))
      .agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
      .agg(sort_array(collect_list(struct(col("dim"), col("lo"), col("hi")))).as("st"))
      .select(expr("transform(st, s -> s.lo)").as("lo_arr"),
        expr("transform(st, s -> s.hi)").as("hi_arr"))

  /** codes[i] = round((x−lo)·255/(hi−lo)) clamped to [0,255]; a
    * constant dimension (hi = lo) codes to 0. floor(v + 0.5) instead
    * of round() because the half-up rule is then explicit and
    * identical in Spark and DuckDB. One narrow transform per vector —
    * no per-dimension explode ever touches corpus-sized data.
    */
  private val sq8CodeLambda: String =
    "CASE WHEN hi_arr[i] = lo_arr[i] THEN 0L ELSE CAST(floor(least(255.0, " +
      "greatest(0.0, (x - lo_arr[i]) * 255.0 / (hi_arr[i] - lo_arr[i]) + 0.5))) AS BIGINT) END"

  /** Per-dimension affine int8 scalar quantization (the FAISS
    * `SQ8`-style codec): each corpus vector compresses to one byte per
    * dimension against corpus min/max — 8× smaller than the double
    * arrays the ANN scans otherwise carry, with no training step.
    * Output is a compact per-vector summary (bounds, sum, 62-bit fold
    * fingerprint of the code sequence) rather than 64 exploded rows,
    * so the result stays |corpus|-sized. Fully SQL-oracled: the range
    * stats are exact min/max and the code arithmetic is fixed-order
    * IEEE double ops, identical in DuckDB.
    */
  def sq8Codes(embeddings: DataFrame): DataFrame = {
    val c = corpus(embeddings)
    c.crossJoin(broadcast(sq8StatsRow(c)))
      .withColumn("codes", expr(s"transform(cv, (x, i) -> $sq8CodeLambda)"))
      .select(col("vec_id"),
        expr("array_min(codes)").as("code_min"),
        expr("array_max(codes)").as("code_max"),
        expr("aggregate(codes, 0L, (a, x) -> a + x)").as("code_sum"),
        (expr("aggregate(codes, 0L, (acc, x) -> pmod(acc * 1000003L + x, 2147483647))")
          * lit(4294967296L)
          + expr("aggregate(codes, 0L, (acc, x) -> pmod(acc * 1000003L + x, 2147483629))"))
          .as("code_fp"))
      .orderBy(col("vec_id"))
  }

  /** ANN over the SQ8-compressed corpus: vectors dequantize on the fly
    * (dq[i] = lo + code·(hi−lo)/255, a narrow map inside the scan) and
    * then score through the exact [[bruteTopK]] contract — same
    * cosine, same rank/tie/round epilogue. At rest the corpus is 1
    * byte/dim; at 100 TB that is the difference between a scan that
    * fits page cache and one that doesn't, while 8-bit resolution
    * keeps neighbor order essentially intact (recall vs brute is the
    * spec's property). Probes stay full-precision and broadcast —
    * asymmetric search, the standard SQ trade.
    */
  def annSq8TopK(embeddings: DataFrame): DataFrame = {
    val c = corpus(embeddings)
    val dq = c.crossJoin(broadcast(sq8StatsRow(c)))
      .withColumn("dqv", expr("transform(cv, (x, i) -> " +
        s"lo_arr[i] + (CAST(($sq8CodeLambda) AS DOUBLE) * (hi_arr[i] - lo_arr[i])) / 255.0)"))
      .select(col("vec_id"), col("dqv"))
    rankTopK(
      dq.crossJoin(broadcast(probes(embeddings)))
        .withColumn("cos", VectorOps.cosine(col("pv"), col("dqv"))), TopK)
  }

  /** Drift signal for the SQ8 codec, paralleling the IVF drift stats:
    * per dimension, how many components of NEW vectors (here the
    * probe set — the freshest arrivals) fall outside the stored
    * [lo, hi] quantization range and would clip to code 0/255.
    * Rising clip counts mean the stored range no longer spans the
    * data — the re-derive-stats trigger, decided by the operator, not
    * here. Tiny query: stats broadcast, new-vector explode is
    * |new|·dim rows, output is one row per dimension.
    */
  def sq8DriftStats(embeddings: DataFrame): DataFrame = {
    val stats = corpus(embeddings)
      .select(posexplode(col("cv")).as(Seq("dim", "x")))
      .groupBy(col("dim"))
      .agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
    probes(embeddings)
      .select(posexplode(col("pv")).as(Seq("dim", "x")))
      .join(broadcast(stats), Seq("dim"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n_new"),
        sum(when(col("x") < col("lo"), 1L).otherwise(0L)).as("n_clip_lo"),
        sum(when(col("x") > col("hi"), 1L).otherwise(0L)).as("n_clip_hi"))
      .select(col("dim").cast("long").as("dim"), col("n_new"),
        col("n_clip_lo"), col("n_clip_hi"))
      .orderBy(col("dim"))
  }

  /** IVF routing over the SQ8-compressed corpus: the corpus is stored
    * ONLY as int8 codes (assignment itself runs on the dequantized
    * reconstruction — a stored compressed index has nothing else to
    * assign), probes route to their IvfProbeClusters nearest coarse
    * centroids at full precision, and the pruned lists score as
    * dequantized vectors. The two compressions multiply: ~(probed/
    * total) of the corpus is read, at 1 byte/dim — IVF-PQ's shape
    * with a byte-per-dim codec instead of 4 bits/subspace, the
    * standard middle point of the FAISS compression ladder. Shares
    * the cached IVF model (and its oracle literals) with
    * [[annIvfTopK]]; the SQ8 range stats re-derive in SQL. An empty
    * corpus throws [[ivfTrain]]'s "empty corpus" error while the
    * DataFrame is built.
    */
  def annIvfSq8TopK(embeddings: DataFrame): DataFrame =
    ivfSq8Search(embeddings, IvfProbeClusters)

  /** [[annIvfSq8TopK]] probing `nProbeClusters` lists. The one
    * parameter left open: probing all IvfClusters lists must reproduce
    * the flat [[annSq8TopK]] scan exactly, which the spec checks.
    */
  private[graft] def ivfSq8Search(embeddings: DataFrame, nProbeClusters: Int): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val c = corpus(embeddings)
    val centroids = ivfTrain(c)
    val cDF = broadcast(spark.createDataset(centroids).toDF())
    val dq = c.crossJoin(broadcast(sq8StatsRow(c)))
      .withColumn("cv", expr("transform(cv, (x, i) -> " +
        s"lo_arr[i] + (CAST(($sq8CodeLambda) AS DOUBLE) * (hi_arr[i] - lo_arr[i])) / 255.0)"))
      .select(col("vec_id"), col("cv"))
    val assigned = assignClusters(dq, cDF)
    val pc = probeClusters(probes(embeddings), cDF, nProbeClusters)
    rankTopK(
      assigned.join(broadcast(pc), Seq("cluster_id"))
        .withColumn("cos", VectorOps.cosine(col("pv"), col("cv"))), TopK)
  }

  /** Hybrid retrieval: reciprocal-rank fusion (RRF, Cormack et al.'s
    * 1/(RrfOffset+rank) rule) of a lexical arm ([[TextOps.bm25TopK]],
    * the keyword queries) and a semantic arm (exact cosine over the
    * embedding probes that share those query ids). The arms never see
    * each other — each produces its own top-RrfArmK ranking, and only
    * the two ~|queries|·RrfArmK rank tables meet in a full-outer join,
    * so the fusion step is constant-sized no matter how large the
    * corpus grew. A document found by both arms outranks any single-arm
    * document of comparable rank; per-arm ranks are carried through
    * (0 = not retrieved by that arm) so the output explains itself.
    * Contributions sum as DECIMAL(38,15) — exact, associative, and
    * re-derivable in the SQL oracle.
    */
  def hybridRrf(documents: DataFrame, embeddings: DataFrame,
      queries: Seq[(Int, String)] = TextOps.defaultBm25Queries): DataFrame = {
    val qIds = queries.map(_._1).distinct.map(_.toLong)
    val lex = TextOps.bm25TopK(documents, queries, k = RrfArmK)
      .select(col("query_id").cast("long").as("query_id"), col("doc_id"),
        col("rank").as("lex_rank"))
    val sem = rankTopK(
      corpus(embeddings)
        .crossJoin(broadcast(probes(embeddings)
          .filter(col("probe_id").isin(qIds: _*))))
        .withColumn("cos", VectorOps.cosine(col("pv"), col("cv"))), RrfArmK)
      .select(col("probe_id").cast("long").as("query_id"),
        col("vec_id").as("doc_id"), col("rnk").as("sem_rank"))
    // 1/(RrfOffset+rank) as double (identical IEEE division in DuckDB),
    // then the decimal cast so the two-term sum is order-independent
    def contrib(r: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      coalesce((lit(1.0) / (lit(RrfOffset) + r)).cast("decimal(38,15)"),
        lit(0).cast("decimal(38,15)"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_exact").desc, col("doc_id"))
    lex.join(sem, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf_exact", contrib(col("lex_rank")) + contrib(col("sem_rank")))
      .withColumn("rrf_rank", row_number().over(w).cast("long"))
      .filter(col("rrf_rank") <= RrfTopK)
      .select(col("query_id"), col("rrf_rank"), col("doc_id"),
        round(col("rrf_exact").cast("double"), 9).as("rrf_score"),
        coalesce(col("lex_rank"), lit(0L)).as("lex_rank"),
        coalesce(col("sem_rank"), lit(0L)).as("sem_rank"))
      .orderBy(col("query_id"), col("rrf_rank"))
  }

  /** k-NN majority-label classification of the probes: the KnnVoters
    * nearest corpus vectors vote; ties break toward the smaller label.
    */
  def knnVote(embeddings: DataFrame): DataFrame = {
    val scored = corpus(embeddings)
      .crossJoin(broadcast(probes(embeddings)))
      .withColumn("cos", VectorOps.cosine(col("pv"), col("cv")))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    val votes = scored
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= KnnVoters)
      .groupBy(col("probe_id"), col("label"))
      .agg(count(lit(1)).as("n_votes"))
    val wv = Window.partitionBy(col("probe_id"))
      .orderBy(col("n_votes").desc, col("label"))
    votes
      .withColumn("r", row_number().over(wv))
      .filter(col("r") === 1)
      .select(col("probe_id"), col("label").as("predicted_label"), col("n_votes"))
      .orderBy(col("probe_id"))
  }
}
