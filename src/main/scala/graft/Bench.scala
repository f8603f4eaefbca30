package graft

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line of per-query seconds.
  *
  * Each query is forced through the `noop` sink so the full plan
  * (projections, sorts, windows) executes — a bare `count()` would let
  * Catalyst prune most of the work for narrow queries.
  *
  * Methodology: one full UNTIMED pass over the suite first (JIT +
  * Janino codegen warm-up — single-pass timings swing ±3× on whichever
  * codegen-heavy query happens to hit a cold JVM), then N timed passes
  * (default 3, SPARK_GRAFT_BENCH_PASSES) reporting the per-query MIN.
  * Each query rebuilds its DataFrame inside the timed region, so every
  * pass recomputes all data from the parquet scans. What's reported is
  * steady-state full-computation time with GC/compilation noise
  * filtered out.
  *
  * Cross-query block hygiene — the round-4 drift lesson: the near-dup
  * operators return `localCheckpoint`'ed frames whose storage blocks
  * are freed by the ContextCleaner only after the frame is GC'd. In a
  * 131-query suite × 4 passes on a 32 GiB heap, GC may not run for
  * many minutes, so dead checkpoint blocks pile up in the unified
  * pool's storage-protected region (~¼ heap execution can never
  * claim) and later shuffle-heavy queries silently lose execution
  * memory and spill — a broad ~1.3–5× inflation that depends on GC
  * timing, i.e. on nothing the engine controls. The fix is
  * deterministic: after every query's sink drains, unpersist whatever
  * persistent RDDs remain (nothing in the suite holds cached state
  * across queries by contract — models cache driver-side arrays
  * only), so each timed query starts with an empty block store.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // optional comma-separated subset for the local iteration loop
    // (the driver sets nothing → full suite; artifacts must be full)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(',').toSet)
    val suite = SparkEntry.queries.filter { case (n, _) => only.forall(_.contains(n)) }
    val spark = GraftSession.local(cpus)

    // GC cadence + quiesce — the round-10 lesson, both halves:
    // shuffle files are deleted only after their ShuffleDependency is
    // GC'd, and a bench loop allocates little on the driver heap, so
    // without explicit GCs no collection happens for the whole run and
    // shuffle files pile up on disk until it fills (the round-8 sf100
    // death). Round 10 fixed that with a System.gc() after EVERY
    // query — and regressed the whole suite ~14%: the ContextCleaner
    // deletes the files asynchronously, i.e. INSIDE the next query's
    // timed region, and a full GC can unload cold generated classes,
    // so every row paid a flat tax (judge-reproduced idle: geomean
    // 1.137×, 79/139 rows >1.10×). The fix keeps the disk safety and
    // takes the cost out of the measurements: GC every N queries and
    // then QUIESCE — poll the block-manager directories until the
    // cleaner's deletion I/O has visibly stopped — before the next
    // timed region starts. The round-11 three-arm A/B (SCALING.md)
    // measured the cadence directly at sf0.1: per-query GC+no-quiesce
    // (the r10 arm) = geomean 1.142 vs r9, every-16+quiesce = 1.040,
    // pass-boundary-only = 0.956 with 3/139 rows >1.10× — even a GC
    // sixteen queries apart leaks ~2% into its neighbors, so the
    // DEFAULT is pass boundaries only (shuffle residue over one sf0.1
    // pass is MBs). Disk-bound at-scale runs tighten the cadence via
    // SPARK_GRAFT_GC_EVERY (sf100 uses 1: tens of GB per query).
    // SPARK_GRAFT_GC_EVERY=1 + SPARK_GRAFT_GC_QUIESCE=false reproduces
    // the round-10 arm exactly.
    val gcEvery = sys.env.getOrElse("SPARK_GRAFT_GC_EVERY", Int.MaxValue.toString).toInt
    val gcQuiesce = sys.env.getOrElse("SPARK_GRAFT_GC_QUIESCE", "true").toBoolean
    // Where the block manager actually writes: Spark's resolution
    // order is SPARK_LOCAL_DIRS env, then spark.local.dir, then
    // java.io.tmpdir — a quiesce that polled tmpdir alone would see a
    // stable 0 under tuned local dirs and silently no-op exactly in
    // the at-scale runs that need the disk-drain guarantee.
    val localDirs: Seq[java.nio.file.Path] =
      sys.env.get("SPARK_LOCAL_DIRS")
        .orElse(spark.sparkContext.getConf.getOption("spark.local.dir"))
        .getOrElse(System.getProperty("java.io.tmpdir"))
        .split(',').toSeq.map(_.trim).filter(_.nonEmpty)
        .map(java.nio.file.Paths.get(_))
    def blockFileCount(): Long = {
      import scala.jdk.CollectionConverters._
      localDirs.filter(java.nio.file.Files.isDirectory(_)).map { dir =>
        val top = java.nio.file.Files.list(dir)
        try top.iterator().asScala
          .filter(_.getFileName.toString.startsWith("blockmgr-"))
          .map { d =>
            val w = java.nio.file.Files.walk(d)
            try w.count() finally w.close()
          }.sum
        finally top.close()
      }.sum
    }
    def gcAndQuiesce(): Unit = {
      System.gc()
      if (gcQuiesce) {
        // stable = two consecutive polls see the same file count (and
        // no walk raced a concurrent delete) — the cleaner has drained
        // what this GC enqueued; bounded so a stuck walk can't hang
        // the bench. All of this runs OUTSIDE any timed region.
        val deadline = System.nanoTime() + 3000000000L
        var prev = -1L
        var stable = false
        while (!stable && System.nanoTime() < deadline) {
          Thread.sleep(150)
          val c = try blockFileCount()
          catch { case _: java.io.UncheckedIOException | _: java.io.IOException => -2L }
          if (c >= 0 && c == prev) stable = true else prev = c
        }
      }
    }
    var sinceGc = 0
    /** Free every block left in the store: dead localCheckpoints from
      * the dedup/ANN family (deterministic, every query — the round-4
      * drift lesson), plus the cadenced GC + quiesce above. Outside
      * the timed region by design.
      */
    def releaseBlocks(endOfPass: Boolean): Unit = {
      graft.operators.Caching.releaseAll(spark)
      sinceGc += 1
      if (endOfPass || sinceGc >= gcEvery) {
        gcAndQuiesce()
        sinceGc = 0
      }
    }

    // Machine-speed controls — the round-13 fix for the confound that
    // burned two of the last three rounds (r10 GC tax, r12 I/O
    // headwind): every artifact now carries its own calibration, so a
    // top-line move can be attributed to engine vs host WITHOUT a
    // forensic session. Three fixed plans, none touching the sf dir,
    // timed at the top of every timed pass (per-pass values published,
    // not mins — the drift ACROSS passes is the signal):
    //   ctl_cpu   — codegen'd arithmetic over range() (no I/O, no
    //               shuffle): pure compute speed / JIT health.
    //   ctl_sort  — fixed in-memory sort (no exchange): memory
    //               bandwidth + sorter speed.
    //   ctl_write — scratch parquet write + full read-back: the disk
    //               path, the exact axis that degraded in r12 (its
    //               tell was scan-bound rows at 5.9×).
    // Protocol (SCALING.md round 13): when the suite top-line moves
    // >5% vs the prior artifact, read the controls first — a matching
    // shift in ctl_write/ctl_cpu is host state, settled without
    // rebuilding the prior commit; controls flat + suite moved is an
    // engine finding. The same-session prior-commit A/B remains the
    // definitive tiebreak.
    val ctlDir = java.nio.file.Files.createTempDirectory("graft-ctl")
    def runControls(): Seq[(String, Double)] = {
      import org.apache.spark.sql.functions._
      def timed(name: String)(f: => Unit): (String, Double) = {
        val t0 = System.nanoTime()
        // a failed control publishes -1, never a fast bogus time (the
        // ANSI-overflow lesson: sum(xxhash64) "ran" in 0.08 s)
        try { f; name -> (System.nanoTime() - t0) / 1e9 }
        catch { case e: Throwable =>
          System.err.println(s"[bench:ctl] $name: ${e.getMessage}")
          name -> -1.0
        }
      }
      val out = Seq(
        timed("ctl_cpu") {
          // max, not sum: summing random 64-bit hashes overflows in
          // rows under ANSI mode, and the "control" then times a fast
          // task failure (caught in the first smoke test)
          spark.range(0, 6000000000L, 1, cpus)
            .select(xxhash64(col("id")).as("h"))
            .agg(max(col("h"))).write.format("noop").mode("overwrite").save()
        },
        timed("ctl_sort") {
          spark.range(0, 48000000L, 1, cpus)
            .select(xxhash64(col("id")).as("k"))
            .sortWithinPartitions(col("k"))
            .write.format("noop").mode("overwrite").save()
        },
        timed("ctl_write") {
          val p = ctlDir.resolve("scratch.parquet").toString
          spark.range(0, 8000000L, 1, cpus)
            .select(col("id"), xxhash64(col("id")).as("a"),
              md5(col("id").cast("string")).as("b"))
            .write.mode("overwrite").parquet(p)
          spark.read.parquet(p).agg(count(lit(1)))
            .write.format("noop").mode("overwrite").save()
        })
      releaseBlocks(false) // control hygiene mirrors query hygiene
      out
    }

    // Untimed warm-up pass: compiles every plan's codegen and warms the
    // JIT; caches are dropped afterwards so the timed pass does all the
    // real work again. At-scale runs (sf100: tens of seconds per query,
    // where JIT noise is proportionally nil and a second full pass is
    // an hour of wall clock) may skip it with SPARK_GRAFT_BENCH_WARM=false.
    if (sys.env.getOrElse("SPARK_GRAFT_BENCH_WARM", "true").toBoolean) {
      suite.foreach { case (name, fn) =>
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable => System.err.println(s"[bench:warm] $name: ${e.getMessage}") }
        releaseBlocks(false)
      }
    }
    runControls() // untimed: compiles the control plans' codegen once
    releaseBlocks(true) // timed passes start on a quiesced JVM
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    val ctlSamples = scala.collection.mutable.LinkedHashMap[String,
      scala.collection.mutable.ArrayBuffer[Double]]()
    val timings = (1 to passes).map { p =>
      runControls().foreach { case (n, sec) =>
        ctlSamples.getOrElseUpdate(n,
          scala.collection.mutable.ArrayBuffer.empty) += sec
      }
      val t0 = System.nanoTime()
      val pass = suite.map { case (name, fn) =>
        val q0 = System.nanoTime()
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          failed += name
          System.err.println(s"[bench] $name: ${e.getMessage}")
        }
        val sec = (System.nanoTime() - q0) / 1e9
        releaseBlocks(false) // not timed: block-store hygiene between queries
        name -> sec
      }
      releaseBlocks(true) // drain accumulated shuffles at the boundary
      System.err.println(f"[bench] pass $p/$passes: ${(System.nanoTime() - t0) / 1e9}%.1f s")
      pass
    }
    // a failing query must read as a failure, not as the suite's
    // fastest entry: excluded from timings, surfaced in "errors"
    val names = suite.keys.filterNot(failed.contains).toSeq
    // Outlier hygiene (round-6 advice): a query whose max/min spread
    // exceeds 5× INSIDE one artifact was hit by host load (a
    // concurrent compile, a GC storm), not by the engine — its min
    // may be luck and its max is noise. Re-measure flagged rows with
    // extra solo passes so the published min is a reproduced
    // steady-state number, and mark them in the artifact.
    val spreadLimit = sys.env.getOrElse("SPARK_GRAFT_BENCH_SPREAD", "5.0").toDouble
    val samples0: Map[String, Seq[Double]] =
      names.map(n => n -> timings.map(_(n))).toMap
    val flagged = names.filter { n =>
      val ts = samples0(n); ts.max / math.max(ts.min, 1e-9) > spreadLimit
    }
    if (flagged.nonEmpty)
      System.err.println(s"[bench] spread >${spreadLimit}x — re-measuring: " +
        flagged.mkString(", "))
    // (extra samples, extra-pass failure count): a failed re-measure
    // must be visible in the artifact, not only on stderr — a flagged
    // row whose extras ALL failed still publishes the possibly-lucky
    // min, and the reader needs to see that it was never reproduced
    val extras: Map[String, (Seq[Double], Int)] = flagged.map { name =>
      var exFails = 0
      val samples = (1 to 2).flatMap { _ =>
        val q0 = System.nanoTime()
        val ok =
          try { suite(name)(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench:extra] $name: ${e.getMessage}"); exFails += 1; false }
        val sec = (System.nanoTime() - q0) / 1e9
        releaseBlocks(false)
        if (ok) Some(sec) else None
      }
      name -> (samples, exFails)
    }.toMap
    val samples = samples0.map { case (n, ts) =>
      n -> (ts ++ extras.get(n).map(_._1).getOrElse(Seq.empty))
    }
    val stats = samples.map { case (n, ts) =>
      n -> (ts.min, ts.max, ts.sum / ts.size)
    }
    def r(v: Double) = math.rint(v * 1e4) / 1e4 // 0.1 ms precision, short JSON
    val total = stats.values.map(_._1).sum
    val errs = failed.map(JsonUtil.str).mkString("[", ",", "]")
    // full per-query stats (n/min/max/mean) — too long for a stdout
    // tail, so it goes to a file the round artifacts can keep;
    // re-measured outlier rows carry their extra-sample count
    val fullQs = names.map { n =>
      val (mn, mx, mean) = stats(n)
      val extraTag = extras.get(n).map { case (e, exFails) =>
        s""","remeasured":${e.size}""" +
          (if (exFails > 0) s""","remeasure_failed":$exFails""" else "")
      }.getOrElse("")
      s"""${JsonUtil.str(n)}:{"n":${samples(n).size},"min":${r(mn)},"max":${r(mx)},"mean":${r(mean)}$extraTag}"""
    }.mkString("{", ",", "}")
    // per-pass control samples, in pass order — never mins: the drift
    // across passes (and vs prior artifacts) is the machine signal
    val ctlJson = ctlSamples.map { case (n, ts) =>
      s"""${JsonUtil.str(n)}:${ts.map(r).mkString("[", ",", "]")}"""
    }.mkString("{", ",", "}")
    val full = s"""{"metric":"total","value":${r(total)},"unit":"sec","passes":$passes,""" +
      s""""controls":$ctlJson,"queries":$fullQs,"errors":$errs,"sf":${JsonUtil.str(sfDir)}}"""
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), full)
    // the driver contract: ONE compact JSON line (min per query,
    // rounded — full precision lives in the file), printed LAST.
    // Paths come from env vars, so they are escaped like any string —
    // a quote or backslash in them must not break the driver's parse.
    val qs = names.map(n => s"""${JsonUtil.str(n)}:${r(stats(n)._1)}""").mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${r(total)},"unit":"sec","queries":$qs,""" +
      s""""controls":$ctlJson,"errors":$errs,"sf":${JsonUtil.str(sfDir)},""" +
      s""""detail":${JsonUtil.str(outPath)}}""")
    // drop the control scratch dir (a few hundred MB of parquet)
    try {
      import scala.jdk.CollectionConverters._
      val w = java.nio.file.Files.walk(ctlDir)
      try w.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .iterator().asScala.foreach(java.nio.file.Files.deleteIfExists(_))
      finally w.close()
    } catch { case _: java.io.IOException => () }
    spark.stop()
  }
}
