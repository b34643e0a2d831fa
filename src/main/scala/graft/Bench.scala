package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Sessions.cpus
    val spark = Sessions.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Battery fixture sidecar (VERDICT r14 ask #2): a FRESH per-battery
    // temp dir — media queries materialize their closed-form fixtures
    // once (the first of the N timed runs) and read them back after, so
    // the reported MEDIAN prices the read + engine, not per-pixel md5
    // synthesis (x148 spent ~15 s/run mostly on fixture cost). Fresh dir
    // per battery = no cross-version staleness by construction.
    val fixDir = java.nio.file.Files.createTempDirectory("graft-bench-fixtures")
    sys.props(graft.xscale.FixtureSidecar.DirProp) = fixDir.toString
    // Untimed warmup: pay one-time session costs (codegen compiler init,
    // parquet footer reads, shuffle service spin-up) outside the per-query
    // timings so the first measured query isn't charged for them.
    // NonFatal only: a fatal warmup error (OutOfMemoryError and kin)
    // corrupts JVM state and would silently distort every subsequent
    // timing — let it crash the battery instead (the r15-ADVICE rule).
    try SparkEntry.entry(spark).count()
    catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] warmup entry failed: ${e.getClass.getName}")
    }
    // Execute the FULL physical plan (queryExecution.toRdd), not
    // df.count(): count() lets Catalyst prune every projection and drop
    // provably count-preserving joins, so per-row operators (x31's native
    // metrics) and left-join enrichments (x34's coverage) would be timed
    // as bare scans. toRdd materializes every column of the executed plan,
    // sorts included.
    // Release cross-query JVM state between timings: queries that
    // localCheckpoint (CC label-prop, quantizer training) leave persisted
    // blocks behind, and over a 120+-query battery the accumulated block/GC
    // pressure inflated UNCHANGED mid-battery queries ~1.5–2.9× in r8
    // (VERDICT r8 "Next round" #3). Unpersist + clearCache after each query
    // so each timing starts from the same JVM state.
    def releaseState(): Unit = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      spark.catalog.clearCache()
    }
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    // Timed battery = every registered query MINUS the declared exactness
    // baselines (SparkEntry.benchExclude) whose production-posture twins
    // are registered and timed instead. SPARK_GRAFT_BENCH_ONLY (comma-
    // separated exact names) restricts the battery — for apples-to-apples
    // round-over-round comparisons on a fixed subset, or to time an
    // excluded baseline explicitly (an explicit request OVERRIDES the
    // exclusion). Unknown names fail loudly: a typo must not produce an
    // empty battery that reads as a wildly fast successful run.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val unknown = names.diff(SparkEntry.queries.keySet)
      require(
        unknown.isEmpty,
        s"SPARK_GRAFT_BENCH_ONLY names not registered: ${unknown.toSeq.sorted.mkString(", ")}")
    }
    val timedQueries = SparkEntry.queries.filter {
      case (name, _) => only match {
        case Some(names) => names.contains(name)
        case None        => !SparkEntry.benchExclude(name)
      }
    }
    // SPARK_GRAFT_BENCH_RUNS=N (default 3): time each query N times and
    // report the per-query MEDIAN, plus a per-query spread (max - min).
    // Rationale: eight same-code full-battery runs in round 11 spanned
    // ~250–305 s — single-run comparisons can't detect a real 10%
    // regression under that noise, and the round-12 driver artifact
    // (single-run) read as a phantom 1.69× regression that the judge had
    // to re-measure away (VERDICT r12: zero-join scan queries "slowing"
    // 17× from machine contention). Medians-by-default makes every
    // artifact comparison noise-honest; set RUNS=1 for a quick smoke.
    val runs = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt)
    // Fixture-materialization + warmup pass, UNTIMED: media queries
    // materialize their sidecar fixtures here, so no timed run carries
    // the one-time synthesis + parquet write — the per-query spread
    // stays an instability signal instead of a materialization artifact
    // (without this pass, run 1's write showed up as a 15 s "spread" on
    // x148). Every query also gets one warm execution, which the
    // 3-run median previously only approximated for the first query.
    timedQueries.foreach { case (name, fn) =>
      // NonFatal only (the entry-warmup rule): a swallowed fatal here
      // would leave a corrupted JVM timing the whole battery with no
      // trace in the artifact; the failing query's NAME goes to stderr
      // so a warmup-only failure is attributable even though the timed
      // pass records its own failures.
      try fn(spark, sfDir).queryExecution.toRdd.count()
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(
            s"[bench] warmup failed for $name: ${e.getClass.getName}")
      }
      releaseState()
    }
    val timings = timedQueries.map { case (name, fn) =>
      val ts = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        // NonFatal (the warmup rule): an OOM-class error here must crash
        // the battery, not be recorded as a "failed query" while every
        // later timing runs in a corrupted JVM
        try { fn(spark, sfDir).queryExecution.toRdd.count() }
        catch {
          case scala.util.control.NonFatal(_) =>
            if (!failed.contains(name)) failed += name; -1L
        }
        val dt = (System.nanoTime() - t0) / 1e9
        releaseState()
        dt
      }.sorted
      // true median for EVEN run counts too: ts(n/2) alone is the upper
      // middle — a systematic upward bias presented as a median (runs=2
      // would report each query's max)
      val median =
        if (runs % 2 == 1) ts(runs / 2) else (ts(runs / 2 - 1) + ts(runs / 2)) / 2
      name -> (median, ts.last - ts.head)
    }
    val results = timings.map { case (name, (median, _)) => name -> median }
    val spreads = timings.map { case (name, (_, spread)) => name -> spread }
    // Constant-work calibration SENTINEL (VERDICT r14 ask #3): a fixed
    // generated-data plan — no file I/O, no fixtures, identical work
    // every round and every machine — so round-over-round total
    // comparisons can be quoted sentinel-normalized instead of
    // adjudicating machine-state drift by cross-referencing batteries
    // (three same-code r14 batteries spanned ±13%; the driver box read
    // 29% over local on identical code). 2^31 codegen'd xxhash64 rows,
    // one partial+final agg; timed with the battery's own run/median
    // discipline, after the battery (so it prices the SAME warmed JVM
    // the queries ran in).
    def timeSentinel(run: () => Unit): Double = {
      val ts = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        run()
        val dt = (System.nanoTime() - t0) / 1e9
        releaseState()
        dt
      }.sorted
      if (runs % 2 == 1) ts(runs / 2) else (ts(runs / 2 - 1) + ts(runs / 2)) / 2
    }
    val sentinel = timeSentinel { () =>
      // bit_xor, not sum: xxhash64 spans the full 64-bit range and an
      // ANSI-mode sum overflows. 2^31 rows ≈ 1 s on 32 threads — big
      // enough that JVM jitter is a small fraction of the reading.
      spark.range(0L, 1L << 31, 1L, cpus)
        .selectExpr("bit_xor(xxhash64(id)) AS s").queryExecution.toRdd.count()
      ()
    }
    // SHUFFLE-shaped sentinel (VERDICT r15 ask #2): the xxhash64 sentinel
    // is pure codegen'd CPU — it normalizes clock/JIT drift but cannot
    // see the shuffle-spill/page-cache contention that moved the
    // shuffle-heavy queries 15–40% between same-code r15 batteries AT THE
    // SAME cpu sentinel. This one prices that axis: two generated 2^24-row
    // sides, each shuffled for a merge-pinned sort-merge join on a
    // near-unique key (b's key is a fixed XOR permutation of [0, 2^24) —
    // bijective, overflow-free under ANSI — so the join is 1:1: 16M
    // matched rows through two full shuffle sorts, no file I/O,
    // identical every round/machine). Round-over-round claims should
    // quote BOTH sentinels: cpu drift reads on the first, shuffle-side
    // machine state on this one.
    val n = 1L << 24
    val sentinelShuffle = timeSentinel { () =>
      val a = spark.range(0L, n, 1L, cpus)
        .selectExpr("id AS k", "id AS v")
      val b = spark.range(0L, n, 1L, cpus)
        .selectExpr("(id ^ 10855845) AS k", "id AS w")
      a.hint("merge").join(b.hint("merge"), "k")
        .selectExpr("bit_xor(xxhash64(v + w)) AS s")
        .queryExecution.toRdd.count()
      ()
    }
    // Locale.ROOT: f"" interpolation is locale-sensitive — a comma-decimal
    // locale would emit invalid JSON.
    def fmt(v: Double, dec: Int): String =
      String.format(java.util.Locale.ROOT, s"%.${dec}f", Double.box(v))
    val total = if (results.nonEmpty) results.values.sum else 0.0
    def queriesJson(rs: Iterable[(String, Double)], dec: Int): String =
      rs.map { case (k, v) => "\"" + k + "\":" + fmt(v, dec) }.mkString("{", ",", "}")
    // Full-precision, all-queries copy on disk so the result can always be
    // read whole.
    // A failed query must be attributable from the artifact, not disguised
    // as a fast timing (how the r8 q23 crash read as a 0.08 s "success").
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val spreadJson =
      if (runs > 1) s""","spread":${queriesJson(spreads, 4)}""" else ""
    val fullLine =
      s"""{"metric":"total","value":${fmt(total, 4)},"unit":"sec","runs":$runs,"sentinel":${fmt(sentinel, 4)},"sentinel_shuffle":${fmt(sentinelShuffle, 4)},"failed":$failedJson,"queries":${queriesJson(results, 4)}$spreadJson,"sf":"$sfDir"}"""
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), fullLine + "\n")
    // The consumer reads a 2000-byte tail window, so the LAST stdout line
    // must be well under that: the full ~2.4 KB per-query map can never fit
    // (it clipped for 7 straight rounds). Emit a compact summary — total,
    // query count, and only the 20 slowest queries (~0.8 KB) — and keep the
    // complete map in the file above.
    val top = results.toSeq.sortBy { case (_, v) => -v }.take(20)
    // spread for the SAME top-20 in the tail too (driver artifact), so a
    // per-query outlier in BENCH_rN.json is adjudicable from the artifact
    // alone — r13's x122 10.15 s outlier took a local-battery cross-check
    // because the tail carried medians only. ~600 extra bytes; the tail
    // stays under the consumer's 2000-byte window.
    val topSpread =
      if (runs > 1)
        s""","spread":${queriesJson(top.map { case (k, _) => k -> spreads(k) }, 2)}"""
      else ""
    val compact =
      s"""{"metric":"total","value":${fmt(total, 2)},"unit":"sec","n":${results.size},"runs":$runs,"sentinel":${fmt(sentinel, 2)},"sentinel_shuffle":${fmt(sentinelShuffle, 2)},"failed":$failedJson,"queries":${queriesJson(top, 2)}$topSpread,"sf":"$sfDir"}"""
    // the fixture sidecar is a battery-scoped cache, not an artifact
    def rmrf(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmrf)); f.delete(); ()
    }
    rmrf(fixDir.toFile)
    // Stop Spark BEFORE the stdout emission: its shutdown logging must not
    // land after the JSON line a tail-window consumer reads last.
    spark.stop()
    println(s"[bench] wrote ${java.nio.file.Paths.get(out).toAbsolutePath}")
    println(compact)
    System.out.flush()
  }
}
