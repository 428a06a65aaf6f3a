package graft

/** Driver-run benchmark: every registered query executed to completion
  * against SPARK_GRAFT_SF_DIR, one JSON line out.
  *
  * Results are materialized through the noop sink — a bare count() would
  * let Catalyst prune projections/orderings and time a different (smaller)
  * plan than the one users run. One warmup query amortizes JVM/codegen
  * startup out of the first measurement.
  *
  * Output-size contract: the driver retains only the last ~2000 chars of
  * stdout and parses the JSON from there, and sbt appends its own
  * "[success] ..." line after ours. So the line is kept under BudgetChars:
  * every query still runs and counts toward "value" (the total), but the
  * per-query map keeps the SLOWEST queries and collapses the cheap tail
  * into omitted/omitted_sec. Ascending order inside the map so the
  * heaviest entries sit nearest the end of the line (survive any further
  * truncation).
  *
  * Contention hardening: the suite runs SPARK_GRAFT_BENCH_RUNS times
  * (default 2) and each query reports its MINIMUM across runs — the
  * minimum is the best available estimate of the code's intrinsic cost
  * when the sandbox is shared with other tenants (round-5 postmortem: a
  * single-run bench recorded 2.2x the reproducible time purely from CPU
  * contention during the run). "runs" and "run_totals" are emitted so a
  * polluted run remains self-evident in the artifact: if run_totals
  * diverge wildly, the environment was noisy and "value" (sum of minima)
  * is the trustworthy figure.
  */
object Bench {
  private val BudgetChars = 1800

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.engine.GraftSession.local(cpus)

    // Every batch action the bench runs is audited by the session-level
    // plan lint (the same rules LintSpec gates the board with at build
    // time — this additionally covers the plans only produced DURING
    // execution: iterative builders' inner jobs, write-path round-trips,
    // foreachBatch actions). Error-severity findings are counted into
    // the JSON line as lint_errors (expected 0, see BASELINE.md) and the
    // run fails AFTER printing the artifact if any appeared.
    val lint = graft.plans.PlanLintListener.watch(spark)

    def runOnce(name: String): Double = {
      val t0 = System.nanoTime()
      val sec =
        try {
          SparkEntry.queries(name)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            -1.0
        }
      // Queries that persist() intermediates (documented single-pass
      // shapes) must not leak cached RDDs into later measurements.
      spark.catalog.clearCache()
      sec
    }

    // Fixed-work machine-speed probe: a pure in-memory, data-independent,
    // codegen'd aggregate (400M xxhash64 rounds, one task per core). Its
    // runtime depends ONLY on how fast this machine currently executes JVM
    // arithmetic — no I/O, no shuffle, no testdata — so it separates
    // environmental noise from code regressions: if calib_sec is inflated
    // vs the BASELINE.md reference, the whole run is inflated by roughly
    // the same factor (round 7-9: three rounds of ~1.6-1.7x uniform
    // inflation with zero source changes). Normalization rule lives in
    // BASELINE.md ("Bench noise calibration").
    def calibrate(): Double = {
      val t0 = System.nanoTime()
      // bit_xor, not sum: summing full-range hashes overflows LongType
      // under ANSI; xor is closed over longs and can't be constant-folded.
      spark.range(0L, 400000000L, 1L, cpus.toInt)
        .selectExpr("bit_xor(xxhash64(id))")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    // Multi-core SUSTAINED probe (r16 verdict task 2): the same
    // fixed-work shape as calibrate() — one task per core, pure codegen'd
    // arithmetic, no I/O — but 12× the work, so it holds every core busy
    // for ~1 s at r17's local[32]. Rationale: the short probe measures
    // instantaneous single-burst speed and CANNOT see multi-core
    // throttling or a co-tenant stealing cores mid-run (r16's evening
    // drift: raw batch rose while the short probe read FASTER). A
    // sustained all-core probe IS sensitive to that regime. Emitted as
    // calib_mc_sec:[pre,post] beside calib_sec.
    //
    // Work sizing (r17): the calibration record in BASELINE.md
    // ("Multi-core sustained probe") puts this round's hardware at
    // 2-3× the 0.220 reference — the 400M short probe finishes in
    // ~0.1-0.15 s there, where per-job fixed overhead (scheduler, JIT
    // tiers, codegen cache) is a LARGE share of the reading and decays
    // with JVM age for the whole suite's length, so its pre/post
    // brackets cannot agree on fast hardware (the 1.2B draft of this
    // probe had the same flaw at ~0.3 s). 4.8B rows keeps the sustained
    // probe compute-dominated (~1 s) on hardware up to ~4× reference;
    // the bracket-agreement health rule (BASELINE.md "Bench noise
    // calibration") is therefore judged PRIMARILY on this probe — the
    // short probe keeps its historical definition for cross-round
    // continuity but is overhead-dominated below ~0.15 s readings.
    def calibrateMc(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 4800000000L, 1L, cpus.toInt)
        .selectExpr("bit_xor(xxhash64(id))")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    // Each bracket reading is the MIN of three consecutive probe runs:
    // a single reading swings ±35% on this sandbox (r16 measurements —
    // enough to fail the bracket-agreement rule on a quiet machine),
    // while the minimum of three tracks the machine's actual current
    // speed (the same minimum-estimator rationale as the per-query
    // minima). Costs ~1 s (short) / ~3 s (mc) per bracket.
    def minOf3(probe: () => Double): Double = Seq.fill(3)(probe()).min

    runOnce("q_scan") // warmup
    calibrate()       // warmup the probe's codegen path too
    val calibPre = minOf3(() => calibrate())
    // distinct literal => distinct generated class; THREE warm runs, not
    // one — the convergence curve in BASELINE.md ("Multi-core sustained
    // probe") shows the sustained probe plateaus after ~4-5 executions
    // on fresh-JVM hardware, and the pre bracket must start from the
    // plateau for pre/post agreement to mean "machine stayed the same"
    // rather than "JVM aged".
    (1 to 3).foreach(_ => calibrateMc())
    val calibMcPre = minOf3(() => calibrateMc())

    val nRuns = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt.max(1)
    // Dev-only focus filter (comma-separated names) for adjudicating a
    // single query's movement with the bench's own instruments (same
    // sink, same calib probes, same min-of-N discipline). The driver
    // never sets it — official rounds always run the whole board.
    val only: Set[String] = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.isEmpty || only(n))
    // runTimes(r) = per-query times for run r, in `names` order;
    // runCodegen(r) = the classes Spark compiled during run r and the
    // milliseconds it spent compiling them (0 on a warm run when the
    // codegen cache holds the board, see engine.CompiledClasses).
    import org.apache.spark.sql.graft.CodegenBridge
    val (runTimes, runCodegen) = (1 to nRuns).map { _ =>
      val (c0, ms0) = (CodegenBridge.compiles, CodegenBridge.compileMs)
      val times = names.map(runOnce)
      (times, (CodegenBridge.compiles - c0, CodegenBridge.compileMs - ms0))
    }.unzip
    val runTotals = runTimes.map(_.filter(_ >= 0).sum)
    // Per-query minimum over the runs where the query succeeded; -1 only
    // if it failed in every run.
    val results = names.zipWithIndex.map { case (n, i) =>
      val ts = runTimes.map(_(i)).filter(_ >= 0)
      n -> (if (ts.isEmpty) -1.0 else ts.min)
    }
    val total = results.map(_._2).filter(_ >= 0).sum
    val failed = results.filter(_._2 < 0).map(_._1)
    // Cost-regime split: the streaming scoreboard queries (q_stream_*)
    // each pay a fixed streaming-engine startup per drain (~1-8 s) that is
    // NOT data-dependent — folding them into one gated total lets that
    // fixed cost grow with every streaming promotion and erode the 2x
    // gate's meaning. batch_sec is the like-for-like figure against
    // pre-streaming baselines; the gate rule in BASELINE.md compares
    // batch-to-batch and tracks streaming_sec separately as a per-query
    // fixed-cost budget.
    val (streamQ, batchQ) = results.filter(_._2 >= 0).partition(_._1.startsWith("q_stream_"))
    val streamingSec = streamQ.map(_._2).sum
    val batchSec = batchQ.map(_._2).sum
    // Second probe reading after the suite: bracketing the run catches
    // contention that started mid-run. min(pre, post) is the calibration
    // figure (same minimum-estimator rationale as the per-query minima).
    val calibPost = minOf3(() => calibrate())
    val calibMcPost = minOf3(() => calibrateMc())
    // Streaming-engine startup probe (fixed work, no testdata): what a
    // scoreboard drain pays BEFORE touching data on this machine right
    // now. Run twice post-suite (streaming classes already warmed by the
    // q_stream_* queries, matching their steady state); min of the
    // NON-NEGATIVE readings is the calibration figure — a failed probe's
    // -1.0 sentinel is excluded, not min'd, so one hiccup cannot mask a
    // valid reading (both -1.0 = no calibration this round).
    // Normalization rule in BASELINE.md ("Streaming noise calibration").
    // A probe failure (e.g. a RocksDB init hiccup) must not abort the
    // run and lose the artifact — fail-after-print applies here too, so
    // failures read as the -1.0 sentinel, matching the per-query failure
    // convention above.
    val streamCalib = Seq.fill(2)(
      try graft.streaming.StreamingCalib.drainOnce(spark)
      catch {
        case e: Throwable =>
          System.err.println(s"[bench] streaming calib failed: ${e.getMessage}")
          -1.0
      })
    // Drain the async ExecutionListenerBus before reading, then use the
    // listener's MONOTONIC error counter — the report ring is a bounded
    // dashboard view that benign info findings (every ORDER BY query
    // emits GLOBAL_SORT) wrap long before the suite ends, and summing it
    // would silently under-count evicted errors.
    // The drain's bound (10 s inside Spark) can expire on a contended
    // machine; a slightly-stale count is acceptable there — losing the
    // artifact below to the throw is not (fail-after-print contract).
    try org.apache.spark.sql.graft.ListenerBusBridge.drain(spark)
    catch { case _: java.util.concurrent.TimeoutException => () }
    val lintErrors = lint.errorCount

    def fmt(v: Double): String = "%.3f".format(v)
    // Keep the slowest entries; drop from the cheap end until it fits.
    val asc = results.sortBy(_._2)
    def line(kept: Seq[(String, Double)], omitted: Seq[(String, Double)],
        extra: String = ""): String = {
      val qs = kept.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      val om =
        if (omitted.isEmpty) ""
        else s""","omitted":${omitted.size},"omitted_sec":${fmt(omitted.map(_._2).sum)}"""
      val fl =
        if (failed.isEmpty) ""
        else failed.map("\"" + _ + "\"").mkString(""","failed":[""", ",", "]")
      // A SPARK_GRAFT_BENCH_ONLY-filtered run must be self-describing: a
      // stale env var in an official round would otherwise emit a partial
      // board distinguishable from a full one only by n_queries (r15
      // advice). The filter list rides in the artifact itself.
      val onlyField =
        if (only.isEmpty) ""
        else only.toSeq.sorted.map("\"" + _ + "\"").mkString(""","only":[""", ",", "]")
      val rt = runTotals.map(fmt).mkString("[", ",", "]")
      val cal = s"""[${fmt(calibPre)},${fmt(calibPost)}]"""
      val calMc = s"""[${fmt(calibMcPre)},${fmt(calibMcPost)}]"""
      val sCal = streamCalib.map(fmt).mkString("[", ",", "]")
      s"""{"metric":"total","unit":"sec","sf":"$sfDir","n_queries":${results.size},"runs":$nRuns,"run_totals":$rt,"calib_sec":$cal,"calib_mc_sec":$calMc,"streaming_calib_sec":$sCal,"lint_errors":$lintErrors,"batch_sec":${fmt(batchSec)},"streaming_sec":${fmt(streamingSec)},"streaming_n":${streamQ.size}$onlyField$om$fl$extra,"queries":$qs,"value":${fmt(total)}}"""
    }
    var drop = 0
    while (drop < asc.size && line(asc.drop(drop), asc.take(drop)).length > BudgetChars)
      drop += 1
    val artifact = line(asc.drop(drop), asc.take(drop))
    // Complete on-disk record (r15 verdict task 3): the stdout artifact's
    // char budget forces the cheap tail out of its per-query map (~179 of
    // 243 queries, ~half the batch seconds, invisible to cross-round
    // per-query comparison). The FULL minima map — every query, no
    // truncation — goes to a file the round commits (BENCHFULL_r{N}.json);
    // the stdout line stays as-is for the driver. Comparison rule lives in
    // BASELINE.md ("Full per-query record"). Never allowed to suppress the
    // stdout artifact: failures log and the print proceeds.
    // The record also carries each run's codegen compiles and compile
    // time, which do not fit the stdout line's budget.
    val codegenField = runCodegen.map { case (n, ms) =>
      s"""{"compiles":$n,"compile_ms":${fmt(ms)}}"""
    }.mkString(""","codegen_runs":[""", ",", "]")
    val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCHFULL_PATH", "BENCHFULL.json")
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(fullPath),
        (line(asc, Nil, codegenField) + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] full record write failed: ${e.getMessage}")
    }
    // Eviction-proofing (round-13 postmortem: BENCH_r13.json was
    // parsed:null because async RocksDB/Netty teardown logs landed AFTER
    // the artifact println and scrolled it out of the driver's ~2000-char
    // output tail). The artifact must be the LAST thing this process can
    // emit, so all teardown happens first:
    //   1. quiesce streaming state stores (unload RocksDB providers, join
    //      the maintenance thread) — kills the late MANIFEST-verification
    //      ERROR spew at its source instead of racing it;
    //   2. stop the session (Netty/RPC teardown logs land here, before
    //      the artifact);
    //   3. print the artifact;
    //   4. fail-after-print: exit 1 on error-severity lint findings in
    //      executed plans (details were logged at WARN with [graft-lint]
    //      before the artifact). sys.exit, not an exception — a throw
    //      here would stack-trace AFTER the artifact and re-create the
    //      eviction this block exists to prevent.
    if (lintErrors != 0)
      System.err.println(
        s"[bench] $lintErrors error-severity lint findings in executed plans")
    // Neither teardown call may be able to SUPPRESS the artifact: a throw
    // here would propagate before the println and recreate the exact
    // lost-artifact failure this block exists to prevent — so failures
    // are logged to stderr and the print proceeds regardless.
    try org.apache.spark.sql.graft.StateStoreBridge.stopAll()
    catch {
      case e: Throwable =>
        System.err.println(s"[bench] state-store stop failed: ${e.getMessage}")
    }
    try spark.stop()
    catch {
      case e: Throwable =>
        System.err.println(s"[bench] spark.stop failed: ${e.getMessage}")
    }
    println(artifact)
    if (lintErrors != 0) sys.exit(1)
  }
}
