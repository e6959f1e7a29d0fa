package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints one compact JSON line PER QUERY
  * ({"metric":"query","name":…,"value":…}) followed by a final compact
  * {"metric":"total","value":N,"unit":"sec","nqueries":…,"sf":…} line.
  * The total comes LAST and carries no embedded per-query map, so a
  * bounded tail capture of stdout always retains the headline number
  * (round 3 lost it to tail truncation of one giant line).
  *
  * Each query is forced through the `noop` sink so the FULL plan executes
  * (a bare `count()` would let Catalyst prune projections and undercount
  * the work).
  *
  * Host-noise hardening: every query runs SPARK_GRAFT_BENCH_TRIALS
  * times (default 3) and reports the per-query MINIMUM — the sandbox has
  * documented run-to-run CPU contention of up to +50%, and the min is
  * the standard low-noise estimator of a query's true cost (noise only
  * ever ADDS time). The headline total is the sum of per-query minima.
  *
  * Self-describing under SUSTAINED noise (r19): min-of-3 inside a slow
  * host window still records the slow value with no hint of spread —
  * BENCH_r18 carried a 10× phantom (`embed_incr_near` 39.46 s vs
  * 3.93 s isolated, byte-identical resources). Two additions make the
  * committed record diagnosable without a re-run:
  *  - `queries` values in BENCH_LOCAL.json are now OBJECTS
  *    `{"min":…,"median":…,"max":…}` over the trials: a genuine plan
  *    regression shows min ≈ median ≈ max at the new level, while a
  *    noise phantom shows max ≫ min (or a min far above the resources-
  *    identical sibling round) — the spread IS the disposition.
  *  - the calibration kernel runs every [[SegmentEvery]] queries
  *    (`calibration.segments`), so capacity drift is localizable to a
  *    ~40-query window of the sweep instead of smeared across the
  *    whole run.
  * Stdout's per-query lines and the final total line are UNCHANGED
  * (still the min / sum-of-minima) — the driver's parse contract and
  * cross-round comparability stay intact.
  *
  * Sweep-major trials (r20): the trials run as full passes over the
  * whole query set (pass 1 of every query, then pass 2, …), not
  * back-to-back per query. Query-major trials all landed inside the
  * same few seconds, so a sustained slow-host window could cover every
  * trial of each key it touched and poison even the min (BENCH_r19:
  * a 73× phantom whose all-three trials sat inside one window).
  * Sweep-major spaces a key's trials a full pass (~minutes) apart; the
  * durable record additionally stamps each trial's start offset
  * (`at_s`) and raw seconds (`trial_s`) so any remaining window is
  * localizable per trial. Per-query minima and stdout are computed
  * exactly as before.
  */
object Bench {

  /** Host-calibration kernel: a FIXED, data- and code-independent
    * workload (64M synthetic rows → xxhash64 → 1000-group hash
    * aggregate over 32 fixed partitions) whose cost depends only on
    * the host's momentary CPU capacity — never on the repo's operators
    * or the SF dir. Emitted with every bench run so any reader can
    * normalize cross-round totals: identical code has measured 99.9 s
    * vs 189 s across same-day runs of one round (r17), and without a
    * code-independent yardstick that spread is indistinguishable from
    * a real regression. Reported as min-of-`trials` both BEFORE and
    * AFTER the query sweep (drift within a run is part of the noise
    * model). */
  private def calibrationKernel(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    spark.range(0L, 64L * 1000 * 1000, 1L, 32)
      .select((xxhash64(col("id")) % 1000).as("g"),
        xxhash64(col("id"), lit(1)).as("v"))
      // bit_xor, not sum: summing 64M full-range hashes overflows
      // Long under ANSI mode; xor is overflow-free and just as CPU-real
      .groupBy("g").agg(bit_xor(col("v")).as("s"), count(lit(1)).as("n"))
      .write.format("noop").mode("overwrite").save()
  }

  private def calibrate(spark: SparkSession, trials: Int): Double =
    (1 to trials.max(1)).map { _ =>
      val t0 = System.nanoTime()
      calibrationKernel(spark)
      (System.nanoTime() - t0) / 1e9
    }.min

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val trials = sys.env.getOrElse("SPARK_GRAFT_BENCH_TRIALS", "3").toInt.max(1)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // static conf, must be set before the session exists: the default
      // 100-entry codegen class cache thrashes under sweep-major trials
      // (161 interleaved queries evict every compiled class between
      // passes, so every trial would pay a recompile that back-to-back
      // trials never did — inflating even the min)
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    Tables.configure(spark)
    // ERROR, not WARN: the deliberate global windows used to spray hundreds
    // of WindowExec "No Partition Defined" WARN lines into stderr, and the
    // driver's bounded tail capture evicted the per-query stdout lines
    // (BENCH_r03..r05 all lost their per-query record to this).
    spark.sparkContext.setLogLevel("ERROR")
    val metrics = BenchMetrics.install(spark.sparkContext)

    // JVM/codegen warmup on the smallest SF so per-query numbers measure
    // the plan, not first-use classloading.
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }

    // SPARK_GRAFT_BENCH_ONLY=q1,q2 restricts the run (iterating on one
    // query, re-measuring outliers in isolation, one leg of a scale
    // curve over a ScaleProbe corpus). A partial run writes its record
    // to BENCH_ONLY.json, never BENCH_LOCAL.json, so the committed
    // record always covers the full suite.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)

    // Host calibration, leg 1 (see calibrationKernel): the first
    // calibrate() call doubles as kernel warmup via min-of-trials.
    // FULL runs only — a partial run's keys are compared leg against
    // leg, so the fixed kernel cost would be pure tax; its record marks
    // calibration as not run (null).
    val calPre = if (only.isEmpty) calibrate(spark, trials) else 0.0
    if (only.isEmpty)
      println(s"""{"metric":"calibration","phase":"pre","value":$calPre,"unit":"sec"}""")

    // A failed query reports -1, not its elapsed time — a broken query
    // must never masquerade as a fast one in the JSON — and FAILS FAST:
    // a query whose first trial throws is recorded broken immediately
    // instead of burning (and error-spewing) the remaining trials
    // (round 9's five analysis-broken queries each re-threw 3× and
    // drowned the log). A query that failed on any LATER trial is also
    // failed (no cherry-picking a lucky run). Each query is measured
    // from a clean cache state (Tables.dropCachedLeftovers runs OUTSIDE
    // the timed window — leftover persisted blocks were measured causing
    // multi-× slowdowns late in a 90+-query run).
    // A typo'd name would silently shrink the run to an empty/partial
    // set and print total=0 — easy to mistake for a real measurement.
    only.foreach { names =>
      val unknown = names.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_BENCH_ONLY names not in SparkEntry.queries: ${unknown.toSeq.sorted.mkString(", ")}")
    }
    val selected = only.fold(SparkEntry.queries)(names =>
      SparkEntry.queries.view.filterKeys(names).toMap)
    // Interleaved calibration: one kernel leg every SegmentEvery
    // measurement slots (FULL runs only — and single-trial: the pre
    // leg's min-of-trials already warmed the kernel), so a capacity dip
    // is attributable to the ~40-measurement window it actually covered.
    val SegmentEvery = 40
    val calSegments = scala.collection.mutable.ArrayBuffer.empty[Double]
    // SWEEP-MAJOR trials (r20): pass 1 runs every query once, then pass
    // 2, then pass 3 — NOT 3 back-to-back runs per query. Back-to-back
    // trials all sit inside the same few seconds, so one sustained
    // slow-host window used to poison even the MIN of every key it
    // covered (BENCH_r19: sf2_ts_format_dual min 16.4 s, a 73× phantom
    // — ALL THREE adjacent trials were inside the window). Sweep-major
    // spaces one key's trials minutes apart (a full sweep pass each),
    // so a window now inflates at most one trial per key and the min
    // recovers from any quiet pass. Each trial also records its start
    // offset from run start (`at_s` in the durable record), so a slow
    // window is localizable per trial after the fact.
    val sortedQueries = selected.toSeq.sortBy(_._1)
    val runStart = System.nanoTime()
    // per-query trial log: (full, build, probe, snapshot, startOffset)
    val trialLog = scala.collection.mutable.LinkedHashMap(
      sortedQueries.map { case (n, _) =>
        n -> Vector.empty[(Double, Double, Double, BenchMetrics.Snapshot, Double)]
      }: _*)
    var slot = 0
    for (_ <- 1 to trials; (name, fn) <- sortedQueries) {
      if (only.isEmpty && slot > 0 && slot % SegmentEvery == 0) {
        val c = calibrate(spark, 1)
        calSegments += c
        println(s"""{"metric":"calibration","phase":"seg${calSegments.size}","value":$c,"unit":"sec"}""")
      }
      slot += 1
      // fail-fast across passes: once any trial of a query threw, later
      // passes skip it (it is recorded broken either way — no
      // cherry-picking a lucky run)
      if (!trialLog(name).exists(_._1 < 0)) {
        Tables.dropCachedLeftovers(spark)
        metrics.reset()
        val at = (System.nanoTime() - runStart) / 1e9
        val t0 = System.nanoTime()
        // (full, build, probe, snapshot): `build` is the time spent
        // INSIDE the query closure — for the incremental-index keys that
        // is the eager seed/ingest of their persistent state tables —
        // and `probe` is materializing the returned frame, the
        // user-facing query path. Splitting them keeps a probe-path
        // regression from hiding under build noise (plain lazy queries
        // report build ≈ 0). The headline `full` = build + probe is
        // unchanged for cross-round comparison.
        val run = try {
          val df = fn(spark, sfDir)
          val t1 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          val t2 = System.nanoTime()
          ((t2 - t0) / 1e9, (t1 - t0) / 1e9, (t2 - t1) / 1e9,
            metrics.snapshot(spark.sparkContext), at)
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          (-1.0, -1.0, -1.0, metrics.snapshot(spark.sparkContext), at)
        }
        trialLog(name) :+= run
      }
    }
    val results = sortedQueries.map { case (name, _) =>
      val trialRuns = trialLog(name).map {
        case (f, b, p, s, _) => (f, b, p, s) }
      val atOffsets = trialLog(name).map(_._5)
      // Shuffle/spill come from the FASTEST trial: bytes are plan-
      // deterministic (identical across trials), but spill is a
      // pressure symptom and the min-time trial is the one the
      // headline number describes. The phase split reports the SAME
      // trial as the headline (not per-phase minima, which could sum
      // below any real run).
      val (best, bestBuild, bestProbe, bestSnap) =
        if (trialRuns.exists(_._1 < 0)) (-1.0, -1.0, -1.0, trialRuns.last._4)
        else trialRuns.minBy(_._1)
      // spread across the trials (durable record only): sustained-slow
      // host windows are diagnosable from min/median/max without an
      // isolated re-run — see the class doc
      val fulls = trialRuns.map(_._1).sorted
      // true median for even trial counts (average of the two middle
      // values): with trials=2 the upper-middle form would always
      // report median == max, making every noise phantom read as a
      // flat elevated spread — the exact ambiguity the field exists
      // to resolve
      val qMed =
        if (best < 0) -1.0
        else if (fulls.size % 2 == 1) fulls(fulls.size / 2)
        else (fulls(fulls.size / 2 - 1) + fulls(fulls.size / 2)) / 2.0
      val qMax = if (best < 0) -1.0 else fulls.last
      println(s"""{"metric":"query","name":"$name","value":$best,"unit":"sec"}""")
      (name, best, qMed, qMax, bestBuild, bestProbe, bestSnap,
        trialLog(name).map(_._1), atOffsets)
    }
    // The headline total covers the PASSING queries so one red query
    // can't zero out the whole artifact; `failed` rides alongside so a
    // run missing its slowest queries can never masquerade as a healthy
    // speedup (consumers must treat failed>0 as incomparable).
    val failed = results.filter(_._2 < 0).map(_._1)
    val total = results.collect {
      case (_, v, _, _, _, _, _, _, _) if v >= 0 => v }.sum

    // Host calibration, leg 2: the same fixed kernel after the sweep.
    // pre/post disagreement IS the within-run host drift; the min of
    // the two is the best estimate of the host's clean capacity.
    val calPost = if (only.isEmpty) calibrate(spark, trials) else 0.0
    if (only.isEmpty)
      println(s"""{"metric":"calibration","phase":"post","value":$calPost,"unit":"sec"}""")
    // a partial run never calibrates: null, not a 0-second measurement
    def calOf(v: Double): String = if (only.isEmpty) s"$v" else "null"
    val cal = calOf(math.min(calPre, calPost))
    // interior segment legs ride in the durable record: pre, seg1..segN
    // (one per SegmentEvery queries, in sweep order), post — a drift is
    // localizable to the window between two adjacent legs
    val segJson = calSegments.map(v => s"$v").mkString("[", ",", "]")
    val calJson =
      s"""{"pre_s":${calOf(calPre)},"post_s":${calOf(calPost)},"value":$cal,"segment_every":$SegmentEvery,"segments":$segJson,"unit":"sec"}"""

    val failedJson = failed.map(n => s""""$n"""").mkString("[", ",", "]")
    val totalLine =
      s"""{"metric":"total","value":$total,"unit":"sec","nqueries":${results.size},"failed":${failed.size},"failed_names":$failedJson,"calibration":$cal,"sf":"$sfDir"}"""

    // Durable record: stdout passes through a bounded (~2k char) tail
    // capture that can hold ~21 of 120+ per-query lines, so the official
    // artifact has carried "parsed": null for six straight rounds. The
    // full per-query map + total is therefore ALSO written to
    // BENCH_LOCAL.json in the working directory (the repo root under
    // sbt), committed per round, so regressions can be diffed without
    // tail archaeology. A partial run writes the same record to
    // BENCH_ONLY.json.
    // Per-query objects: min/median/max over the (sweep-major) trials,
    // plus the raw per-trial seconds (`trial_s`, in pass order) and each
    // trial's start offset from run start (`at_s`) — together they
    // localize a sustained slow-host window to the exact trials it
    // covered. NOTE this is the r19+ OBJECT-valued format; consumers of
    // the pre-r19 numeric map must read `.min`.
    val queriesJson = results
      .map { case (n, v, med, mx, _, _, _, ts, ats) =>
        val tsJson = ts.map(t => s"$t").mkString("[", ",", "]")
        // Locale.ROOT: the f interpolator is locale-sensitive and a
        // comma-decimal default locale would corrupt the JSON array
        val atJson = ats
          .map(a => "%.2f".formatLocal(java.util.Locale.ROOT, a))
          .mkString("[", ",", "]")
        s""""$n":{"min":$v,"median":$med,"max":$mx,"trial_s":$tsJson,"at_s":$atJson}""" }
      .mkString("{", ",", "}")
    // Resource record per query (shuffle read/write, mem/disk spill from
    // the fastest trial) rides in a PARALLEL map keyed by the same
    // query names.
    val metricsJson = results
      .map { case (n, _, _, _, _, _, snap, _, _) => s""""$n":${snap.json}""" }
      .mkString("{", ",", "}")
    // Phase split per query (same trial as the headline number): build_s
    // = time inside the query closure (index seed/ingest for the
    // incremental keys), probe_s = materializing the returned frame.
    val phasesJson = results
      .map { case (n, _, _, _, b, p, _, _, _) =>
        s""""$n":{"build_s":$b,"probe_s":$p}""" }
      .mkString("{", ",", "}")
    // failed/failed_names ride in the durable record too: the committed
    // artifact must be self-describing — a run missing its slowest
    // queries would otherwise read as a healthy speedup to anyone
    // diffing committed totals across rounds.
    val localJson =
      s"""{"metric":"total","value":$total,"unit":"sec","nqueries":${results.size},"trials":$trials,"failed":${failed.size},"failed_names":$failedJson,"calibration":$calJson,"sf":"$sfDir","queries":$queriesJson,"resources":$metricsJson,"phases":$phasesJson}"""
    val outName = if (only.isEmpty) "BENCH_LOCAL.json" else "BENCH_ONLY.json"
    try {
      val out = java.nio.file.Paths.get(outName)
      java.nio.file.Files.write(out, (localJson + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] $outName write failed: ${e.getMessage}")
    }
    // The total line prints LAST — after spark.stop(), whose shutdown
    // used to be the stdout noise between the headline JSON and EOF that
    // kept the driver's tail parse at "parsed": null — and flushes, so
    // the final Bench-owned stdout line is exactly this JSON.
    spark.stop()
    println(totalLine)
    System.out.flush()
  }
}
