package graft.perfbench

import org.apache.spark.sql.SparkSession

import graft.perfbench.Ledger.OpLedger

/** Benchmark entry point. One invocation runs one workload for one seed and
  * prints, as its last stdout line, one JSON object:
  * `{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
  * metrics are the end-to-end ones, measured with no listener and no
  * span recorder attached; with `--trace 1` they are the per-layer ones,
  * taken over one traced unit of work between two untraced halves that
  * give the tracing overhead.
  *
  * Usually started by `perfbench/run.py`, which builds the classpath and
  * passes `--t0-ms` (when it launched this JVM) and `--work` (a scratch
  * directory inside the checkout). */
object Main {

  /** Set-up rounds per run; `setup_s` uses their median. */
  val SetupRounds = 3

  def main(args: Array[String]): Unit = {
    val code =
      try run(parse(args))
      catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      }
    System.out.flush()
    System.exit(code)
  }

  private def parse(args: Array[String]): Map[String, String] = {
    require(args.length % 2 == 0 && args.grouped(2).forall(_.head.startsWith("--")),
      s"arguments must be --name value pairs: ${args.mkString(" ")}")
    args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
  }

  /** The benchmark's session. Only a traced run counts file system
    * calls, through [[CountingLocalFileSystem]] installed for `file:`
    * paths; an untraced run uses Hadoop's own local file system. */
  def session(cores: Int, work: String, trace: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    if (trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.Tables.configure(s)
  }

  val Workloads = Seq("reporting_steady", "query_mix")

  /** The workloads at their benchmark sizes; workloads.json records
    * each size and where it comes from. */
  def workload(name: String, ctx: Ctx, fingerprints: => Recorded,
      dataCache: String): Workload =
    name match {
      case "reporting_steady" =>
        new ReportingSteady(ctx, seededReporting = 31790, seededQueue = 200,
          batch = 100, reharvest = 10, foreignPerPage = 10,
          buckets = graft.pipeline.ReportingConfig.Defaults("state.buckets").toInt,
          dataCache)
      case "query_mix" =>
        new KeyLoop(ctx, KeyLoop.QueryMix, fingerprints, dataCache)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  private def secondsOf(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Closed loop over a fixed amount of work: as many whole units (a
    * cycle, a pass) as fill `seconds` at the workload's nominal unit
    * length, at least one. Fixing the count rather than the time keeps
    * every run's sample the same size on a slower or faster host. */
  private def loop(w: Workload, seconds: Double): Seq[OpRec] = {
    val units = math.max(1, math.ceil(seconds / w.nominalUnitS - 1e-9).toInt)
    (1 to units * w.unitOps).map(_ => w.nextOp())
  }

  private def run(a: Map[String, String]): Int = {
    val work = a.getOrElse("work", ".bench_build/work")
    new java.io.File(work).mkdirs()
    val cores = a.get("cores").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val trace = a.getOrElse("trace", "0") == "1"
    val spark = session(cores, work, trace)
    val sessionReadyMs = Clock.nowMs

    a.get("record-fingerprints").foreach { out =>
      val dir = s"$work/record-tables"
      TableGen.write(spark, dir, KeyLoop.ScaleFactor)
      val rec = KeyLoop.record(spark, dir, KeyLoop.ScaleFactor, KeyLoop.QueryMix)
      java.nio.file.Files.write(java.nio.file.Paths.get(out),
        Recorded.json(rec).getBytes("UTF-8"))
      println(s"recorded ${rec.keys.size} keys; nondeterministic: " +
        rec.nondeterministic.toSeq.sorted.mkString(", "))
      return 0
    }

    if (a.get("prepare").contains("1")) {
      val ctx = new Ctx(spark, new Tracer(spark.sparkContext), work, 0L)
      Workloads.foreach { n =>
        val w = workload(n, ctx, Recorded.load(a("fingerprints")), a("data-cache"))
        w.prepare()
        println(f"prepared $n in ${w.untimedS}%.1f s")
      }
      spark.stop()
      return 0
    }

    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val t0Ms = a.get("t0-ms").map(_.toDouble).getOrElse(sessionReadyMs)
    val tracer = new Tracer(spark.sparkContext)
    val ctx = new Ctx(spark, tracer, work, seed)
    val w = workload(name, ctx,
      Recorded.load(a.getOrElse("fingerprints", "perfbench/fingerprints.json")),
      a.getOrElse("data-cache", ".bench_build/data"))

    val rounds = (1 to SetupRounds).map { _ =>
      val before = w.untimedS
      secondsOf(w.setup()) - (w.untimedS - before)
    }
    val warmupS = secondsOf(w.warmup())
    val sessionS = (sessionReadyMs - t0Ms) / 1000.0
    val setupS = sessionS + Ledger.median(rounds) + warmupS

    // a traced run brackets its traced unit with two untraced halves, so
    // the tracing overhead is not confounded with warm-up drift
    val calBefore = calibrate()
    val before = loop(w, if (trace) seconds / 2 else seconds)
    val (tracedOps, after, layers) =
      if (!trace) (Nil, Nil, Nil)
      else {
        val rec = new Recorder
        spark.sparkContext.addSparkListener(rec)
        spark.listenerManager.register(rec)
        TransportCounters.reset()
        w.traced(true)
        tracer.enabled = true
        val ops = (1 to w.tracedOps).map(_ => w.nextOp())
        tracer.enabled = false
        Recorder.drain(spark.sparkContext)
        spark.listenerManager.unregister(rec)
        spark.sparkContext.removeSparkListener(rec)
        a.get("trace-out").foreach(p => writeTrace(p, tracer, rec))
        val layers = perLayer(w, ops, rec, tracer)
        w.traced(false)
        val after = loop(w, seconds / 2)
        (ops, after, layers :+ ("trace.overhead_ratio" -> (overhead(ops, before ++ after), "ratio")))
      }
    val untraced = before ++ after
    val calAfter = calibrate()
    var finishErrors: Seq[String] = Nil
    val finishS = secondsOf { finishErrors = w.finish() }
    finishErrors.foreach(e => System.err.println(s"[perfbench] final check: $e"))

    val all = untraced ++ tracedOps
    val failedOps = all.count(!_.ok)
    val failed = if (finishErrors.nonEmpty) math.max(failedOps, 1) else failedOps
    val attempted = all.size
    val failureRatio = failed.toDouble / attempted

    val walls = untraced.map(_.wallS)
    val p50 = Ledger.median(walls)
    val tail = Ledger.tail(walls)
    val ok = untraced.filter(_.ok)
    val perS = if (ok.isEmpty) 0.0 else ok.map(_.items).sum / ok.map(_.wallS).sum
    val named = w.namedMetrics(untraced, p50, tail.value, perS) :+
      ("op_failure_ratio" -> failureRatio)
    println(Json.obj(Seq(
      "perfbench" -> Json.str("detail"),
      "workload" -> Json.str(name),
      "seed" -> Json.num(seed.toDouble),
      "trace" -> Json.bool(trace),
      "throughput_counts" -> Json.str(w.itemsName),
      "host_calibration_s" -> Json.arr(Seq(Json.num(calBefore), Json.num(calAfter))),
      "ops" -> Json.num(untraced.size.toDouble),
      "op_keys" -> Json.arr(untraced.map(o => Json.str(o.key))),
      "op_walls_s" -> Json.arr(untraced.map(o => Json.num(o.wallS))),
      "tail" -> Json.obj(Seq("percentile" -> Json.num(tail.percentile),
        "samples" -> Json.num(tail.samples.toDouble),
        "beyond" -> Json.num(tail.beyond.toDouble))),
      "setup" -> Json.obj(Seq("session_s" -> Json.num(sessionS),
        "rounds_s" -> Json.arr(rounds.map(Json.num)),
        "warmup_s" -> Json.num(warmupS),
        "inputs_generated_s" -> Json.num(w.untimedS))),
      "final_check_s" -> Json.num(finishS),
      "named" -> Json.obj(named.map { case (k, v) => k -> Json.num(v) }),
      "failures" -> Json.arr((all.flatMap(_.error) ++ finishErrors).take(10)
        .map(Json.str)))).text)

    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", setupS, "s"),
        ("op_s_p50", p50, "s"),
        ("throughput_per_s", perS, "1/s"))
      else layers.map { case (k, (v, u)) => (k, v, u) } :+
        (("op_failure_ratio", failureRatio, "ratio"))
    spark.stop()
    println(Json.obj(Seq(
      "correct" -> Json.bool(failed == 0),
      "attempted" -> Json.int(attempted.toLong),
      "failed" -> Json.int(failed.toLong),
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }))).text)
    0
  }

  /** Fixed JVM-only kernel (no Spark, no I/O): its time tracks the host's
    * momentary CPU capacity, so a reader can tell a slow host from a slow
    * program. Median of three. */
  def calibrate(): Double = Ledger.median((1 to 3).map { _ =>
    val t0 = System.nanoTime()
    var x = 0x9e3779b97f4a7c15L
    var acc = 0L
    var i = 0
    while (i < 50000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x & 0xff
      i += 1
    }
    sink = acc
    (System.nanoTime() - t0) / 1e9
  })
  @volatile private var sink = 0L

  private val SelfNames = Seq("harvest.runOnce" -> "harvest",
    "enrich.processBatch" -> "enrich_process", "enrich.commit" -> "enrich_commit",
    "state.merge" -> "state_merge", "state.delete" -> "state_delete",
    "state.read" -> "state_read", "key.build" -> "key_build",
    "key.probe" -> "key_probe")

  /** Every per-layer metric over the traced ops. */
  def perLayer(w: Workload, ops: Seq[OpRec], rec: Recorder,
      tracer: Tracer): Seq[(String, (Double, String))] = {
    val spans = tracer.spans
    val attr = new Attribution(spans, rec.jobRecs, rec.actionRecs)
    val opSpans = spans.filter(_.parent < 0)
    val ledgers: Seq[OpLedger] = opSpans.map(s =>
      Ledger.opLedger(s.interval, attr.jobsOfOp(s.id).map(_.interval),
        attr.actionsOfOp(s.id).flatMap(_.intervals)))
    val opJobs = opSpans.flatMap(s => attr.jobsOfOp(s.id))
    val opActions = opSpans.flatMap(s => attr.actionsOfOp(s.id))
    val self = attr.selfTimes
    def busy(name: String): Double =
      spans.filter(_.name == name).map(_.interval.length).sum / 1000.0
    def sum(f: JobRec => Long): Double = opJobs.map(f).sum.toDouble
    val fs = ops.map(_.fs).foldLeft(FsCounters.Zero)(_ + _)
    val planningS = opActions.map(_.planningS).sum
    // residue above a tenth of the op's wall: named on stderr, counted here
    val heavy = opSpans.zip(ledgers).zip(ops).filter { case ((_, l), _) =>
      l.residueS > 0.1 * l.wallS }
    heavy.foreach { case ((_, l), o) =>
      System.err.println(f"[perfbench] ledger: ${o.key} wall ${l.wallS}%.3f s, " +
        f"jobs ${l.jobS}%.3f s, planning ${l.planS}%.3f s, residue ${l.residueS}%.3f s")
    }

    val workloadLayers = w.layerMetrics(name => attr.cpuDirectlyUnder(name))
    def wl(k: String): Double = workloadLayers.getOrElse(k, 0.0)
    val n = ops.size.toDouble
    Seq(
      "harvest.calls" -> (spans.count(_.name == "harvest.runOnce").toDouble, "count"),
      "harvest.busy_s" -> (busy("harvest.runOnce"), "s"),
      "harvest.headers_kept_ratio" -> (wl("harvest.headers_kept_ratio"), "ratio"),
      "enrich.process_busy_s" -> (busy("enrich.processBatch"), "s"),
      "enrich.commit_busy_s" -> (busy("enrich.commit"), "s"),
      "enrich.reported_ratio" -> (wl("enrich.reported_ratio"), "ratio"),
      "enrich.not_removed" -> (wl("enrich.not_removed"), "count"),
      "state.merge_busy_s" -> (wl("state.merge_busy_s"), "s"),
      "state.delete_busy_s" -> (wl("state.delete_busy_s"), "s"),
      "state.read_busy_s" -> (wl("state.read_busy_s"), "s"),
      "state.commits" -> (wl("state.commits"), "count"),
      "state.buckets_dirty_per_commit" -> (wl("state.buckets_dirty_per_commit"), "count"),
      "state.buckets_written_per_commit" -> (wl("state.buckets_written_per_commit"), "count"),
      "state.write_amp" -> (wl("state.write_amp"), "ratio"),
      "state.disk_bytes_per_live_byte" -> (wl("state.disk_bytes_per_live_byte"), "ratio"),
      "fs.read_ops" -> (fs.readOps.toDouble, "count"),
      "fs.write_ops" -> (fs.writeOps.toDouble, "count"),
      "fs.bytes_written" -> (fs.bytesWritten.toDouble, "bytes"),
      "xml.mets_docs_per_cpu_s" -> (wl("xml.mets_docs_per_cpu_s"), "1/s"),
      "xml.headers_per_cpu_s" -> (wl("xml.headers_per_cpu_s"), "1/s"),
      "spark.jobs" -> (opJobs.size.toDouble, "count"),
      "spark.jobs_per_op" -> (opJobs.size / n, "count"),
      "spark.stages" -> (sum(_.stages.sum()), "count"),
      "spark.tasks" -> (sum(_.tasks.sum()), "count"),
      "spark.job_wall_s" -> (ledgers.map(_.jobS).sum, "s"),
      "spark.scheduler_delay_s" -> (sum(_.schedulerDelayMs.sum()) / 1000.0, "s"),
      "catalyst.actions" -> (opActions.size.toDouble, "count"),
      "catalyst.planning_s" -> (planningS, "s"),
      "catalyst.planning_per_action_s" ->
        (if (opActions.isEmpty) 0.0 else planningS / opActions.size, "s"),
      "executor.run_s" -> (sum(_.runMs.sum()) / 1000.0, "s"),
      "executor.cpu_s" -> (sum(_.cpuNs.sum()) / 1e9, "s"),
      "executor.gc_s" -> (sum(_.gcMs.sum()) / 1000.0, "s"),
      "executor.shuffle_write_bytes" -> (sum(_.shuffleWriteBytes.sum()), "bytes"),
      "executor.spill_bytes" -> (sum(_.spillBytes.sum()), "bytes"),
      "driver.residue_s" -> (ledgers.map(_.residueS).sum, "s"),
      "ledger.explained_ratio" -> (Ledger.explainedRatio(ledgers), "ratio"),
      "ledger.ops_residue_over_10pct" -> (heavy.size.toDouble, "count"),
      "transport.pages_served" -> (TransportCounters.pagesServed.get.toDouble, "count"),
      "transport.docs_served" -> (TransportCounters.docsServed.get.toDouble, "count"),
      "transport.doc_misses" -> (TransportCounters.docMisses.get.toDouble, "count"),
      "host.calibration_s" -> (calibrate(), "s"),
      "trace.ops" -> (n, "count"),
      "trace.op_wall_s" -> (ops.map(_.wallS).sum, "s"),
      "trace.spans" -> (spans.size.toDouble, "count"),
      "trace.uncovered_s" -> (self.getOrElse("op", 0.0), "s"),
      "trace.self_s.spark_job" -> (self.getOrElse(Attribution.JobLayer, 0.0), "s"),
      "trace.self_s.catalyst_plan" -> (self.getOrElse(Attribution.PlanLayer, 0.0), "s"),
    ) ++ SelfNames.map { case (span, short) =>
      s"trace.self_s.$short" -> (self.getOrElse(span, 0.0), "s")
    }
  }

  /** Traced over untraced op wall minus one, comparing each traced op
    * with the mean untraced wall of the same key (a cycle or a query
    * key). */
  def overhead(traced: Seq[OpRec], untraced: Seq[OpRec]): Double = {
    val mean = untraced.groupBy(_.key).map { case (k, v) =>
      k -> v.map(_.wallS).sum / v.size }
    val comparable = traced.filter(o => mean.contains(o.key))
    if (comparable.isEmpty) 0.0
    else comparable.map(_.wallS).sum / comparable.map(o => mean(o.key)).sum - 1.0
  }

  /** Spans, jobs and actions as JSON lines, written once at the end. */
  private def writeTrace(path: String, tracer: Tracer, rec: Recorder): Unit = {
    val lines = tracer.spans.map(s => Json.obj(Seq("span" -> Json.str(s.name),
        "id" -> Json.num(s.id.toDouble), "parent" -> Json.num(s.parent.toDouble),
        "op" -> Json.num(s.op.toDouble), "start_ms" -> Json.num(s.startMs),
        "end_ms" -> Json.num(s.endMs)))) ++
      rec.jobRecs.map(j => Json.obj(Seq("job" -> Json.num(j.id.toDouble),
        "span" -> Json.num(j.span.toDouble), "start_ms" -> Json.num(j.startMs.toDouble),
        "end_ms" -> Json.num(j.endMs.toDouble), "tasks" -> Json.num(j.tasks.sum().toDouble),
        "cpu_s" -> Json.num(j.cpuNs.sum() / 1e9)))) ++
      rec.actionRecs.map(a => Json.obj(Seq("action_planning_s" -> Json.num(a.planningS),
        "end_ms" -> Json.num(a.lastEndMs))))
    val f = new java.io.File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    java.nio.file.Files.write(f.toPath,
      lines.map(_.text).mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Attributes Spark jobs and Catalyst actions to the benchmark spans they
  * ran under, and splits every op's wall into per-layer self time. A job
  * goes to the span named by its `perfbench.span` property when that
  * span was open at the job's start, otherwise (a job submitted from a
  * pool thread that inherited a stale property) to the innermost span
  * open at its start. An action goes to the innermost span open when its
  * planning ended. */
final class Attribution(spans: Seq[Span], jobs: Seq[JobRec],
    actions: Seq[ActionRec]) {
  import Attribution._

  private val byId = spans.map(s => s.id -> s).toMap
  private def depth(s: Span): Int =
    if (s.parent < 0) 0 else 1 + byId.get(s.parent).map(depth).getOrElse(0)
  private val depths = spans.map(s => s.id -> depth(s)).toMap

  private def innermostAt(t: Double): Option[Span] =
    spans.filter(s => s.startMs - 1 <= t && t <= s.endMs + 1)
      .maxByOption(s => depths(s.id))

  private val jobSpan: Map[Int, Span] = jobs.flatMap { j =>
    val named = byId.get(j.span).filter(s =>
      s.startMs - 1 <= j.startMs && j.startMs <= s.endMs + 1)
    named.orElse(innermostAt(j.startMs.toDouble)).map(j.id -> _)
  }.toMap

  private val actionSpan: Seq[(ActionRec, Span)] =
    actions.flatMap(a => innermostAt(a.lastEndMs).map(a -> _))

  def jobsOfOp(op: Long): Seq[JobRec] =
    jobs.filter(j => jobSpan.get(j.id).exists(_.op == op))

  def actionsOfOp(op: Long): Seq[ActionRec] =
    actionSpan.collect { case (a, s) if s.op == op => a }

  /** Executor CPU seconds of jobs whose innermost span is named `name`
    * (so a nested state call's jobs are not counted). */
  def cpuDirectlyUnder(name: String): Double =
    jobs.filter(j => jobSpan.get(j.id).exists(_.name == name))
      .map(_.cpuNs.sum()).sum / 1e9

  /** Self seconds per span name, plus the job and planning layers. A
    * span's self time is its wall minus what child spans, its own jobs
    * and its own planning cover; within a span, job time counts first
    * and planning only where no job ran. The parts add up to the op
    * wall. */
  def selfTimes: Map[String, Double] = {
    val out = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val children = spans.groupBy(_.parent)
    val jobsBy = jobs.groupBy(j => jobSpan.get(j.id).map(_.id).getOrElse(-1L))
    val actionsBy = actionSpan.groupBy(_._2.id)
    spans.foreach { s =>
      val kids = children.getOrElse(s.id, Nil).map(_.interval)
      val js = jobsBy.getOrElse(s.id, Nil).map(_.interval)
      val ps = actionsBy.getOrElse(s.id, Nil).flatMap(_._1.intervals)
      val kidsMs = Ledger.coveredLength(kids, s.interval)
      val withJobs = Ledger.coveredLength(js ++ kids, s.interval)
      val withPlans = Ledger.coveredLength(js ++ ps ++ kids, s.interval)
      val jobMs = withJobs - kidsMs
      out(s.name) += (s.interval.length - withPlans) / 1000.0
      out(JobLayer) += jobMs / 1000.0
      out(PlanLayer) += (withPlans - withJobs) / 1000.0
    }
    out.toMap
  }
}

object Attribution {
  val JobLayer = "spark.job"
  val PlanLayer = "catalyst.plan"
}

/** Minimal JSON writer for the benchmark's output lines. */
object Json {
  final case class V(text: String)
  def str(s: String): V = V(mapper.writeValueAsString(s))
  def num(d: Double): V =
    V(if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString)
  def int(n: Long): V = V(n.toString)
  def bool(b: Boolean): V = V(b.toString)
  def arr(xs: Seq[V]): V = V(xs.map(_.text).mkString("[", ", ", "]"))
  def obj(kv: Seq[(String, V)]): V =
    V(kv.map { case (k, v) => s"${str(k).text}: ${v.text}" }.mkString("{", ", ", "}"))
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
}
