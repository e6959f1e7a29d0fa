package graft.perfbench

import java.sql.Timestamp

import scala.collection.mutable

import graft.perfbench.ReportingGen.{Header, ReportRow}
import graft.pipeline._

/** The three state tables of the paper's pipeline under one directory,
  * and the pipelines over them, plain or with every state table wrapped
  * in the [[TracedStateTable]] decorator. */
final class ReportingState(ctx: Ctx, root: String, buckets: Int) {
  val headers = new BucketedStateTable(ctx.spark, s"$root/headers",
    Seq("record_identifier"), numBuckets = buckets)
  val reporting = new BucketedStateTable(ctx.spark, s"$root/reporting",
    Seq("record_identifier"), numBuckets = buckets)
  val runs = new ParquetStateTable(ctx.spark, s"$root/runs")
  val tracedHeaders = new TracedStateTable(headers, ctx.tracer)
  val tracedReporting = new TracedStateTable(reporting, ctx.tracer)

  private def tables(traced: Boolean): (StateTable, StateTable) =
    if (traced) (tracedHeaders, tracedReporting) else (headers, reporting)

  def harvest(traced: Boolean): HarvestPipeline =
    new HarvestPipeline(ctx.spark, tables(traced)._1, runs, PageStub.BaseUrl,
      headerFilter = OaiHeaderFilters("qucosa"))

  def enrichment(traced: Boolean, batchSize: Int): EnrichmentPipeline = {
    val (h, r) = tables(traced)
    new EnrichmentPipeline(ctx.spark, h, r, batchSize)
  }

  def reportingRows(): Map[String, ReportRow] =
    reporting.read().map(_.select("record_identifier", "mandator",
        "document_type", "distribution_date", "header_last_modified")
      .collect().map { r =>
        r.getString(0) -> ReportRow(r.getString(0), r.getString(1),
          r.getString(2), r.getTimestamp(3).getTime, r.getTimestamp(4).getTime)
      }.toMap).getOrElse(Map.empty)
}

/** Pipeline-layer counters of `reporting_steady`, kept by the benchmark
  * from the pipelines' return values. */
final class PipelineCounters {
  var headersServed = 0L
  var headersKept = 0L
  var processed = 0L
  var reported = 0L
  var notRemoved = 0L

  def add(s: EnrichmentSummary): Unit = {
    processed += s.processed; reported += s.reported; notRemoved += s.notRemoved
  }
}

object Checks {
  /** Differences between the reporting table and the expected rows:
    * missing, unexpected and wrong rows, at most `limit` of them. */
  def reporting(got: Map[String, ReportRow], expected: Map[String, ReportRow],
      limit: Int = 5): Seq[String] = {
    val missing = (expected.keySet -- got.keySet).toSeq.sorted
      .map(id => s"reporting row missing: $id")
    val extra = (got.keySet -- expected.keySet).toSeq.sorted
      .map(id => s"reporting row not expected (a reject or unknown id): $id")
    val wrong = expected.toSeq.sortBy(_._1).collect {
      case (id, e) if got.get(id).exists(_ != e) =>
        s"reporting row differs for $id: got ${got(id)}, expected $e"
    }
    (missing ++ extra ++ wrong).take(limit)
  }
}

/** `reporting_steady`: the running service at the reference's batch
  * size over a large seeded state in the service's bucketed layout. One
  * op is one cycle: `processBatch` (LIMIT 100), `runOnce` on a
  * 100-header page that re-harvests `reharvest` of the in-flight ids,
  * then `commit`. */
final class ReportingSteady(ctx: Ctx, val seededReporting: Int,
    val seededQueue: Int, val batch: Int, val reharvest: Int,
    val foreignPerPage: Int, val buckets: Int, dataCache: String)
    extends Workload(ctx) {
  def name = "reporting_steady"
  def itemsName = "queued records resolved (reported or rejected)"
  def tracedOps = 1
  /** One cycle per 10 s run: a warm cycle takes about 12 s on a 4-core
    * host. */
  def nominalUnitS = 15.0

  private var state: ReportingState = _
  private var tracing = false
  private var counters = new PipelineCounters

  private val T0 = 1709287200L
  private val doc = new DocStub(ctx.seed)
  private var stub: PageStub = _
  private var clock = 0L
  private var nextNumber = 0L
  private var cycle = 0
  private val queue = mutable.TreeMap.empty[String, Header]
  private val expected = mutable.HashMap.empty[String, ReportRow]
  private var plainPipes: (HarvestPipeline, EnrichmentPipeline) = _
  private var tracedPipes: (HarvestPipeline, EnrichmentPipeline) = _

  private var generatedS = 0.0
  override def untimedS: Double = generatedS

  private def tick(): Long = { clock += 1; T0 + clock }

  override def traced(on: Boolean): Unit = {
    tracing = on
    counters = new PipelineCounters
    if (on) {
      state.tracedHeaders.stats.reset()
      state.tracedReporting.stats.reset()
    }
  }

  private def harvestPage(p: HarvestPipeline, stub: PageStub, served: Int,
      nowS: Long): HarvestRunSummary = {
    val s = ctx.tracer("harvest.runOnce")(p.runOnce(stub, new Timestamp(nowS * 1000L)))
    require(s.succeeded, s"harvest page failed: ${s.errors}")
    counters.headersServed += served
    counters.headersKept += s.harvestedHeaders
    s
  }

  override def layerMetrics(cpuUnder: String => Double): Map[String, Double] = {
    val stats = Seq(state.tracedHeaders, state.tracedReporting).map(_.stats)
    val commits = stats.map(_.commits).sum
    val merged = stats.map(_.mergedBytes).sum
    val stateFs = stats.map(_.fs).reduce(_ + _)
    val (disk, live) = Seq(state.tracedHeaders, state.tracedReporting)
      .map(_.diskAndLiveBytes())
      .reduce((a, b) => (a._1 + b._1, a._2 + b._2))
    def ratio(a: Double, b: Double): Double = if (b > 0) a / b else 0.0
    Map(
      "harvest.headers_kept_ratio" -> ratio(counters.headersKept, counters.headersServed),
      "enrich.reported_ratio" -> ratio(counters.reported, counters.processed),
      "enrich.not_removed" -> counters.notRemoved.toDouble,
      "state.merge_busy_s" -> stats.map(_.mergeS).sum,
      "state.delete_busy_s" -> stats.map(_.deleteS).sum,
      "state.read_busy_s" -> stats.map(_.readS).sum,
      "state.commits" -> commits.toDouble,
      "state.buckets_dirty_per_commit" -> ratio(stats.map(_.bucketsDirty).sum, commits),
      "state.buckets_written_per_commit" -> ratio(stats.map(_.bucketsWritten).sum, commits),
      "state.write_amp" -> ratio(stateFs.bytesWritten, merged),
      "state.disk_bytes_per_live_byte" -> ratio(disk, live),
      "xml.mets_docs_per_cpu_s" -> ratio(counters.processed, cpuUnder("enrich.commit")),
      "xml.headers_per_cpu_s" -> ratio(counters.headersServed, cpuUnder("harvest.runOnce")))
  }

  /** Reporting rows of records processed long ago: records
    * `0 until seededReporting`, drawn with [[ReportingSteady.StateSeed]]. */
  private def seededRows: Seq[ReportRow] =
    (0L until seededReporting).flatMap(n => ReportingGen.expected(
      ReportingSteady.StateSeed, ReportingGen.qucosaId(n), 1420070400L))

  /** The seeded queue, one harvest of `seededQueue` headers: half
    * re-harvests of reported records, half new ones. Advances the
    * datestamp clock. */
  private def seededHeaders(): Seq[Header] = {
    val half = seededQueue / 2
    val ids = (0L until half).map(i => ReportingGen.qucosaId(i * 2)) ++
      (0L until (seededQueue - half)).map(i => ReportingGen.qucosaId(seededReporting + i))
    ids.map(id => ReportingGen.header(ReportingSteady.StateSeed, id, tick()))
  }

  /** Builds the seeded state under `root` through the pipelines: the
    * reporting rows merged into the reporting table, the queue
    * harvested from one page whose token continues at `s1`. */
  private def build(root: String): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val st = new ReportingState(ctx, root, buckets)
    st.reporting.merge(seededRows.map(r => (r.id, r.mandator, r.docType,
        new Timestamp(r.distributionMs), new Timestamp(r.headerLastModifiedMs)))
      .toDF("record_identifier", "mandator", "document_type",
        "distribution_date", "header_last_modified"), Seq("record_identifier"))
    clock = 0L
    val hs = seededHeaders()
    val pages = new PageStub
    pages.register("", ReportingGen.page(hs, T0, Some("s1"), 0L, hs.size))
    val run = st.harvest(traced = false).runOnce(pages, new Timestamp(T0 * 1000L))
    require(run.succeeded && run.harvestedHeaders == hs.size,
      s"seeding the queue failed: ${run.errors}")
  }

  private val snapshot = new java.io.File(dataCache,
    s"steady-v${ReportingSteady.Version}-r$seededReporting-q$seededQueue-b$buckets")

  /** The seeded state does not depend on the run's seed, so it is built
    * once per checkout into `dataCache` (outside the set-up timing, like
    * the query tables). Building writes to a temporary directory renamed
    * into place, so a run killed mid-build leaves no half-built state. */
  override def prepare(): Unit =
    if (!snapshot.isDirectory) {
      val t0 = System.nanoTime()
      val tmp = new java.io.File(dataCache,
        s"${snapshot.getName}.tmp-${ProcessHandle.current.pid}")
      build(tmp.getPath)
      if (!tmp.renameTo(snapshot) && !snapshot.isDirectory)
        throw new java.io.IOException(s"could not move $tmp to $snapshot")
      generatedS += (System.nanoTime() - t0) / 1e9
    }

  /** Copies the seeded state into a fresh directory: the service
    * starting against its existing state. The run's seed drives every
    * cycle's traffic and the METS documents. */
  def setup(): Unit = {
    prepare()
    val root = ctx.freshDir("steady")
    ReportingSteady.copyTree(snapshot.toPath, java.nio.file.Paths.get(root))
    state = new ReportingState(ctx, root, buckets)
    stub = new PageStub
    queue.clear(); expected.clear(); clock = 0L; cycle = 0
    seededRows.foreach(r => expected(r.id) = r)
    seededHeaders().foreach(h => queue(h.id) = h)
    nextNumber = seededReporting.toLong + seededQueue - seededQueue / 2
    plainPipes = (state.harvest(false), state.enrichment(false, batch))
    tracedPipes = (state.harvest(true), state.enrichment(true, batch))
  }

  def warmup(): Unit = { nextOp(); () }

  def nextOp(): OpRec = {
    val seed = ctx.seed
    cycle += 1
    val c = cycle
    val drained = queue.take(batch).values.toSeq
    val re = drained.sortBy(h => ReportingGen.h(seed, "re", c, h.id)).take(reharvest)
      .map(h => ReportingGen.header(seed, h.id, tick()))
    val fresh = (0 until batch - reharvest - foreignPerPage).map { _ =>
      nextNumber += 1
      ReportingGen.header(seed, ReportingGen.qucosaId(nextNumber), tick())
    }
    val foreign = (0 until foreignPerPage).map(i =>
      ReportingGen.header(seed, ReportingGen.foreignId(seed, c * 1000L + i), tick()))
    val page = new scala.util.Random(seed * 31 + c).shuffle(re ++ fresh ++ foreign)
    val nowS = T0 + 3600L * c
    stub.register(s"s$c", ReportingGen.page(page, nowS, Some(s"s${c + 1}"),
      c.toLong * batch, 1000000L))
    val (h, e) = if (tracing) tracedPipes else plainPipes
    var summary: Option[EnrichmentSummary] = None
    val rec = runOp(s"cycle") {
      val pb = ctx.tracer("enrich.processBatch")(e.processBatch(doc))
      harvestPage(h, stub, page.size, nowS)
      summary = pb.map { b =>
        val s = ctx.tracer("enrich.commit")(e.commit(b))
        counters.add(s)
        s
      }
      summary.map(_.processed).getOrElse(0L)
    }
    // the model: drained records are reported (or rejected); the
    // re-harvested ones stay queued with their new datestamp
    drained.foreach { hd =>
      ReportingGen.expected(seed, hd.id, hd.datestampS).foreach(r => expected(r.id) = r)
      queue.remove(hd.id)
    }
    (re ++ fresh).foreach(hd => queue(hd.id) = hd)
    val expectReported = drained.count(hd => ReportingGen.shape(seed,
      ReportingGen.number(hd.id)).valid)
    check(rec) {
      summary match {
        case None => Seq("processBatch drained nothing from a non-empty queue")
        case Some(s) => Seq(
          Option.when(s.processed != drained.size)(
            s"processed ${s.processed}, expected ${drained.size}"),
          Option.when(s.reported != expectReported)(
            s"reported ${s.reported}, expected $expectReported"),
          Option.when(s.notRemoved != re.size)(
            s"${s.notRemoved} rows not removed, ${re.size} were planted (ST5)"),
        ).flatten
      }
    }
  }

  /** Checks the final state against the model: the queue holds exactly
    * the modelled headers (id, datestamp, set specs, deleted flag), the
    * reporting table exactly the modelled rows, and the checkpoint the
    * last page's token. */
  override def finish(): Seq[String] = {
    // the check's full reads list every bucket directory on the driver;
    // above this threshold Spark would list them with one task each
    val listing = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    ctx.spark.conf.set(listing, Int.MaxValue.toString)
    try finalCheck() finally ctx.spark.conf.unset(listing)
  }

  private def finalCheck(): Seq[String] = {
    val got = state.headers.read().map(_.select("record_identifier",
        "datestamp", "set_spec", "status_is_deleted").collect().map { r =>
      Header(r.getString(0), r.getTimestamp(1).getTime / 1000L,
        r.getSeq[String](2), r.getBoolean(3))
    }.toSeq).getOrElse(Nil)
    val want = queue.values.toSeq
    val last = plainPipes._1.lastRun()
    Seq(
      Option.when(got.size != want.size)(
        s"queue holds ${got.size} headers, the model ${want.size}"),
      (got.toSet -- want).headOption.map(h => s"queue row not in the model: $h"),
      Option.when(!last.resumptionToken.contains(s"s${cycle + 1}"))(
        s"checkpoint token ${last.resumptionToken} is not the last page's s${cycle + 1}"),
    ).flatten ++ Checks.reporting(state.reportingRows(), expected.toMap)
  }

  def namedMetrics(ops: Seq[OpRec], p50: Double, tail: Double,
      perS: Double): Seq[(String, Double)] =
    Seq("cycle_s_p50" -> p50, "cycle_s_tail" -> tail,
      "steady_records_per_s" -> perS)
}

object ReportingSteady {
  /** Bumped whenever the seeded state's contents change, so a snapshot
    * built by an older generator is never read. */
  val Version = 1

  /** The generator seed of the seeded state, fixed so one snapshot
    * serves every run seed. */
  val StateSeed = 0L

  /** Copies the tree at `from` to `to`, hard-linking the bucket files
    * under a table's `data/`: a commit writes them once and never opens
    * them for writing again, so a link serves as a copy; manifests and
    * checkpoints are copied. */
  def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    val walk = Files.walk(from)
    try walk.forEach { p =>
      val rel = from.relativize(p)
      val t = to.resolve(rel.toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else if (rel.getNameCount > 1 && rel.getName(1).toString == "data") Files.createLink(t, p)
      else Files.copy(p, t)
    } finally walk.close()
  }
}
