package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._
import graft.model.OaiRunResult
import graft.pipeline._

/** End-to-end harvest + enrichment pipeline tests over the reference's
  * golden XML fixtures (reference tests `OaiHarvesterTest.java`,
  * `MetsProcessorTest.java`). */
class PipelineSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft-pipe").toString

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private val qucosaFilter: DataFrame => DataFrame =
    _.filter(isQucosaId(col("record_identifier")))

  private def fetcher(pages: Map[String, String]): PageFetcher =
    new PageFetcher {
      def apply(uri: String): Either[String, String] =
        pages.collectFirst { case (k, v) if uri.contains(k) => v }
          .toRight(s"404 for $uri")
    }

  // ── S1 request building (reference OaiHarvesterTest.java:168-332) ──────

  test("S1: first run requests metadataPrefix without from") {
    val uri = OaiRequestBuilder.listIdentifiersUri(
      "http://h/oai", OaiRunResult(0L, ts("2024-01-01 00:00:00"),
        ts("2024-01-01 00:00:00"), None, None, None), fc3CompatibilityMode = true)
    assert(uri == "http://h/oai?verb=ListIdentifiers&metadataPrefix=oai_dc")
  }

  test("S1: from-timestamp formatted FC3 (no Z) vs spec (Z)") {
    val last = OaiRunResult(1L, ts("2024-01-01 00:00:00"), ts("2024-01-01 00:00:00"),
      None, None, Some(ts("2024-02-03 04:05:06")))
    assert(OaiRequestBuilder.listIdentifiersUri("http://h/oai", last, true)
      .endsWith("&from=2024-02-03T04%3A05%3A06"))
    assert(OaiRequestBuilder.listIdentifiersUri("http://h/oai", last, false)
      .endsWith("&from=2024-02-03T04%3A05%3A06Z"))
  }

  test("S1: resumption token excludes metadataPrefix and from") {
    val last = OaiRunResult(1L, ts("2024-01-01 00:00:00"), ts("2024-01-01 00:00:00"),
      Some("111111111111111"), None, Some(ts("2024-02-03 04:05:06")))
    val uri = OaiRequestBuilder.listIdentifiersUri("http://h/oai", last, true)
    assert(uri == "http://h/oai?verb=ListIdentifiers&resumptionToken=111111111111111")
  }

  test("S1: blank token falls back to metadataPrefix (tri-state)") {
    val last = OaiRunResult(1L, ts("2024-01-01 00:00:00"), ts("2024-01-01 00:00:00"),
      Some(""), None, None)
    assert(OaiRequestBuilder.listIdentifiersUri("http://h/oai", last, true)
      .contains("metadataPrefix=oai_dc"))
  }

  test("S2: local identifier strips oai prefix and authority") {
    assert(OaiRequestBuilder.localIdentifier("oai:example.org:qucosa:7455")
      == "qucosa:7455")
    assert(OaiRequestBuilder.metsUri("http://h/mets", "oai:example.org:qucosa:7455")
      == "http://h/mets?pid=qucosa%3A7455")
  }

  // ── Harvest end-to-end (reference OaiHarvesterTest.java:348-596) ───────

  test("harvest: two-page pagination merges headers and advances the checkpoint") {
    val dir = tmp()
    val headers = StateLayouts.records(spark, s"$dir/headers")
    val runs = StateLayouts.runs(spark, s"$dir/runs")
    val p = new HarvestPipeline(spark, headers, runs, "http://h/oai",
      headerFilter = qucosaFilter)

    val fetch = fetcher(Map(
      "metadataPrefix" -> fixture("/oai/resumptionToken.xml"),
      "resumptionToken=111111111111111" -> fixture("/oai/listIdentifiers.xml")))

    val now = ts("2024-03-01 10:00:00")
    val summaries = p.runToCompletion(fetch, now, interPageDelayMillis = 0L)

    assert(summaries.map(_.succeeded) == Seq(true, true))
    // page 1 carries the token → page 2 requested with it
    assert(summaries(1).requestUri.contains("resumptionToken=111111111111111"))

    // headers: qucosa:1044 (both pages, merged) + qucosa:1234 (deleted)
    val hs = headers.read().get.orderBy("record_identifier").collect()
    assert(hs.length == 2)
    assert(hs(0).getAs[String]("record_identifier") == "oai:example.org:qucosa:1044")
    assert(!hs(0).getAs[Boolean]("status_is_deleted"))
    assert(hs(1).getAs[String]("record_identifier") == "oai:example.org:qucosa:1234")
    assert(hs(1).getAs[Boolean]("status_is_deleted"))
    assert(hs(1).getAs[scala.collection.Seq[String]]("set_spec").toSeq
      == Seq("test:11", "test:22"))

    // checkpoints: 2 rows; final one has no token and (FC3 default mode,
    // token → absent-token branch) nextFrom = start of current run
    val last = p.lastRun()
    assert(last.id == 2L)
    assert(!last.hasResumptionToken)
    assert(last.nextFromTimestamp.contains(now))
  }

  test("harvest: noRecordsMatch advances, badResumptionToken replays backup, transport failure persists nothing") {
    val dir = tmp()
    val headers = StateLayouts.records(spark, s"$dir/headers")
    val runs = StateLayouts.runs(spark, s"$dir/runs")
    val p = new HarvestPipeline(spark, headers, runs, "http://h/oai")

    // 1: noRecordsMatch — success semantics, offset advances to run start
    val s1 = p.runOnce(fetcher(Map(
      "verb" -> fixture("/oai/errorNoRecordsMatch.xml"))), ts("2024-03-01 10:00:00"))
    assert(s1.succeeded && s1.errors.contains("noRecordsMatch"))
    assert(p.lastRun().nextFromTimestamp.contains(ts("2024-03-01 10:00:00")))
    assert(headers.read().isEmpty) // no headers state was ever written

    // 2: badResumptionToken — checkpoint row written, offset held at backup
    val s2 = p.runOnce(fetcher(Map(
      "verb" -> fixture("/oai/errorBadResumptionToken.xml"))), ts("2024-03-01 11:00:00"))
    assert(s2.succeeded && s2.errors.contains("badResumptionToken"))
    assert(p.lastRun().id == 2L)
    assert(p.lastRun().nextFromTimestamp.contains(ts("2024-03-01 10:00:00")))

    // 3: transport failure — nothing persisted at all
    val before = runs.commits().lastOption
    val s3 = p.runOnce(fetcher(Map.empty), ts("2024-03-01 12:00:00"))
    assert(!s3.succeeded)
    assert(runs.commits().lastOption == before)
    assert(p.lastRun().id == 2L)
  }

  test("ST3: an HTTP-200 non-OAI body fails the run — the checkpoint must not advance over an outage") {
    val dir = tmp()
    val headers = StateLayouts.records(spark, s"$dir/headers")
    val runs = StateLayouts.runs(spark, s"$dir/runs")
    val p = new HarvestPipeline(spark, headers, runs, "http://h/oai")

    // establish a checkpoint, then serve a proxy's HTML maintenance page
    // with HTTP 200: parsing yields no responseDate and no <error> —
    // previously indistinguishable from a clean empty list, so the
    // from-window would jump past the outage and silently never harvest
    // the gap
    p.runOnce(fetcher(Map(
      "verb" -> fixture("/oai/errorNoRecordsMatch.xml"))), ts("2024-03-01 10:00:00"))
    val checkpointBefore = p.lastRun()
    val before = runs.commits().lastOption

    val s = p.runOnce(fetcher(Map(
      "verb" -> "<html><body>503 upstream maintenance</body></html>")),
      ts("2024-03-01 11:00:00"))
    assert(!s.succeeded, "a non-OAI 200 body must be a FAILED run")
    assert(s.errors.contains("unparseable"), s.errors)
    assert(runs.commits().lastOption == before, "nothing may persist")
    assert(p.lastRun() == checkpointBefore, "the checkpoint must hold")
  }

  test("harvest: a committed-but-EMPTY runs table falls back to the initial checkpoint") {
    val dir = tmp()
    val headers = StateLayouts.records(spark, s"$dir/headers")
    val runs = StateLayouts.runs(spark, s"$dir/runs")
    val p = new HarvestPipeline(spark, headers, runs, "http://h/oai")
    p.runOnce(fetcher(Map(
      "verb" -> fixture("/oai/errorNoRecordsMatch.xml"))), ts("2024-03-01 10:00:00"))
    // drain the runs table to zero rows — a legal StateTable state that
    // must read like a never-written table, not throw on .head
    runs.replaceAll(runs.read().get.limit(0))
    assert(p.lastRun() == graft.streaming.OffsetStateMachine.initial)
  }

  test("harvest: D2 retention drops expired checkpoints but keeps the newest") {
    val dir = tmp()
    val headers = StateLayouts.records(spark, s"$dir/headers")
    val runs = StateLayouts.runs(spark, s"$dir/runs")
    val p = new HarvestPipeline(spark, headers, runs, "http://h/oai",
      historyLengthHours = 1L)
    val fetch = fetcher(Map("verb" -> fixture("/oai/errorNoRecordsMatch.xml")))

    p.runOnce(fetch, ts("2024-03-01 10:00:00"))
    p.runOnce(fetch, ts("2024-03-01 10:30:00"))
    // 3rd run at 12:00, cutoff 11:00 → runs 1+2 expired; run 2 would be
    // dropped were it not superseded; run 3 and nothing else survives…
    p.runOnce(fetch, ts("2024-03-01 12:00:00"))
    val ids = runs.read().get.select("id").collect().map(_.getLong(0)).sorted
    assert(ids sameElements Array(3L))

    // …and an expired newest row is always kept (keep-latest exception).
    val p2 = new HarvestPipeline(spark, headers, runs, "http://h/oai",
      historyLengthHours = 0L)
    p2.runOnce(fetch, ts("2024-03-02 00:00:00"))
    assert(runs.read().get.count() == 1L)
    assert(p2.lastRun().id == 4L)
  }

  // ── Enrichment end-to-end (reference MetsProcessorTest.java) ───────────

  test("enrichment: projects METS fields, rejects incomplete docs, clears the queue") {
    val dir = tmp()
    val headers = StateLayouts.records(spark, s"$dir/headers")
    val reporting = StateLayouts.records(spark, s"$dir/reporting")

    // Queue: 4 records — 7455 (complete), 13 (date-only), 31789
    // (incomplete: no mets:agent), 31790 (no-colon zone offset)
    val s = spark
    import s.implicits._
    val queue = Seq(
      QueuedHeader("oai:example.org:qucosa:7455", ts("2024-01-01 01:00:00"), Nil, false),
      QueuedHeader("oai:example.org:qucosa:13", ts("2024-01-01 02:00:00"), Nil, false),
      QueuedHeader("oai:example.org:qucosa:31789", ts("2024-01-01 03:00:00"), Nil, false),
      QueuedHeader("oai:example.org:qucosa:31790", ts("2024-01-01 04:00:00"), Nil, false)
    ).toDF()
    headers.replaceAll(queue)

    val mets = Map(
      "qucosa:7455" -> fixture("/mets/qucosa7455-mets.xml"),
      "qucosa:13" -> fixture("/mets/qucosa13-mets.xml"),
      "qucosa:31789" -> fixture("/mets/qucosa31789-mets.xml"),
      "qucosa:31790" -> fixture("/mets/qucosa31790-mets.xml"))
    val fetch = new DocumentFetcher {
      def apply(localId: String): Option[String] = mets.get(localId)
    }

    val e = new EnrichmentPipeline(spark, headers, reporting)
    val summary = e.runOnce(fetch)

    assert(summary.processed == 4L)
    assert(summary.reported == 3L)   // 31789 rejected (no mandator)
    assert(summary.rejected == 1L)
    assert(summary.notRemoved == 0L)

    // queue fully cleared — including the rejected record
    assert(headers.read().get.count() == 0L)

    // golden rows (reference MetsProcessorTest fixtures; times UTC)
    val rows = reporting.read().get.orderBy("record_identifier")
      .collect().map(r => (
        r.getAs[String]("record_identifier"),
        r.getAs[String]("mandator"),
        r.getAs[String]("document_type"),
        r.getAs[Timestamp]("distribution_date"),
        r.getAs[Timestamp]("header_last_modified")))
    assert(rows.toSeq == Seq(
      ("oai:example.org:qucosa:13", "SLUB", "issue",
        ts("2008-08-04 00:00:00"), ts("2024-01-01 02:00:00")),
      ("oai:example.org:qucosa:31790", "slub", "article",
        ts("2016-10-10 09:27:33"), ts("2024-01-01 04:00:00")),
      ("oai:example.org:qucosa:7455", "slub", "in_book",
        ts("2016-05-24 10:33:56"), ts("2024-01-01 01:00:00"))))
  }

  test("enrichment: a queue read that fails is retried on a fresh snapshot, and gives up after three") {
    val s = spark
    import s.implicits._
    val mets = Map(
      "qucosa:7455" -> fixture("/mets/qucosa7455-mets.xml"),
      "qucosa:13" -> fixture("/mets/qucosa13-mets.xml"))
    val fetch = new DocumentFetcher {
      def apply(localId: String): Option[String] = mets.get(localId)
    }
    def queued(failures: Int): (FlakyReadTable, BucketedStateTable) = {
      val dir = tmp()
      val headers = StateLayouts.records(spark, s"$dir/headers")
      headers.replaceAll(Seq(
        QueuedHeader("oai:example.org:qucosa:7455", ts("2024-01-01 01:00:00"), Nil, false),
        QueuedHeader("oai:example.org:qucosa:13", ts("2024-01-01 02:00:00"), Nil, false)
      ).toDF())
      (new FlakyReadTable(headers, failures),
        StateLayouts.records(spark, s"$dir/reporting"))
    }

    // one failed read: the batch drains on the second attempt
    val (flaky, reporting) = queued(failures = 1)
    val summary = new EnrichmentPipeline(spark, flaky, reporting).runOnce(fetch)
    assert(summary.processed == 2L)
    assert(reporting.read().get.count() == 2L)
    assert(flaky.read().get.count() == 0L)

    // every attempt fails: the pipeline gives up loudly, with the cause
    val (dead, deadReporting) = queued(failures = 3)
    val e = intercept[IllegalStateException](
      new EnrichmentPipeline(spark, dead, deadReporting).runOnce(fetch))
    assert(e.getCause.isInstanceOf[java.io.FileNotFoundException])
    assert(dead.reads.get == 3)
  }

  test("enrichment: ST5 late-update guard — a mid-flight re-harvest survives the delete") {
    val dir = tmp()
    val headers = StateLayouts.records(spark, s"$dir/headers")
    val reporting = StateLayouts.records(spark, s"$dir/reporting")
    val s = spark
    import s.implicits._

    headers.replaceAll(Seq(
      QueuedHeader("oai:example.org:qucosa:7455", ts("2024-01-01 01:00:00"), Nil, false),
      QueuedHeader("oai:example.org:qucosa:13", ts("2024-01-01 02:00:00"), Nil, false)
    ).toDF())

    val mets = Map(
      "qucosa:7455" -> fixture("/mets/qucosa7455-mets.xml"),
      "qucosa:13" -> fixture("/mets/qucosa13-mets.xml"))
    val fetch = new DocumentFetcher {
      def apply(localId: String): Option[String] = mets.get(localId)
    }
    val e = new EnrichmentPipeline(spark, headers, reporting)

    // Phase 1: batch drained (datestamps as of v1) and fetches done…
    val pb = e.processBatch(fetch).get
    // …then a concurrent harvest re-upserts 7455 with a NEWER datestamp
    // before the enrichment commit.
    val reharvested = graft.operators.StateOps.mergeByKey(
      headers.read().get,
      Seq(QueuedHeader("oai:example.org:qucosa:7455",
        ts("2024-06-01 00:00:00"), Nil, false)).toDF(),
      keys = Seq("record_identifier"))
    headers.replaceAll(reharvested)

    val summary = e.commit(pb)
    // the stale 7455 tuple failed the full-tuple match: reported back and
    // still queued (with its NEW datestamp); 13 was removed normally
    assert(summary.notRemoved == 1L)
    val left = headers.read().get.collect()
    assert(left.length == 1)
    assert(left.head.getAs[String]("record_identifier") == "oai:example.org:qucosa:7455")
    assert(left.head.getAs[Timestamp]("datestamp") == ts("2024-06-01 00:00:00"))
    // the reporting row from the stale read still landed (idempotent merge
    // will refresh it when the re-harvested version is processed)
    assert(reporting.read().get.count() == 2L)
  }

  test("S2: inter-request pacing — injected sleeper observes the per-partition delay") {
    val dir = tmp()
    val headers = StateLayouts.records(spark, s"$dir/headers")
    val reporting = StateLayouts.records(spark, s"$dir/reporting")
    val s = spark
    import s.implicits._
    val n = 9
    headers.replaceAll((1 to n).map(i =>
      QueuedHeader(s"oai:example.org:qucosa:$i",
        ts("2024-01-01 01:00:00"), Nil, false)).toDF())
    // fixture loaded OUTSIDE the fetcher: calling fixture() inside apply
    // would capture the (non-serializable) suite in the task closure
    val body = fixture("/mets/qucosa7455-mets.xml")
    val fetch = new DocumentFetcher {
      def apply(localId: String): Option[String] = Some(body)
    }
    PipelineSpec.sleeps.clear()
    val e = new EnrichmentPipeline(spark, headers, reporting,
      interRequestDelayMillis = 1000L, sleep = PipelineSpec.recordSleep)
    val summary = e.runOnce(fetch)
    assert(summary.processed == n.toLong)
    val observed = {
      val b = Seq.newBuilder[Long]
      PipelineSpec.sleeps.forEach(v => b += v)
      b.result()
    }
    // every wait is the configured delay, and the FIRST request of each
    // non-empty partition is immediate: waits = records − partitions
    assert(observed.nonEmpty && observed.forall(_ == 1000L))
    val slices = math.min(spark.sparkContext.defaultParallelism, n)
    assert(observed.size == n - slices)
  }

  test("harvest: clock-skew warning fires beyond the 2-minute tolerance, not within") {
    val dir = tmp()
    val headers = StateLayouts.records(spark, s"$dir/headers")
    val runs = StateLayouts.runs(spark, s"$dir/runs")
    val warnings = scala.collection.mutable.ListBuffer[String]()
    val p = new HarvestPipeline(spark, headers, runs, "http://h/oai",
      onClockSkew = msg => warnings.synchronized { warnings += msg })
    val fetch = fetcher(Map("verb" -> fixture("/oai/errorNoRecordsMatch.xml")))
    // fixture responseDate = 2016-07-26T18:05:24Z; 66 s skew → silent
    p.runOnce(fetch, ts("2016-07-26 18:06:30"))
    assert(warnings.isEmpty)
    // 1 h skew → exactly one warning naming both clocks
    p.runOnce(fetch, ts("2016-07-26 19:05:24"))
    assert(warnings.size == 1)
    assert(warnings.head.contains("differs from local time"))
  }

  // ── Structured Streaming wrapper (ST1/ST3/ST4 via engine checkpoint) ──

  test("streaming: file-source harvest stream merges pages incrementally") {
    val dir = tmp()
    val pages = s"$dir/pages"
    Files.createDirectories(Paths.get(pages))
    Files.writeString(Paths.get(pages, "p1.xml"), fixture("/oai/resumptionToken.xml"))

    val headers = StateLayouts.records(spark, s"$dir/headers")
    def harvest() = graft.streaming.ForeachBatch.start(
        graft.streaming.HarvestStream.pages(spark, pages), s"$dir/ckpt") {
      (b, id) => graft.streaming.HarvestStream.processBatch(b, id, headers, s"$dir/ckpt")
    }
    val q1 = harvest()
    q1.awaitTermination()
    assert(headers.read().get.count() == 1L) // qucosa:1044

    // New page arrives; a restarted stream picks up ONLY the new file
    // (checkpointed source offsets) and merges idempotently.
    Files.writeString(Paths.get(pages, "p2.xml"), fixture("/oai/listIdentifiers.xml"))
    val q2 = harvest()
    q2.awaitTermination()
    val hs = headers.read().get.orderBy("record_identifier").collect()
    assert(hs.length == 2) // 1044 merged from both pages, 1234 added
    assert(hs(1).getAs[Boolean]("status_is_deleted"))
  }

  test("enrichment: an oversized driver batch is rejected at construction") {
    val dir = Files.createTempDirectory("graft-batchguard").toString
    val headers = new BucketedStateTable(spark, s"$dir/h", Seq("record_identifier"))
    val reporting = new BucketedStateTable(spark, s"$dir/r", Seq("record_identifier"))
    val e = intercept[IllegalArgumentException] {
      new EnrichmentPipeline(spark, headers, reporting,
        batchSize = EnrichmentPipeline.MaxDriverBatch + 1)
    }
    assert(e.getMessage.contains("collected to the driver"))
    intercept[IllegalArgumentException] {
      new EnrichmentPipeline(spark, headers, reporting, batchSize = 0)
    }
    // the cap itself constructs fine
    new EnrichmentPipeline(spark, headers, reporting,
      batchSize = EnrichmentPipeline.MaxDriverBatch)
  }

  // ── Spark jobs per stage of one reporting cycle ───────────────────────

  /** One `ListIdentifiers` page over `(number, datestamp)` headers:
    * qucosa ids unless `foreign`, every third one in a set, every
    * seventh one deleted. */
  private def headerPage(hs: Seq[(Int, String)], token: Option[String],
      foreign: Seq[Int] = Nil): String = {
    def header(id: String, n: Int, d: String) = {
      val status = if (n % 7 == 0) " status=\"deleted\"" else ""
      val sets = if (n % 3 == 0) s"<setSpec>set:${n % 2}</setSpec>" else ""
      s"<header$status><identifier>$id</identifier><datestamp>$d</datestamp>$sets</header>"
    }
    val body = hs.map { case (n, d) => header(s"oai:example.org:qucosa:$n", n, d) } ++
      foreign.map(n => header(s"oai:example.org:other-$n", n, "2024-02-01T00:00:00Z"))
    val tok = token.fold("<resumptionToken/>")(t =>
      s"""<resumptionToken completeListSize="1000" cursor="0">$t</resumptionToken>""")
    s"""<?xml version="1.0" encoding="UTF-8"?>
       |<OAI-PMH xmlns="http://www.openarchives.org/OAI/2.0/">
       |  <responseDate>2024-03-01T10:00:00Z</responseDate>
       |  <request verb="ListIdentifiers" metadataPrefix="oai_dc">http://h/oai</request>
       |  <ListIdentifiers>${body.mkString("\n")}$tok</ListIdentifiers>
       |</OAI-PMH>""".stripMargin
  }

  /** Runs `body` and returns its result with the call sites of the Spark
    * jobs it started. */
  private def jobsOf[T](body: => T): (T, Seq[String]) = {
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        sites.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("callSite.short")))
          .getOrElse(e.stageInfos.headOption.fold("?")(_.name)))
        ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val r = body
      BenchMetrics.drainListenerBus(spark.sparkContext)
      (r, sites.toArray.toSeq.map(_.toString))
    }
    finally spark.sparkContext.removeSparkListener(l)
  }

  test("one reporting cycle over a 64-bucket state runs its pinned number of Spark jobs") {
    val dir = tmp()
    val headers = new BucketedStateTable(spark, s"$dir/headers",
      Seq("record_identifier"), numBuckets = 64)
    val reporting = new BucketedStateTable(spark, s"$dir/reporting",
      Seq("record_identifier"), numBuckets = 64)
    val runs = StateLayouts.runs(spark, s"$dir/runs")
    val harvest = new HarvestPipeline(spark, headers, runs, "http://h/oai",
      headerFilter = qucosaFilter)
    val enrich = new EnrichmentPipeline(spark, headers, reporting, batchSize = 40)
    val docs = Seq("7455", "13", "31789", "31790")
      .map(n => fixture(s"/mets/qucosa$n-mets.xml"))
    // every fifth document is missing, the rest cycle over the fixtures
    // (31789 has no mandator, so it is rejected)
    val fetchDoc = new DocumentFetcher {
      def apply(localId: String): Option[String] = {
        val n = localId.stripPrefix("qucosa:").toInt
        if (n % 5 == 0) None else Some(docs(n % docs.size))
      }
    }
    def day(d: Int) = f"2024-01-$d%02dT00:00:00Z"
    // seed: a 60-header queue, 40 of them enriched
    harvest.runOnce(fetcher(Map("metadataPrefix" ->
      headerPage((100 until 160).map(_ -> day(1)), Some("t1")))), ts("2024-03-01 10:00:00"))
    enrich.runOnce(fetchDoc)

    val (pb, processJobs) = jobsOf(enrich.processBatch(fetchDoc).get)
    // the page re-harvests three of the in-flight ids with a new
    // datestamp, adds 20 new ids and 5 foreign ones the filter drops
    val page = headerPage(Seq(141, 142, 143).map(_ -> day(2)) ++
      (160 until 180).map(_ -> day(2)), Some("t2"), foreign = 1 to 5)
    val (run, harvestJobs) = jobsOf(harvest.runOnce(
      fetcher(Map("resumptionToken=t1" -> page)), ts("2024-03-01 11:00:00")))
    val (summary, commitJobs) = jobsOf(enrich.commit(pb))

    // the same outcome as every earlier layout of the cycle
    assert(run.succeeded && run.harvestedHeaders == 23L)
    assert(summary == EnrichmentSummary(processed = 20, reported = 12,
      rejected = 8, notRemoved = 3))
    val queue = headers.read().get.select("record_identifier", "datestamp")
      .collect().map(r => r.getString(0) -> r.getTimestamp(1)).toMap
    assert(queue.size == 23)
    Seq(141, 142, 143).foreach(n => assert(
      queue(s"oai:example.org:qucosa:$n") == ts("2024-01-02 00:00:00")))
    assert(reporting.read().get.count() == 36L)

    // the counts come from rows the driver holds, the conditional
    // delete reads its buckets once and the harvest holds the
    // checkpoint rows it last wrote, so the only jobs left are the
    // projections and the writes
    def pinned(what: String, sites: Seq[String], n: Int) =
      assert(sites.size == n, s"$what ran ${sites.size} jobs, pinned at $n: " +
        sites.mkString(" | "))
    pinned("processBatch", processJobs, 2)
    pinned("runOnce", harvestJobs, 4)
    pinned("commit", commitJobs, 4)
  }

  test("harvest: lastRun and the checkpoint update run no Spark job and no Catalyst action while the held commit is the newest") {
    val dir = tmp()
    val p = new HarvestPipeline(spark, StateLayouts.records(spark, s"$dir/headers"),
      StateLayouts.runs(spark, s"$dir/runs"), "http://h/oai")
    p.runOnce(fetcher(Map("verb" -> fixture("/oai/errorNoRecordsMatch.xml"))),
      ts("2024-03-01 10:00:00"))
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
        actions.add(funcName); ()
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = {
        actions.add(funcName); ()
      }
    }
    def actionsOf[T](body: => T): (T, Seq[String], Seq[String]) = {
      actions.clear()
      spark.listenerManager.register(l)
      try {
        val (r, jobs) = jobsOf(body)
        (r, jobs, actions.toArray.toSeq.map(_.toString))
      } finally spark.listenerManager.unregister(l)
    }
    val (last, lastJobs, lastActions) = actionsOf(p.lastRun())
    assert(last.id == 1L && lastJobs.isEmpty && lastActions.isEmpty,
      s"lastRun: ${lastJobs.mkString(" | ")} / ${lastActions.mkString(", ")}")
    // an OAI-error page merges no headers: past the page parse, the
    // runs-table write is the cycle's one job and one action
    val (run, runJobs, runActions) = actionsOf(p.runOnce(fetcher(Map(
      "verb" -> fixture("/oai/errorNoRecordsMatch.xml"))), ts("2024-03-01 11:00:00")))
    assert(run.succeeded && p.lastRun().id == 2L)
    assert(runActions == Seq("head", "graft bucket write"), runActions)
    assert(runJobs.size == 1, runJobs.mkString(" | "))
  }

  // ── failures between ordered commits ───────────────────────────────

  private def zeroFloor(path: String, key: String = "record_identifier",
      buckets: Int = 8): BucketedStateTable =
    new BucketedStateTable(spark, path, Seq(key), numBuckets = buckets,
      retentionFloorMillis = 0L)

  /** Commit directories under `root/data` that no retained manifest
    * names. */
  private def orphanDataDirs(root: String): Set[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val named = BucketedStateTable.snapshotCommits(conf, root).flatMap(c =>
      BucketedStateTable.snapshotPaths(conf, root, Some(c)))
      .map(_.split("/data/").last.takeWhile(_ != '/')).toSet
    Option(new java.io.File(s"$root/data").list()).toSeq.flatten
      .filterNot(_.startsWith(".")).toSet -- named
  }

  /** Queues 7455 and 13, which a batch of two drains, and `more`. */
  private def twoQueued(headers: BucketedStateTable, more: String*): Unit = {
    val s = spark
    import s.implicits._
    headers.replaceAll((Seq(
      QueuedHeader("oai:example.org:qucosa:7455", ts("2024-01-01 01:00:00"), Nil, false),
      QueuedHeader("oai:example.org:qucosa:13", ts("2024-01-01 02:00:00"), Nil, false)
    ) ++ more.map(QueuedHeader(_, ts("2024-01-01 03:00:00"), Nil, false))).toDF())
  }

  private def twoDocs: DocumentFetcher = {
    val mets = Seq("7455", "13")
      .map(n => s"qucosa:$n" -> fixture(s"/mets/qucosa$n-mets.xml")).toMap
    new DocumentFetcher {
      def apply(localId: String): Option[String] = mets.get(localId)
    }
  }

  private def ids(t: BucketedStateTable): Set[String] =
    t.read().toSeq.flatMap(_.select("record_identifier").collect().map(_.getString(0))).toSet

  test("enrichment: a reporting merge that throws leaves the queue's newest commit, and the delete's data directory is pruned") {
    val dir = tmp()
    // one bucket, and a queued row the batch leaves: the delete writes
    // the bucket's surviving row
    val headers = zeroFloor(s"$dir/headers", buckets = 1)
    val reporting = zeroFloor(s"$dir/reporting")
    val left = "oai:example.org:qucosa:99999"
    twoQueued(headers, left)
    val queueHead = headers.commits().last
    val e = new EnrichmentPipeline(spark, headers, reporting, batchSize = 2)
    reporting.beforePublish = () => throw new java.io.IOException("reporting publish failed")
    val err = intercept[java.io.IOException](e.runOnce(twoDocs))
    assert(err.getMessage == "reporting publish failed")
    assert(headers.commits().last == queueHead && ids(headers).size == 3)
    assert(reporting.read().isEmpty)
    assert(orphanDataDirs(s"$dir/headers").size == 1,
      "the delete writes its buckets beside the merge and withdraws unpublished")
    reporting.beforePublish = () => ()
    assert(e.runOnce(twoDocs) == EnrichmentSummary(2, 2, 0, 0))
    assert(ids(headers) == Set(left) && ids(reporting).size == 2)
    assert(orphanDataDirs(s"$dir/headers").isEmpty)
  }

  test("enrichment: a queue delete that throws after the reporting publish fails the commit, and the next batch ends as a clean run") {
    def run(failDelete: Boolean): (Map[String, Seq[Any]], Set[String]) = {
      val dir = tmp()
      val headers = zeroFloor(s"$dir/headers")
      val reporting = zeroFloor(s"$dir/reporting")
      twoQueued(headers)
      val e = new EnrichmentPipeline(spark, headers, reporting)
      if (failDelete) {
        headers.beforePublish = () => throw new java.io.IOException("queue publish failed")
        intercept[java.io.IOException](e.runOnce(twoDocs))
        // reported and still queued: the sequential commit's crash order
        assert(ids(reporting).size == 2 && ids(headers).size == 2)
        headers.beforePublish = () => ()
      }
      assert(e.runOnce(twoDocs) == EnrichmentSummary(2, 2, 0, 0))
      assert(orphanDataDirs(s"$dir/headers").isEmpty)
      (reporting.read().get.collect().map(r =>
        r.getAs[String]("record_identifier") -> r.toSeq).toMap, ids(headers))
    }
    assert(run(failDelete = true) == run(failDelete = false))
  }

  test("harvest: a headers merge that throws leaves the checkpoint and lastRun where they were") {
    val dir = tmp()
    val headers = zeroFloor(s"$dir/headers")
    val runs = zeroFloor(s"$dir/runs", key = "id", buckets = 1)
    val p = new HarvestPipeline(spark, headers, runs, "http://h/oai")
    def day(d: Int) = f"2024-01-$d%02dT00:00:00Z"
    val pages = fetcher(Map(
      "metadataPrefix" -> headerPage((1 to 5).map(_ -> day(1)), Some("t1")),
      "resumptionToken=t1" -> headerPage((6 to 9).map(_ -> day(2)), Some("t2"))))
    p.runOnce(pages, ts("2024-03-01 10:00:00"))
    val before = p.lastRun()
    val runsHead = runs.commits().last
    headers.beforePublish = () => throw new java.io.IOException("headers publish failed")
    intercept[java.io.IOException](p.runOnce(pages, ts("2024-03-01 11:00:00")))
    assert(runs.commits().last == runsHead && p.lastRun() == before)
    assert(orphanDataDirs(s"$dir/runs").size == 1,
      "the checkpoint write runs beside the merge and withdraws unpublished")
    headers.beforePublish = () => ()
    val again = p.runOnce(pages, ts("2024-03-01 11:00:00"))
    assert(again.succeeded && again.harvestedHeaders == 4L)
    assert(p.lastRun().id == before.id + 1 && p.lastRun().resumptionToken.contains("t2"))
    assert(ids(headers).size == 9)
    assert(orphanDataDirs(s"$dir/runs").isEmpty)
  }

  // ── OaiHeaderFilters: the named F1 plug-point registry ────────────────

  test("header filters: named registry resolves builtins, takes third-party filters, rejects typos") {
    // builtin 'qucosa' behaves as the reference's production filter
    val dir = tmp()
    val headers = StateLayouts.records(spark, s"$dir/headers")
    val runs = StateLayouts.runs(spark, s"$dir/runs")
    val p = new HarvestPipeline(spark, headers, runs, "http://h/oai",
      headerFilter = OaiHeaderFilters("qucosa"))
    val fetch = fetcher(Map(
      "metadataPrefix" -> fixture("/oai/ListIdentifiersToFilter.xml")))
    p.runOnce(fetch, ts("2024-03-01 10:00:00"))
    val kept = headers.read().get
      .select("record_identifier").collect().map(_.getString(0)).toSet
    assert(kept.forall(_.matches(".+qucosa:\\d+")), s"kept: $kept")
    assert(kept.nonEmpty)

    // a third-party filter registers by name and resolves
    OaiHeaderFilters.register("only-1044",
      _.filter(col("record_identifier").endsWith(":1044")))
    assert(OaiHeaderFilters.names.contains("only-1044"))
    val dir2 = tmp()
    val headers2 = StateLayouts.records(spark, s"$dir2/headers")
    val p2 = new HarvestPipeline(spark, headers2,
      StateLayouts.runs(spark, s"$dir2/runs"), "http://h/oai",
      headerFilter = OaiHeaderFilters("only-1044"))
    p2.runOnce(fetcher(Map(
      "metadataPrefix" -> fixture("/oai/listIdentifiers.xml"))),
      ts("2024-03-01 10:00:00"))
    val kept2 = headers2.read().get
      .select("record_identifier").collect().map(_.getString(0)).toSet
    assert(kept2 == Set("oai:example.org:qucosa:1044"), s"kept: $kept2")

    // a config typo fails loudly with the known names
    val ex = intercept[IllegalArgumentException] {
      OaiHeaderFilters("qucosa-typo")
    }
    assert(ex.getMessage.contains("qucosa") && ex.getMessage.contains("identity"))
  }
}

object PipelineSpec {
  /** Static recorder for the S2 pacing spec — executors share the JVM in
    * local mode, so the injected sleeper can log here instead of
    * wall-clock sleeping. */
  val sleeps = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
  val recordSleep: Long => Unit = ms => { sleeps.add(ms); () }
}
