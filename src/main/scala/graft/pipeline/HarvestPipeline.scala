package graft.pipeline

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.model.{OaiRunResult, ParsedPage}
import graft.operators.StateOps
import graft.streaming.OffsetStateMachine
import graft.xml.XmlProjections

/** Result of one harvest iteration (one OAI page). */
case class HarvestRunSummary(
    succeeded: Boolean,
    requestUri: String,
    harvestedHeaders: Long,
    errors: Map[String, String],
    checkpoint: Option[OaiRunResult])

/** Pluggable page transport: URI → Left(error) | Right(body). The real
  * deployment plugs an HTTP client; tests plug fixture maps. Mirrors the
  * reference's "HTTP ≠200 or empty body ⇒ failed run" contract
  * (`OaiHarvester.java:253-264`). */
trait PageFetcher extends (String => Either[String, String]) with Serializable

object PageFetcher {
  /** Default real-socket transport — `HttpURLConnection` with timeouts
    * and status handling ([[graft.sources.OaiPageSource.httpFetch]]);
    * non-200 or transport error maps to `Left` (failed run, reference
    * `OaiHarvester.java:253-264`). */
  def http(connectTimeoutMs: Int = 10000, readTimeoutMs: Int = 30000): PageFetcher =
    new PageFetcher {
      def apply(uri: String): Either[String, String] =
        graft.sources.OaiPageSource.httpFetch(uri, connectTimeoutMs, readTimeoutMs)
          .toRight(s"transport failure or non-200 fetching $uri")
    }
}

/** The harvest stage (SURVEY §3.2) re-expressed Spark-first: one
  * iteration = one micro-batch of `checkpoint → fetch page → project
  * (P1/P2/P3) → filter (F1) → merge headers (U1) → append checkpoint (U3)
  * → retention (D2)`.
  *
  * ST4 ordering is preserved exactly: the headers state commits BEFORE
  * the checkpoint row, so a crash in between replays the page into an
  * idempotent merge. ST3 error policy: transport failures persist
  * nothing; OAI-level errors advance the checkpoint per the ST2 decision
  * table (`OffsetStateMachine`).
  *
  * @param headerFilter F1 plug-point (reference `OaiHeaderFilter`);
  *        identity by default, the qucosa regex filter in production.
  *        Third-party filters deploy by name through
  *        [[OaiHeaderFilters]] (`headerFilter = OaiHeaderFilters("qucosa")`).
  * @param onClockSkew invoked with a warning message when the server's
  *        `responseDate` differs from local `now` by more than
  *        [[HarvestPipeline.MaxClockSkewMillis]] (SF3 skew check,
  *        reference `OaiHarvester.java:69,513-517` — a skewed server
  *        clock mis-aligns the `from`-window of subsequent requests).
  *        Defaults to a log warning; specs inject a recorder, mirroring
  *        the reference's mocked-appender log-assertion tests.
  */
class HarvestPipeline(
    spark: SparkSession,
    headersTable: StateTable,
    runsTable: BucketedStateTable,
    oaiBaseUrl: String,
    metadataPrefix: String = "oai_dc",
    fc3CompatibilityMode: Boolean = true,
    historyLengthHours: Long = 48L,
    headerFilter: DataFrame => DataFrame = identity,
    onClockSkew: String => Unit = HarvestPipeline.logWarning) extends Serializable {

  import spark.implicits._

  Tables.configure(spark)

  /** Newest checkpoint (A1 top-1-by-sequence over the runs state),
    * picked on the driver from the runs table's driver-held rows
    * ([[BucketedStateTable.readLocal]]): no Spark job while the newest
    * commit is the one this pipeline last wrote. A committed-but-EMPTY
    * runs table (a legal StateTable state — ops truncation, spec setup)
    * falls back to the initial checkpoint like a never-written one,
    * instead of throwing on `.head` of nothing. */
  def lastRun(): OaiRunResult =
    runsTable.readLocal()
      .flatMap { df =>
        val id = df.schema.fieldIndex("id")
        df.collect().filterNot(_.isNullAt(id)).maxByOption(_.getLong(id)).map(r =>
          spark.createDataFrame(java.util.List.of(r), df.schema)
            .as[OaiRunResult].collect().head)
      }
      .getOrElse(OffsetStateMachine.initial)

  /** One poll iteration. `now` is injected (the reference's
    * `startTimeOfCurrentRun`) so runs are deterministic and testable. */
  def runOnce(fetch: PageFetcher, now: Timestamp): HarvestRunSummary = {
    val last = lastRun()
    val uri = OaiRequestBuilder.listIdentifiersUri(
      oaiBaseUrl, last, fc3CompatibilityMode, metadataPrefix)

    fetch(uri) match {
      case Left(err) =>
        // Transport failure: nothing persisted, no retention — the next
        // iteration replays from the unchanged checkpoint (ST3).
        HarvestRunSummary(succeeded = false, uri, 0L,
          Map("transport" -> err), None)

      case Right(body) =>
        val pageDf = Seq(body).toDF("xml")
        val page = parsePage(pageDf)

        // An HTTP-200 body that is not OAI-PMH at all (a proxy's HTML
        // maintenance page) parses to NO responseDate and NO <error> —
        // indistinguishable, below, from a clean empty list. Advancing
        // the checkpoint over it would jump the from-window past the
        // outage and silently never harvest the gap (and mid-pagination
        // it would abandon the rest of the backlog). responseDate is
        // MANDATORY in every valid OAI-PMH response, error responses
        // included — treat its absence as a failed run: nothing
        // persists, the next iteration replays the same request (the
        // same ST3 stance as a transport failure).
        if (page.responseDate.isEmpty && page.errors.isEmpty)
          return HarvestRunSummary(succeeded = false, uri, 0L,
            Map("unparseable" ->
              ("HTTP 200 but no OAI-PMH responseDate in the body — " +
                "not an OAI response; checkpoint not advanced")), None)

        // SF3 clock-skew check (reference OaiHarvester.java:513-517):
        // warn when |responseDate − now| exceeds the 2-minute tolerance
        page.responseDate.foreach { rd =>
          val skew = math.abs(rd.getTime - now.getTime)
          if (skew > HarvestPipeline.MaxClockSkewMillis)
            onClockSkew(
              s"OAI server responseDate $rd differs from local time $now by " +
                s"$skew ms (> ${HarvestPipeline.MaxClockSkewMillis} ms); " +
                "from-windows of subsequent requests may mis-align")
        }

        val nHeaders =
          if (page.errors.isEmpty) {
            // the page's filtered headers, COLLECTED once: the page body
            // is a driver string already and bounds them, so the header
            // regex-explode projection runs in this one job, the count
            // is the rows', and the merge gets a driver-local frame
            // whose dirty buckets are found on the driver
            val projected = headerFilter(
              XmlProjections.projectOaiHeaders(pageDf, col("xml"))
                .select("record_identifier", "datestamp", "set_spec",
                  "status_is_deleted"))
            val rows = projected.collect()
            // ST4: headers commit BEFORE the checkpoint row; the merge is
            // an atomic read-modify-write so a concurrent enrichment
            // delete cannot be clobbered. Through the StateTable trait a
            // bucketed headers table rewrites only the page's buckets.
            headersTable.merge(
              spark.createDataFrame(java.util.Arrays.asList(rows: _*), projected.schema),
              keys = Seq("record_identifier"))
            rows.length.toLong
          } else 0L

        val next = OffsetStateMachine.advance(last, page, now, fc3CompatibilityMode)
        // D2 retention with keep-latest runs in the same commit; cutoff =
        // start of current run minus the configured history length.
        // ATOMIC read-union-retain-write (runsTable.updateLocal holds
        // the table's write lock across the read and the write): a
        // separate read() + write() would let a concurrent appender's
        // checkpoint row vanish from the union — a backfill racing the
        // poll loop would then resume from the older checkpoint,
        // dropping a mid-pagination resumption token and the backlog
        // behind it. The union and the retention run on the driver-held
        // rows, so the write is the cycle's only runs-table job.
        val cutoff = new Timestamp(now.getTime - historyLengthHours * 3600_000L)
        runsTable.updateLocal { cur =>
          val nextRow = Seq(next).toDF()
          val schema = cur.map(_.schema).getOrElse(nextRow.schema)
          val runs = cur.toSeq.flatMap(_.collect()) ++
            nextRow.select(schema.fieldNames.toSeq.map(col): _*).collect()
          spark.createDataFrame(java.util.Arrays.asList(
            StateOps.retentionKeepLatestRows(runs, schema, seqCol = "id",
              tsCol = "timestampOfRun", cutoff = cutoff): _*), schema)
        }

        HarvestRunSummary(succeeded = true, uri, nHeaders, page.errors, Some(next))
    }
  }

  /** Drain a full paginated list: iterate while the checkpoint carries a
    * resumption token (ST1 fast-drain — the reference waits only the
    * 1-second floor between paginated requests).
    *
    * Pass `clock` to re-derive "now" PER PAGE on long drains: with the
    * frozen drain-start default, the clock-skew check compares each
    * page's live server responseDate against an ever-staler local time
    * — a 1000-page drain at ~1 s/page would fire spurious skew warnings
    * on every page past the 2-minute tolerance and stamp every
    * checkpoint with the same timestampOfRun. The frozen default keeps
    * short drains (and deterministic tests) exactly reproducible;
    * backfills should pass
    * `Some(() => new Timestamp(System.currentTimeMillis))`. */
  def runToCompletion(
      fetch: PageFetcher,
      now: Timestamp,
      maxPages: Int = 1000,
      clock: Option[() => Timestamp] = None,
      interPageDelayMillis: Long = 1000L,
      sleeper: Long => Unit = Thread.sleep): Seq[HarvestRunSummary] = {
    val pageNow = clock.getOrElse(() => now)
    val out = Seq.newBuilder[HarvestRunSummary]
    var pages = 0
    var continue = true
    while (continue && pages < maxPages) {
      val s = runOnce(fetch, pageNow())
      out += s
      pages += 1
      continue = s.succeeded && s.checkpoint.exists(_.hasResumptionToken)
      // the reference's 1-second floor BETWEEN paginated requests
      // (MINIMUM_WAITTIME — a backfill must not hammer the upstream
      // server); injectable for tests, skipped after the last page
      if (continue && interPageDelayMillis > 0L) sleeper(interPageDelayMillis)
    }
    out.result()
  }

  /** P2 + P3 over a one-page frame, collected to the driver's
    * [[ParsedPage]] scalar state. */
  private def parsePage(pageDf: DataFrame): ParsedPage = {
    val row = XmlProjections.projectOaiErrors(
        XmlProjections.projectOaiEnvelope(pageDf, col("xml")), col("xml"))
      .select("response_date", "token_state", "resumption_token",
        "token_expiration", "errors")
      .head()
    val token = row.getString(1) match {
      case "absent" => None
      case _        => Some(row.getString(2))
    }
    ParsedPage(
      responseDate = Option(row.getTimestamp(0)),
      resumptionToken = token,
      resumptionTokenExpirationDate = Option(row.getTimestamp(3)),
      errors = row.getMap[String, String](4).toMap)
  }
}

object HarvestPipeline {
  /** Server-clock skew tolerance before warning — the reference's
    * hard-coded 2 minutes (`OaiHarvester.java:69`). */
  val MaxClockSkewMillis: Long = 2L * 60L * 1000L

  private lazy val log =
    org.slf4j.LoggerFactory.getLogger(classOf[HarvestPipeline])
  private[pipeline] val logWarning: String => Unit = msg => log.warn(msg)
}
