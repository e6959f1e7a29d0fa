package graft.pipeline

import java.sql.Timestamp

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.Tables
import graft.operators.StateOps
import graft.xml.XmlProjections

/** One queued header as drained from the headers state (§1.2). */
case class QueuedHeader(
    record_identifier: String,
    datestamp: Timestamp,
    set_spec: Seq[String],
    status_is_deleted: Boolean)

private[pipeline] case class FetchedHeader(
    record_identifier: String,
    datestamp: Timestamp,
    set_spec: Seq[String],
    status_is_deleted: Boolean,
    mets_xml: String)

/** Pluggable per-record document transport: local id (`qucosa:7455`) →
  * METS XML body, None on 404/empty (reference
  * `MetsProcessor.java:165-187`). Must be serializable — it runs inside
  * `mapPartitions` on executors; a production implementation builds its
  * HTTP client lazily per partition. */
trait DocumentFetcher extends (String => Option[String]) with Serializable

object DocumentFetcher {
  /** Default real-socket transport: maps the local id through `urlFor`
    * (e.g. `id => s"http://host/mets?pid=$id"` — must be a serializable
    * closure, it ships to executors) and fetches via `HttpURLConnection`
    * with timeouts + status handling
    * ([[graft.sources.OaiPageSource.httpFetch]]); 404/non-200/transport
    * error → None (reference `MetsProcessor.java:165-187`). */
  def http(urlFor: String => String, connectTimeoutMs: Int = 10000,
      readTimeoutMs: Int = 30000): DocumentFetcher =
    new DocumentFetcher {
      def apply(localId: String): Option[String] =
        graft.sources.OaiPageSource.httpFetch(
          urlFor(localId), connectTimeoutMs, readTimeoutMs)
    }

  /** The canonical METS dissemination fetcher for `baseUrl`
    * (reference `MetsProcessor.java:279-283`). Use THIS, not
    * `http(id => OaiRequestBuilder.metsUri(base, id))`: the pipeline
    * hands the fetcher the LOCAL id, while `metsUri` expects the FULL
    * OAI id and strips again — the composition double-strips
    * (`qucosa:7455` → `7455`) and silently 404s every fetch. */
  def mets(baseUrl: String, connectTimeoutMs: Int = 10000,
      readTimeoutMs: Int = 30000): DocumentFetcher =
    http(localId => OaiRequestBuilder.metsUriFromLocal(baseUrl, localId),
      connectTimeoutMs, readTimeoutMs)
}

object EnrichmentPipeline {
  /** Upper bound on the driver-collected queue batch: ~100k header
    * tuples (id + timestamp + small array + flag) is single-digit MB on
    * the driver — 1000× the reference's LIMIT 100
    * (`PostgrePersistenceService.java:291`) while still bounded. */
  val MaxDriverBatch: Int = 100000
}

/** Result of one enrichment iteration. */
case class EnrichmentSummary(
    processed: Long,
    reported: Long,
    rejected: Long,
    notRemoved: Long)

/** The enrichment stage (SURVEY §3.3) re-expressed Spark-first: one
  * iteration = `drain batch (L1) → per-record METS fetch (S2, partition-
  * parallel) → project (P4) → validate (F2) → merge reporting docs (U2) →
  * optimistic queue delete (D1)`.
  *
  * Reference semantics preserved:
  *  - EVERY drained header is treated as processed — fetch failures and
  *    incomplete METS documents are dropped from the reporting output but
  *    their queue rows are still cleared (`MetsProcessor.java:126-147`,
  *    test `MetsProcessorTest.java:218-254`);
  *  - the queue delete is full-tuple conditional (ST5): a header
  *    re-harvested mid-flight survives, and the survivor set is reported
  *    (`PersistenceService.java:72-86`);
  *  - reporting merge and queue delete are separate commits — replay
  *    after a crash between them is safe because the merge is idempotent
  *    (`MetsProcessor.java:148-156`).
  */
  /**
  * @param interRequestDelayMillis S2 pacing: minimum wait between
  *        consecutive fetches WITHIN a partition (the reference enforces
  *        ≥1 s between METS requests to protect the dissemination
  *        service, `MetsProcessor.java:135-141`, wait built at
  *        `ReportingManager.java:85`). The aggregate request rate is
  *        `partitions / delay` — tune partition count together with the
  *        delay for the upstream's budget. 0 (default) disables pacing
  *        for bench/bulk runs; the reference-faithful deployment profile
  *        uses 1000.
  * @param sleep injectable so specs observe pacing with a fake clock
  *        instead of wall-clock sleeps.
  */
class EnrichmentPipeline(
    spark: SparkSession,
    headersTable: StateTable,
    reportingTable: StateTable,
    batchSize: Int = 100,
    interRequestDelayMillis: Long = 0L,
    sleep: Long => Unit = Thread.sleep(_)) extends Serializable {
  // Serializable so shell/notebook-defined fetchers (anonymous classes
  // whose $outer drags this instance into the task closure) still ship.

  // The drained batch is COLLECTED to the driver (readBatchWithRetry) —
  // deliberate at the reference's LIMIT-100 contract, but batchSize is
  // caller-settable, so an unbounded value would turn the collect into
  // a driver OOM. Bulk backfills should not raise this cap: keep the
  // queue as a DataFrame, run the fetch via mapPartitions over the
  // DataFrame itself, and join fetched results back — i.e. drive
  // runToCompletion over many bounded batches instead of one huge one.
  require(batchSize >= 1 && batchSize <= EnrichmentPipeline.MaxDriverBatch,
    s"batchSize must be in [1, ${EnrichmentPipeline.MaxDriverBatch}] " +
      s"(got $batchSize): the drained batch is collected to the driver; " +
      "for bulk backfills loop runToCompletion over bounded batches")

  import spark.implicits._

  Tables.configure(spark)

  /** A drained, fetched and projected batch awaiting commit: the P4
    * projection's rows (the METS fields, not the METS XML) and their
    * schema, held on the driver. The remote fetches ran exactly once,
    * in [[processBatch]]'s job, however long the caller holds the
    * batch and whatever state pruning happens meanwhile; at most
    * `batchSize` rows, the bound under which the drained batch was
    * already collected. */
  case class ProcessedBatch private[EnrichmentPipeline] (
      rows: Seq[Row], schema: StructType)

  def runOnce(fetch: DocumentFetcher): EnrichmentSummary =
    processBatch(fetch) match {
      case None     => EnrichmentSummary(0, 0, 0, 0)
      case Some(pb) => commit(pb)
    }

  /** Drain the whole backlog: iterate batches while the queue yields
    * rows (the reference's `moreOAIHeadersToProcess` fast-drain,
    * `MetsProcessor.java:108-116,260-268`). */
  def runToCompletion(fetch: DocumentFetcher, maxBatches: Int = 1000): Seq[EnrichmentSummary] = {
    val out = Seq.newBuilder[EnrichmentSummary]
    var batches = 0
    var continue = true
    while (continue && batches < maxBatches) {
      val s = runOnce(fetch)
      out += s
      batches += 1
      continue = s.processed > 0
    }
    out.result()
  }

  /** Phase 1 — drain a bounded batch (L1), run the per-record fetch
    * (S2) and the P4 projection, in one job whose projected rows are
    * collected. The batch is held while fetches run, exactly like the
    * reference holds its `List<OaiHeader>` during its minutes-long
    * fetch loop — the window in which a concurrent harvest may
    * re-upsert a drained record. A failed task re-fetches its
    * partition; a failed commit abandons the batch, and the retry
    * drains a fresh one. */
  def processBatch(fetch: DocumentFetcher): Option[ProcessedBatch] =
    readBatchWithRetry().flatMap { batchRows =>
      if (batchRows.isEmpty) None
      else {
        val delay = interRequestDelayMillis
        val doSleep = sleep
        val fetched = spark.createDataset(batchRows).mapPartitions { it =>
          // per-partition pacing (S2): first request immediate, then the
          // configured inter-request wait — a token-bucket of depth 1,
          // matching the reference's sequential 1 s floor per client
          var first = true
          it.map { h =>
            if (!first && delay > 0L) doSleep(delay)
            first = false
            val xml = fetch(OaiRequestBuilder.localIdentifier(h.record_identifier))
            FetchedHeader(h.record_identifier, h.datestamp, h.set_spec,
              h.status_is_deleted, xml.orNull)
          }
        }.toDF()
        // P4 in the fetch's own job: the per-document namespace-aware
        // METS DOM parse (the phase's dominant CPU cost) runs on the
        // rows as they are fetched, and only the projected fields come
        // back to the driver
        val projected = XmlProjections.projectMets(fetched, col("mets_xml"))
          .withColumn("header_last_modified", col("datestamp"))
          .drop("mets_xml")
        Some(ProcessedBatch(projected.collect().toSeq, projected.schema))
      }
    }

  /** The bounded batch is COLLECTED (≤ batchSize rows — the reference's
    * in-memory `List<OaiHeader>`): the committed snapshot is pinned only
    * for this brief read, so pruning can never delete files under the
    * minutes-long fetch job that follows. The read itself can still lose
    * a pruning race against a rapidly-committing harvester, so it
    * retries on a fresh snapshot. Empty queue → no batch, no state churn
    * (the reference sleeps without touching persistence,
    * `MetsProcessor.java:110-116`). */
  private def readBatchWithRetry(
      attempts: Int = 3): Option[Seq[QueuedHeader]] = {
    var last: Throwable = null
    var i = 0
    while (i < attempts) {
      // the read() resolves AND lists the snapshot, so it sits inside the
      // retry too: files pruned between the manifest read and the
      // listing surface here as FileNotFoundException
      try headersTable.read() match {
        case None => return None
        case Some(queue) =>
          return Some(StateOps.limitBatch(
            queue.orderBy(col("record_identifier")), batchSize)
            .as[QueuedHeader].collect().toSeq)
      } catch {
        case scala.util.control.NonFatal(e) =>
          last = e // snapshot pruned mid-read; re-list
      }
      i += 1
    }
    throw new IllegalStateException(
      s"queue snapshot unreadable after $attempts attempts", last)
  }

  /** Phase 2 — commit: merge reporting rows (U2), then delete the
    * processed headers from the LATEST queue snapshot (D1). Re-reading
    * the queue here is what honors ST5: a record re-upserted with a new
    * datestamp while its old version was in flight fails the full-tuple
    * match, survives the delete, and is reported in `notRemoved`
    * (reference `PostgrePersistenceServiceTestIT.java:452-494` — the
    * reference's DELETE runs against current DB state for the same
    * reason).
    *
    * The reference orders only the outcome: reporting rows, then the
    * queue delete (`MetsProcessor.java:148-156`). So the delete runs
    * beside the merge as a gated mutation ([[PublishGate]]): its probe,
    * read and bucket write overlap the merge, and its manifest
    * publishes after the merge's. A merge that throws aborts the gate
    * and the delete publishes nothing; its data directory is an orphan
    * the queue's next commit prunes. A delete that throws after the
    * merge published leaves the records reported and still queued —
    * the crash order of the sequential commit — and the next batch
    * drains them again into an idempotent merge. */
  def commit(pb: ProcessedBatch): EnrichmentSummary = {
    // everything below works on driver-local frames: the counts are the
    // rows' own, and the merge and the delete find their dirty buckets
    // on the driver instead of in probe jobs
    val batch = spark.createDataFrame(
      java.util.Arrays.asList(pb.rows: _*), pb.schema)
    // F2 validation → reporting rows. Null XML (fetch miss) nulls
    // every projected field, so F2 drops it.
    val reportingRows = XmlProjections.validateReportingRow(batch)
      .select("record_identifier", "mandator", "document_type",
        "distribution_date", "header_last_modified")
    val processed = pb.rows.size.toLong
    val reported = reportingRows.collect().length.toLong

    // the queue tuple is QueuedHeader's FOUR fields, statically — the
    // batch can never carry more (readBatchWithRetry fixed the shape
    // at drain), and a live-column list captured from the queue would
    // crash every commit the moment the headers table is widened (ADD
    // COLUMN is supported) while the batch is in flight
    val processedHeaders = batch.select(
      col("record_identifier"), col("datestamp"), col("set_spec"),
      col("status_is_deleted"))
    // each table's read-modify-write is atomic under its own write
    // lock, so a harvest merge cannot land between the delete's read
    // and its write and be clobbered; a bucketed queue rewrites only
    // the batch's buckets
    var notRemoved = 0L
    MutationOverlap.withGatedMutation { gate =>
      notRemoved = headersTable.deleteWhereUnmodifiedAfter(processedHeaders, gate)
    } {
      reportingTable.merge(reportingRows, keys = Seq("record_identifier"))
    }
    EnrichmentSummary(processed, reported, processed - reported, notRemoved)
  }
}
