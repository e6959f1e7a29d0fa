package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.pipeline.StateTable
import graft.xml.XmlProjections

/** Structured Streaming wrapper for the harvest stage (SURVEY §7.1's
  * "Trigger.ProcessingTime wrapper"): an unbounded stream of OAI page
  * documents → P1 header projection → F1 filter → idempotent U1 merge per
  * micro-batch.
  *
  * The page stream arrives as a file source (one page per file — the
  * stand-in for the paginated HTTP source; a DSv2 `MicroBatchStream` over
  * HTTP slots in behind the same DataFrame). Offset tracking, replay and
  * commit-after-write ordering (ST3/ST4) are exactly Structured
  * Streaming's checkpoint contract: a batch that fails mid-merge is
  * replayed, and the merge is idempotent, so state converges —
  * the engine-level equivalent of the reference's
  * "headers before run-result" ordering (`OaiHarvester.java:150-165`).
  *
  * ST6 graceful stop = `StreamingQuery.stop()` on the query
  * [[ForeachBatch.start]] returns.
  */
object HarvestStream {

  /** The page stream: one OAI page document per file under `pagesDir`,
    * as a single `xml` column. */
  def pages(spark: SparkSession, pagesDir: String): DataFrame = {
    Tables.configure(spark)
    spark.readStream
      .format("text")
      .option("wholetext", "true")
      .load(pagesDir)
      .withColumnRenamed("value", "xml")
  }

  /** The micro-batch body: run it through [[ForeachBatch.start]] over
    * [[pages]], with `streamScope` = that checkpoint dir. The adapter's
    * default AvailableNow trigger drains all pending pages, then stops
    * (the reference's backlog fast-drain); pass
    * `Trigger.ProcessingTime("360 seconds")` for the reference's steady
    * 6-minute poll (ST1).
    *
    * The window between this merge's commit and the engine's batch
    * commit is where a crash replays the batch (ST4); the recovery
    * specs inject their crash there by wrapping this body. Returns
    * true when the merge ran (false = a marker-skipped replay). */
  def processBatch(
      batch: DataFrame,
      batchId: Long,
      headersTable: StateTable,
      streamScope: String,
      headerFilter: DataFrame => DataFrame = identity): Boolean = {
    val headers = headerFilter(
      XmlProjections.projectOaiHeaders(batch, col("xml"))
        .select("record_identifier", "datestamp", "set_spec",
          "status_is_deleted"))
    // batch-id marker (scoped to this checkpoint) upgrades
    // foreachBatch's at-least-once replay to effective exactly-once;
    // the merge runs as an atomic read-modify-write. versionCols:
    // AvailableNow drains MANY page files into one batch, so a
    // record re-harvested across pages appears twice with no page
    // order to break the tie — the newest datestamp must win, the
    // same row the batch pipeline's sequential page-by-page merges
    // land on
    headersTable.mergeOnceForBatch(batchId, streamScope, headers,
      keys = Seq("record_identifier"), versionCols = Seq("datestamp"))
  }
}
