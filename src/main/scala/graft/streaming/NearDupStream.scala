package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.ops.Dedup
import graft.pipeline.BucketedStateTable

/** Structured Streaming twin of [[graft.ops.Dedup.incrementalNearDups]]:
  * an unbounded stream of documents → per-micro-batch LSH probe against
  * the persistent band index → verified ≥-threshold pairs merged into a
  * keyed pairs table → batch appended to the index AND the doc store.
  * The exact-dedup twin of this shape is spec'd in
  * `IncrementalDedupSpec` ("streaming ingest"); this is the near-dup
  * analogue the production crawl-ingest path needs.
  *
  * The stream maintains the doc store (`docs`, keyed on the id) itself:
  * a pair between a batch document and one streamed three batches ago
  * needs that older document's TEXT for exact-Jaccard verification, and
  * only a store that grows with the stream can supply it. Per batch the
  * store is read BEFORE the batch is appended, so the verification
  * corpus is exactly "everything ingested so far" and the current batch
  * joins in via `incrementalNearDups`' own batch-union (no double
  * counting).
  *
  * Delivery: `foreachBatch` is at-least-once. All three writes in the
  * batch body are KEYED merges — pairs on `(a_id, b_id)`, the index on
  * `(band, band_hash, doc_id)`, the doc store on the id — so a replayed
  * micro-batch re-derives the same pairs (the probe slice is pinned
  * before the index merge inside `incrementalNearDups`; self-pairs are
  * filtered, so the batch finding its own replayed index rows changes
  * nothing) and every merge is a no-op: state converges without a
  * batch-id marker.
  *
  * 100 TB: each micro-batch bands only its own documents and reads only
  * the index buckets its band hashes land in
  * ([[graft.pipeline.BucketedStateTable.readForKeys]]) — ingest cost is
  * batch-proportional, never corpus-proportional, which is what lets
  * the index accumulate to corpus scale while the stream keeps up. The
  * doc store is passed AS a store (not a frame), so the verification
  * text read is bucket-pruned to the candidate ids' buckets — the text
  * lookup never scans everything ever streamed.
  */
object NearDupStream {

  /** The micro-batch body: run it through [[ForeachBatch.start]] over a
    * streaming DataFrame carrying at least `idCol` and `textCol` (ids
    * unique across the doc store ∪ stream). Seed `docs` with the
    * pre-existing corpus and build `index` over it with
    * [[graft.ops.Dedup.indexNearDups]] before starting; banding
    * parameters here must match that build. Returns the batch's
    * verified pairs (pinned), as merged. */
  def processBatch(
      batch: DataFrame,
      docs: BucketedStateTable,
      index: BucketedStateTable,
      pairs: BucketedStateTable,
      idCol: String = "doc_id",
      textCol: String = "text",
      minJaccard: Double = 0.8,
      shingleLen: Int = 3,
      bands: Int = 16,
      rowsPerBand: Int = 4): DataFrame = {
    val rows = batch.select(col(idCol), col(textCol))
    val ingested = docs.readOrEmpty(like = rows).select(col(idCol), col(textCol))
    // `ingested` shapes the lookup; the STORE handle makes the text
    // read bucket-pruned to the candidate ids (see incrementalNearDups)
    val p = Dedup.incrementalNearDups(index, ingested, batch,
      idCol, textCol, minJaccard, shingleLen, bands, rowsPerBand,
      docStore = Some(docs))
    pairs.merge(p, keys = Seq("a_id", "b_id"))
    docs.merge(rows, keys = Seq(idCol))
    p
  }
}
