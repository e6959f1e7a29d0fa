package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.ops.Dedup
import graft.pipeline.BucketedStateTable

/** Structured Streaming twin of
  * [[graft.ops.Dedup.incrementalEmbeddingNearDups]] — completing the
  * symmetry that every incremental state operator ships a streaming
  * face (exact dedup, text near-dup [[NearDupStream]], IVF ingest
  * [[graft.ops.Similarity.indexIvf]]): per micro-batch the embedding
  * stream probes the persistent LSH index bucket-pruned, verified
  * cosine pairs merge into a keyed pairs table, and the batch joins
  * the index. Vectors
  * ride in the index rows, so — unlike the text twin — no co-maintained
  * doc store is needed.
  *
  * Delivery: at-least-once `foreachBatch` + keyed merges only (pairs on
  * `(a_id, b_id)`, index on `(bucket, vec_id)`) → replayed batches
  * converge with no batch marker; the probe slice is pinned before the
  * index merge and self-pairs are filtered, so a replay that sees its
  * own rows changes nothing.
  *
  * 100 TB: per batch, a narrow LSH map over the batch plus reads of
  * only the buckets the batch hashes into — ingest cost is
  * batch-proportional while the index grows to corpus scale. */
object EmbedNearDupStream {

  /** The micro-batch body: run it through [[ForeachBatch.start]] over a
    * streaming DataFrame carrying `idCol` + `vecCol` (ids unique across
    * index ∪ stream). Seed `index` with
    * [[graft.ops.Dedup.indexEmbeddings]]; `planes` must match that
    * build. Returns the batch's verified pairs (pinned), as merged. */
  def processBatch(
      batch: DataFrame,
      index: BucketedStateTable,
      pairs: BucketedStateTable,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      threshold: Double = 0.95,
      planes: Int = 12): DataFrame = {
    val p = Dedup.incrementalEmbeddingNearDups(index, batch,
      idCol, vecCol, threshold, planes)
    pairs.merge(p, keys = Seq("a_id", "b_id"))
    p
  }
}
