package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.ops.Multimodal
import graft.pipeline.BucketedStateTable

/** Structured Streaming twin of
  * [[graft.ops.Multimodal.incrementalPairNearDups]] — the cross-modal
  * member of the one-streaming-face-per-incremental-op family (exact
  * dedup in `IncrementalDedupSpec`, text [[NearDupStream]], embeddings
  * [[EmbedNearDupStream]], IVF [[graft.ops.Similarity.indexIvf]]): per
  * micro-batch the image–text pair stream dHashes its payloads, probes the
  * persistent band index bucket-pruned, verifies the surviving
  * candidates on BOTH modalities (image Hamming AND caption cosine —
  * the conjunction, never either alone), merges the verified pairs into
  * a keyed pairs table, and joins the index. Index rows carry the full
  * hash and the caption embedding ([[graft.ops.Multimodal.indexPairs]]),
  * so — like the embedding twin and unlike the text one — no
  * co-maintained doc store is needed: the slice alone verifies.
  *
  * Delivery: at-least-once `foreachBatch` + keyed merges only (pairs on
  * `(a_id, b_id)`, index on `(band, bh, pair_id)`) → replayed batches
  * converge with no batch marker; the probe result is pinned
  * (localCheckpoint) before the index merge inside
  * `incrementalPairNearDups` and self-pairs are filtered, so a replay
  * that sees its own rows re-derives the same pairs and every merge is
  * a no-op.
  *
  * 100 TB: per batch, a narrow batched decode+hash map over the batch
  * plus reads of only the index buckets the batch's band keys hash into
  * ([[graft.pipeline.BucketedStateTable.readForKeys]]) — ingest cost is
  * batch-proportional while the index grows to corpus scale, and hot
  * band buckets go through the bounded bipartite decomposition. */
object PairNearDupStream {

  /** The micro-batch body: run it through [[ForeachBatch.start]] over a
    * streaming DataFrame carrying `idCol` + `payloadCol` (encoded image
    * bytes) + `embCol` (caption embedding); ids unique across index ∪
    * stream. Seed `index` with [[graft.ops.Multimodal.indexPairs]];
    * `bands` must match that build. Returns the batch's verified pairs
    * (pinned), as merged. */
  def processBatch(
      batch: DataFrame,
      index: BucketedStateTable,
      pairs: BucketedStateTable,
      idCol: String = "pair_id",
      payloadCol: String = "payload",
      embCol: String = "embedding",
      maxHamming: Int = 3,
      bands: Int = 4,
      cosThreshold: Double = 0.95,
      batchSize: Int = 64,
      maxBucketSize: Int = 4096): DataFrame = {
    val p = Multimodal.incrementalPairNearDups(index, batch,
      idCol, payloadCol, embCol, maxHamming, bands, cosThreshold,
      batchSize, maxBucketSize)
    pairs.merge(p, keys = Seq("a_id", "b_id"))
    p
  }
}
