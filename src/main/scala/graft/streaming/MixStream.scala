package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Corpus, TextAnalysis}
import graft.pipeline.BucketedStateTable

/** Streaming temperature mixture — the continuous-ingestion face of
  * [[graft.ops.Corpus.mixByTemperature]]: each micro-batch is sampled
  * at the rates implied by the RUNNING per-source token totals
  * (including the current batch), with the totals held in a persistent
  * state table keyed by source. As a source's share of the stream
  * grows, its keep rate falls — the mixture self-balances without ever
  * re-reading history.
  *
  * Totals increments are NOT idempotent (unlike the engine's keyed-
  * merge streaming twins), so the update is batch-marker guarded via
  * [[graft.pipeline.BucketedStateTable.mergeOnceForBatch]]; the keep
  * decision derives from the post-update totals WHETHER OR NOT this
  * invocation applied them (`applied` tells a replay that the current
  * state already includes the batch), so an at-least-once replay
  * re-emits exactly the same kept rows over unchanged totals.
  *
  * Semantics note: rates evolve with the stream, so which documents an
  * EARLIER batch kept depends on arrival order — that is inherent to
  * online mixture control (the offline [[graft.ops.Corpus
  * .mixByTemperature]] is the order-free batch answer). Within one
  * batch the decision is the same deterministic hash-threshold filter
  * as the batch operator.
  *
  * 100 TB/day: per batch the work is one narrow token-count map, a
  * map-side-combined per-source aggregate (rows = |sources|), a
  * tiny keyed state merge, and the narrow keep filter — batch-
  * proportional everywhere, state = one row per source.
  */
object MixStream {

  /** One micro-batch step — the body to run through
    * [[ForeachBatch.start]] with `streamScope` = that checkpoint dir:
    * counts the batch's per-source tokens, folds them into `totals`
    * (marker-guarded), and returns the batch's kept rows under the
    * post-update rates for the caller's sink (e.g. an append to the
    * curated corpus). `totals` must be keyed on a single `source`
    * string column (`keyCols = Seq("source")`). */
  def processBatch(
      batch: DataFrame,
      batchId: Long,
      totals: BucketedStateTable,
      tau: Double,
      streamScope: String,
      idCol: String = "doc_id",
      sourceCol: String = "source",
      textCol: String = "text",
      seed: String = "mix"): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    val withTokens = batch.withColumn("n_tokens",
      TextAnalysis.tokenCount(col(textCol)))
    // coalesce mirrors the batch operator: an all-null-text source must
    // sum to 0, not NULL (getLong on NULL would kill the stream)
    val batchTotals = withTokens.groupBy(col(sourceCol))
      .agg(coalesce(sum(col("n_tokens")), lit(0L)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val cur = totals.read()
      .map(_.collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
      .getOrElse(Map.empty[String, Long])
    // write only the batch's sources (bucket-pruned merge); untouched
    // sources keep their state rows
    val updated = batchTotals.map { case (s, n) =>
      s -> (cur.getOrElse(s, 0L) + n)
    }
    val merged = cur ++ updated
    val applied =
      if (batchTotals.isEmpty) false
      else totals.mergeOnceForBatch(batchId, streamScope,
        updated.toSeq.toDF("source", "total"), keys = Seq("source"))
    // post-update totals: if the marker skipped us, the state ALREADY
    // contains this batch (crash-after-commit replay) — using `cur`
    // then reproduces the original decision exactly
    val decisionTotals = if (applied) merged else cur
    Corpus.keepBySourceRates(withTokens, idCol, sourceCol,
      Corpus.temperatureRates(decisionTotals, tau), seed)
  }
}
