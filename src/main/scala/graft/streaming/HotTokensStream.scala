package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.Sketches
import graft.pipeline.MgSummaryStore

/** Streaming vocabulary monitor: per micro-batch a distributed
  * Misra-Gries summary of the batch's tokens (fixed k counters per
  * partition partial), merged into a persistent accumulated summary —
  * the what-is-hot-in-the-stream question answered with state bounded
  * by k REGARDLESS of stream length, where a groupBy-count monitor's
  * state grows with the vocabulary.
  *
  * Mergeable-summaries associativity means the accumulated summary is
  * exactly a one-shot summary of the concatenated stream: the superset
  * guarantee (any token with total count > total/k is present — the
  * insert-after-reap variant's bound, see [[graft.ops.Sketches]])
  * holds over ALL data ever streamed, so the summary's survivors are a
  * complete candidate set for an exact offline recount at any time
  * ([[graft.ops.TextAnalysis.heavyHitters]] phase 2).
  *
  * Sketch merges are not idempotent, so unlike the engine's keyed-merge
  * twins this stream NEEDS its batch marker:
  * [[graft.pipeline.MgSummaryStore.updateOnceForBatch]] makes an
  * at-least-once replay a no-op. */
object HotTokensStream {

  /** The micro-batch body: run it through [[ForeachBatch.start]] with
    * `streamScope` = that checkpoint dir (the marker's scope). `textCol`
    * is whitespace-tokenized, matching the batch heavy-hitter
    * tokenization. Returns true when the summary advanced (false = a
    * marker-skipped replay). */
  def processBatch(
      batch: DataFrame,
      batchId: Long,
      store: MgSummaryStore,
      textCol: Column,
      streamScope: String,
      k: Int = 1000): Boolean = {
    val toks = batch.filter(textCol.isNotNull)
      .select(explode(split(trim(textCol), "\\s+")).as("token"))
      // empty/whitespace-only text splits to [""] — without this an
      // "" pseudo-token occupies one of the k counters
      .filter(col("token") =!= "")
    // the sketch runs INSIDE the marker guard: a marker-skipped
    // replay (crash after the marker write) must not re-pay the
    // full tokenize+sketch pass just to discard it
    store.updateOnceForBatch(batchId, streamScope) {
      case Some(prev) =>
        Sketches.mergeSummaries(prev, Sketches.misraGries(toks, "token", k), k)
      case None => Sketches.misraGries(toks, "token", k)
    }
  }

  /** TRENDING tokens per event-time window — the windowed face of the
    * monitor ([[processBatch]] accumulates one global summary; this answers
    * "what was hot BETWEEN 9 and 10"): the Misra-Gries Aggregator runs
    * as a native windowed streaming aggregate, so per-window state is k
    * counters (not the window's vocabulary), partials combine map-side,
    * and the watermark evicts closed windows exactly as any windowed
    * agg — bounded state in both dimensions. Emits one row per
    * surviving (window, token): `(window_start, token, weight_lb)`,
    * weight the MG lower-bound counter (superset guarantee per window:
    * any token with count > windowTotal/k is present). Run the query in
    * Append mode; rows finalize when the watermark closes the window. */
  def perWindow(
      events: DataFrame,
      textCol: Column,
      windowDur: String = "1 hour",
      watermark: String = "30 minutes",
      k: Int = 100): DataFrame = {
    val mg = udaf(new Sketches.MisraGries(k),
      org.apache.spark.sql.Encoders.STRING)
    events.filter(textCol.isNotNull)
      .withWatermark("ts", watermark)
      .select(col("ts"), explode(split(trim(textCol), "\\s+")).as("token"))
      .filter(col("token") =!= "") // [""] from empty text is not a token
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), windowDur))
      .agg(mg(col("token")).as("mg"))
      .select(col("window.start").as("window_start"),
        explode(arrays_zip(col("mg.items"), col("mg.weights"))).as("hot"))
      .select(col("window_start"), col("hot.items").as("token"),
        col("hot.weights").as("weight_lb"))
  }
}
