package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The one `foreachBatch` adapter every state-table stream runs on:
  * `batches` (a streaming DataFrame) → checkpointed micro-batches →
  * `body(batch, batchId)`. Each stream object supplies only its body
  * (e.g. [[NearDupStream.processBatch]], [[HarvestStream.processBatch]]).
  *
  * Delivery (ST4): the engine commits a micro-batch only after `body`
  * returns, so a failure inside or right after `body` replays the same
  * batch id over the same input on restart from `checkpointDir` —
  * at-least-once. A body made only of keyed merges converges on replay
  * with no marker; a body with non-idempotent writes guards them with a
  * batch marker scoped to the checkpoint (its `streamScope`).
  *
  * `trigger` defaults to AvailableNow (drain everything pending, then
  * stop); `Trigger.ProcessingTime(...)` keeps the query polling.
  * Graceful stop (ST6) = `StreamingQuery.stop()`. */
object ForeachBatch {

  def start(
      batches: DataFrame,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow())(
      body: (DataFrame, Long) => Unit): StreamingQuery =
    batches.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch(body)
      .start()
}
