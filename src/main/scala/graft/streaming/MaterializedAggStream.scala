package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.StateOps
import graft.pipeline.BucketedStateTable

/** Continuously-maintained materialized aggregate — the streaming twin
  * of [[graft.operators.StateOps.maintainSumCount]]: tail a state
  * table's change feed (`graft-state-changes`) and fold each CDC
  * micro-batch into a persistent `count(*)`/`sum(valueCol)` view keyed
  * on `groupCols`, so the view tracks a mutating 100 TB base table
  * without EITHER side ever being rescanned:
  *
  *  - the feed batch is bucket-pruned by the base table's manifests
  *    (only rewritten buckets are read);
  *  - the view read is bucket-pruned to the batch's TOUCHED groups
  *    ([[graft.pipeline.BucketedStateTable.readForKeys]]);
  *  - the view write is one atomic keyed delta (updates + drained-group
  *    deletes) under the commit protocol.
  *
  * Exactly-once: view increments are NOT idempotent, so the delta is
  * batch-marker guarded
  * ([[graft.pipeline.BucketedStateTable.applyDeltaOnceForBatch]]) — a
  * replayed micro-batch is skipped, and the feed's deterministic
  * commit-range batches make the replayed frame identical anyway. The
  * narrow crash window between delta publish and marker is the same
  * documented trade as [[MixStream]]'s running totals.
  *
  * Group-moving updates need no special casing: the feed carries both
  * images of an update, so the preimage decrements the old group and
  * the postimage increments the new one. */
object MaterializedAggStream {

  /** One micro-batch fold — the body to run through
    * [[ForeachBatch.start]] over the base table's change feed
    * (`spark.readStream.format("graft-state-changes")`, with
    * `startingCommit` to seed the view from retained history; without
    * it only changes from now on are maintained, so bootstrap the view
    * with [[graft.operators.StateOps.aggregateShape]] + a merge first),
    * with `streamScope` = that checkpoint dir. `changes` is a CDC frame
    * (`change_type` + base row columns; a `_commit_id` column is
    * tolerated and ignored). Returns true when the view advanced
    * (false = marker-skipped replay). */
  def processBatch(
      changes: DataFrame,
      batchId: Long,
      view: BucketedStateTable,
      groupCols: Seq[String],
      valueCol: String,
      streamScope: String): Boolean = {
    val feed = changes.drop("_commit_id")
    // empty-shaped like-frame with the view's exact schema
    val like = StateOps.aggregateShape(feed.limit(0), groupCols, valueCol)
    val touched = feed.select(groupCols.map(col): _*).distinct()
    val current = view.readForKeys(touched, like = like)
    val updated = StateOps.maintainSumCount(current, feed, groupCols, valueCol)
    // null-safe anti-join, same reason as maintainSumCount's join: a
    // legitimately-NULL group must drain exactly when its view row
    // disappears, not be re-flagged (or missed) on every batch
    // explicit aliases: `updated` derives FROM `current`, so bare
    // dataframe-column references would be an ambiguous self-join
    val curKeys = current.select(groupCols.map(col): _*).as("__cur")
    val drained = curKeys.join(updated.as("__upd"),
      groupCols.map(c => StateOps.aliasedCol("__cur", c) <=>
        StateOps.aliasedCol("__upd", c)).reduce(_ && _),
      "left_anti")
    view.applyDeltaOnceForBatch(batchId, streamScope,
      upserts = updated, deleteKeys = drained, keys = groupCols)
  }
}
