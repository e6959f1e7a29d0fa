package graft.pipeline

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame

/** The state-mutation surface the pipelines need, abstracted over where
  * the state lives: [[BucketedStateTable]] (the one file-backed layout:
  * key-bucketed commits that rewrite only dirty buckets, from the
  * one-bucket run checkpoints up to 100 TB of headers) and
  * [[JdbcStateTable]] (an external SQL database). Both honor the same
  * commit discipline: a mutation is atomic under the table's write lock
  * and readers only ever see committed state, which is what the
  * reference gets from PostgreSQL transactions
  * (`PostgrePersistenceService.java:218-280`).
  */
trait StateTable {

  /** Newest committed snapshot, if any. None means the table was never
    * initialized (no version committed / table never created); a table
    * that exists but holds zero rows — e.g. a drained queue — reads as
    * Some(empty), uniformly across implementations. */
  def read(): Option[DataFrame]

  /** Newest committed snapshot or an empty frame shaped like `like`. */
  def readOrEmpty(like: DataFrame): DataFrame

  /** U1/U2 — keyed last-write-wins merge of `updates` into the state,
    * committed atomically (`StateOps.mergeByKey` semantics). */
  def merge(updates: DataFrame, keys: Seq[String],
      versionCols: Seq[String] = Nil): Unit

  /** D1 — full-tuple optimistic-concurrency delete of `processed` from
    * the LATEST state under the write lock (`StateOps.deleteIfUnmodified`
    * semantics). Returns the number of processed rows NOT removed because
    * their state row changed since they were read (ST5). */
  def deleteWhereUnmodified(processed: DataFrame): Long

  /** [[merge]] guarded by a per-stream batch marker: exactly-once
    * upgrade for `foreachBatch` replay (ST4). Returns true when the
    * write happened, false when `batchId` was already committed by the
    * same `streamScope`. */
  def mergeOnceForBatch(batchId: Long, streamScope: String,
      updates: DataFrame, keys: Seq[String],
      versionCols: Seq[String] = Nil): Boolean

  private[pipeline] def tableRoot: Path
  private[pipeline] def fileSystem: FileSystem
}

/** Shared per-stream batch-marker bookkeeping for `foreachBatch`
  * exactly-once (ST4): markers are scoped by a hash of the checkpoint
  * location because batch ids restart at 0 with a fresh checkpoint, and
  * a global marker would silently swallow the new stream's first
  * batches. A crash between the state commit and the marker replays as
  * an idempotent re-merge — at-least-once degrading safely. */
private[pipeline] object BatchMarkers {
  private def scopeDir(root: Path, streamScope: String): Path =
    new Path(root,
      "_batches/" + java.lang.Long.toHexString(
        scala.util.hashing.MurmurHash3.stringHash(streamScope).toLong & 0xffffffffL))

  /** Marker probe WITHOUT the lock — the cheap replay pre-check a sink
    * runs before paying to materialize a batch it would then discard.
    * A false answer is only advisory (the guarded runOnce re-checks
    * under the lock); a true answer is definitive (markers are never
    * un-written within their retention window). */
  def seen(fs: FileSystem, root: Path, batchId: Long,
      streamScope: String): Boolean =
    fs.exists(new Path(scopeDir(root, streamScope), f"batch$batchId%012d"))

  /** Runs `body` unless `batchId` already has a marker; marks after.
    * Caller must hold the table's write lock. Returns true when `body`
    * ran. */
  def runOnce(fs: FileSystem, root: Path, batchId: Long,
      streamScope: String)(body: => Unit): Boolean = {
    val scopeDir = this.scopeDir(root, streamScope)
    val marker = new Path(scopeDir, f"batch$batchId%012d")
    if (fs.exists(marker)) false
    else {
      body
      fs.mkdirs(scopeDir)
      fs.create(marker, true).close()
      // bounded marker history: drop markers far behind the current batch
      fs.listStatus(scopeDir).foreach { st =>
        val n = st.getPath.getName.stripPrefix("batch")
        if (n.forall(_.isDigit) && n.toLong < batchId - 100) fs.delete(st.getPath, false)
      }
      true
    }
  }
}
