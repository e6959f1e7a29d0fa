package graft.pipeline

import org.apache.spark.sql.DataFrame

/** A [[StateTable]] whose first `failures` calls to `read()` throw the
  * way a read does when pruning deletes the snapshot's bucket files
  * between the manifest read and the listing; every other member
  * delegates to `underlying`. */
class FlakyReadTable(underlying: StateTable, failures: Int) extends StateTable {
  val reads = new java.util.concurrent.atomic.AtomicInteger(0)

  override def read(): Option[DataFrame] =
    if (reads.incrementAndGet() <= failures)
      throw new java.io.FileNotFoundException(
        s"bucket directory pruned under read ${reads.get}")
    else underlying.read()

  override def readOrEmpty(like: DataFrame): DataFrame =
    underlying.readOrEmpty(like)

  override def merge(updates: DataFrame, keys: Seq[String],
      versionCols: Seq[String] = Nil): Unit =
    underlying.merge(updates, keys, versionCols)

  override def deleteWhereUnmodified(processed: DataFrame): Long =
    underlying.deleteWhereUnmodified(processed)

  override def mergeOnceForBatch(batchId: Long, streamScope: String,
      updates: DataFrame, keys: Seq[String],
      versionCols: Seq[String] = Nil): Boolean =
    underlying.mergeOnceForBatch(batchId, streamScope, updates, keys, versionCols)

  private[pipeline] override def tableRoot = underlying.tableRoot
  private[pipeline] override def fileSystem = underlying.fileSystem
}
