package graft.pipeline

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame

import graft.perfbench.{FsCounters, Tracer}

/** Timing and counting decorator over a [[StateTable]], handed to the
  * pipelines in place of the table itself. It lives in this package
  * because the trait's `tableRoot` / `fileSystem` members are
  * package-private. Every call is forwarded unchanged; around it the
  * decorator records a span, busy time, Hadoop FileSystem counter
  * deltas and, for a [[BucketedStateTable]], the dirty and written
  * buckets of the commit the call made. */
final class TracedStateTable(val underlying: StateTable, tracer: Tracer)
    extends StateTable {
  import TracedStateTable.Stats

  val stats = new Stats

  private def timed[T](name: String)(body: => T): T = {
    val fs0 = FsCounters.snap()
    val before = lastCommitId
    val t0 = System.nanoTime()
    try tracer(name)(body)
    finally {
      val dt = (System.nanoTime() - t0) / 1e9
      stats.synchronized {
        name match {
          case "state.merge"  => stats.mergeS += dt
          case "state.delete" => stats.deleteS += dt
          case _              => stats.readS += dt
        }
        stats.fs = stats.fs + (FsCounters.snap() - fs0)
        underlying match {
          case b: BucketedStateTable =>
            b.lastCommit.filter(c => !before.contains(c.commitId)).foreach { c =>
              stats.commits += 1
              stats.bucketsDirty += c.bucketsRead.size
              stats.bucketsWritten += c.bucketsWritten.size
            }
          case _ => ()
        }
      }
    }
  }

  private def lastCommitId: Option[Long] = underlying match {
    case b: BucketedStateTable => b.lastCommit.map(_.commitId)
    case _                     => None
  }

  override def read(): Option[DataFrame] =
    timed("state.read")(underlying.read())

  override def readOrEmpty(like: DataFrame): DataFrame =
    timed("state.read")(underlying.readOrEmpty(like))

  override def merge(updates: DataFrame, keys: Seq[String],
      versionCols: Seq[String]): Unit = {
    stats.synchronized { stats.mergedBytes += TracedStateTable.sizeOf(updates) }
    timed("state.merge")(underlying.merge(updates, keys, versionCols))
  }

  override def deleteWhereUnmodified(processed: DataFrame): Long =
    timed("state.delete")(underlying.deleteWhereUnmodified(processed))

  override def mergeOnceForBatch(batchId: Long, streamScope: String,
      updates: DataFrame, keys: Seq[String],
      versionCols: Seq[String]): Boolean =
    timed("state.merge")(underlying.mergeOnceForBatch(
      batchId, streamScope, updates, keys, versionCols))

  private[pipeline] def tableRoot: Path = underlying.tableRoot
  private[pipeline] def fileSystem: FileSystem = underlying.fileSystem

  /** Bytes on disk under the table root (every retained commit and
    * leftover) and bytes of the files the newest snapshot references. */
  def diskAndLiveBytes(): (Long, Long) = {
    val fs = underlying.fileSystem
    val root = underlying.tableRoot
    val disk =
      if (fs.exists(root)) fs.getContentSummary(root).getLength else 0L
    val live = underlying match {
      case _: BucketedStateTable =>
        BucketedStateTable.snapshotPaths(fs.getConf, root.toString)
          .map(p => new Path(p))
          .filter(fs.exists)
          .map(p => fs.getContentSummary(p).getLength).sum
      case _ => disk
    }
    (disk, live)
  }
}

object TracedStateTable {
  /** Accumulated per-table counters, read after a traced segment. */
  final class Stats {
    var mergeS = 0.0
    var deleteS = 0.0
    var readS = 0.0
    var commits = 0L
    var bucketsDirty = 0L
    var bucketsWritten = 0L
    var mergedBytes = 0L
    var fs: FsCounters.Snap = FsCounters.Zero

    def reset(): Unit = synchronized {
      mergeS = 0.0; deleteS = 0.0; readS = 0.0; commits = 0L
      bucketsDirty = 0L; bucketsWritten = 0L; mergedBytes = 0L
      fs = FsCounters.Zero
    }
  }

  /** Size of the rows a merge is handed, without running a job: the
    * pipelines persist and count their updates before merging, so the
    * optimized plan is a materialized in-memory relation whose size
    * statistic is the cached bytes; for other plans it is Catalyst's
    * estimate. */
  def sizeOf(df: DataFrame): Long =
    try df.queryExecution.optimizedPlan.stats.sizeInBytes.toLong
    catch { case _: Throwable => 0L }
}
