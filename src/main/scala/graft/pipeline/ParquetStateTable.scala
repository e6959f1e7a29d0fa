package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Versioned parquet state table: every write lands in a fresh
  * `v<NNNNNNNN>` directory and readers pick the newest *committed*
  * version (one with a `_SUCCESS` marker).
  *
  * Two reasons this shape instead of `mode("overwrite")` on one path:
  *  - Spark cannot overwrite a path that feeds the plan being written
  *    (the state-rewrite ops U1/D1/D2 all read the previous state);
  *  - a crash mid-write must not corrupt the current state — the old
  *    version stays committed until the new one is, which is the same
  *    commit discipline a table format (e.g. Delta) provides via its log.
  *
  * Old versions beyond `keepVersions` are pruned after a successful
  * commit, but NEVER before they are `retentionFloorMillis` old — the
  * time floor bounds the reader/pruner race for ANY reader (a lazy plan
  * over a snapshot stays readable for at least the floor regardless of
  * how fast a concurrent writer commits; the reference gets the same
  * guarantee from PostgreSQL transactions). Readers holding plans longer
  * than the floor should collect promptly (the enrichment batch does) or
  * raise the floor; a transactional table format adds lease-based reader
  * retention.
  */
class ParquetStateTable(
    spark: SparkSession,
    path: String,
    keepVersions: Int = 3,
    retentionFloorMillis: Long = 10 * 60 * 1000L)
  extends StateTable with Serializable {

  private def root = new Path(path)
  private def fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
  // lock key normalized so differently-spelled paths to the same
  // directory (relative, doubled slashes) share one lock
  private lazy val lockKey = fs.makeQualified(root).toUri.toString

  /** `(version, directory status)` of every committed version, oldest
    * first. */
  private def committedVersions(): Seq[(Long, org.apache.hadoop.fs.FileStatus)] =
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v"))
      .flatMap { s =>
        val n = s.getPath.getName.drop(1)
        if (n.forall(_.isDigit) && fs.exists(new Path(s.getPath, "_SUCCESS")))
          Some(n.toLong -> s)
        else None
      }
      .sortBy(_._1)

  def latestVersion: Option[Long] = committedVersions().lastOption.map(_._1)

  /** The rows of the version this handle last read or wrote through
    * [[readLocal]] / [[updateLocal]], keyed by that version's number
    * and directory mtime (a version another handle or process commits
    * has another number). */
  @transient @volatile private var held: Option[((Long, Long), DataFrame)] = None

  private def key(v: (Long, org.apache.hadoop.fs.FileStatus)): (Long, Long) =
    (v._1, v._2.getModificationTime)

  /** Newest committed snapshot, if any. The version directory is listed
    * on the driver and read under the schema Spark recorded in a data
    * file's footer, so building the frame starts no Spark job (schema
    * inference runs one); a directory whose files carry no such footer
    * entry falls back to `spark.read.parquet`. */
  override def read(): Option[DataFrame] =
    committedVersions().lastOption.map { case (_, st) => readVersion(st.getPath) }

  private def readVersion(p: Path): DataFrame = {
    val listed = BucketedStateTable.listBuckets(fs, Seq(0 -> p))
    listed.flatMap(_.files).headOption.flatMap(f => footerSchema(f.getPath)) match {
      case Some(schema) => BucketedStateTable.scanBuckets(spark, listed, Some(schema))
      case None         => spark.read.parquet(p.toString)
    }
  }

  /** The newest committed snapshot as a driver-local frame, for a table
    * small enough to hold on the driver (the harvest's checkpoint log):
    * collected in one Spark job the first time a version is seen, then
    * served from memory — no job — while it stays the newest committed
    * version. Filters, projections and `collect` on the frame run on
    * the driver. */
  def readLocal(): Option[DataFrame] =
    committedVersions().lastOption.map { v =>
      held.collect { case (k, df) if k == key(v) => df }.getOrElse {
        val df = readVersion(v._2.getPath)
        val local = spark.createDataFrame(df.collectAsList(), df.schema)
        held = Some(key(v) -> local)
        local
      }
    }

  /** [[update]] over [[readLocal]]'s frame: `f` maps the driver-held
    * current rows to the next snapshot, under the same per-path lock,
    * so the read, `f` and the write stay one atomic read-modify-write.
    * The snapshot is written as one file. When `f` returns a
    * driver-local frame, that frame is what this handle holds for the
    * version it wrote, and the next [[readLocal]] or [[updateLocal]]
    * reads no file: the write is the only Spark job. */
  def updateLocal(f: Option[DataFrame] => DataFrame): Long =
    ParquetStateTable.lockFor(lockKey).synchronized {
      val next = f(readLocal())
      // small by contract: one file
      val v = write(next.coalesce(1))
      val versionDir = new Path(f"$path/v$v%08d")
      held = next.queryExecution.optimizedPlan match {
        case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
          Some(key(v -> fs.getFileStatus(versionDir)) -> next)
        case _ => None
      }
      v
    }

  /** The Catalyst schema Spark wrote into a parquet file's footer. */
  private def footerSchema(file: Path): Option[org.apache.spark.sql.types.StructType] = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        file, spark.sparkContext.hadoopConfiguration))
    try Option(reader.getFooter.getFileMetaData.getKeyValueMetaData.get(
        org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport.SPARK_METADATA_KEY))
      .flatMap(json => scala.util.Try(org.apache.spark.sql.types.DataType.fromJson(json)).toOption)
      .collect { case s: org.apache.spark.sql.types.StructType => s }
    finally reader.close()
  }

  /** Newest committed snapshot or an empty frame shaped like `like`. */
  override def readOrEmpty(like: DataFrame): DataFrame =
    read().getOrElse(like.limit(0))

  /** U1/U2 as a [[StateTable]] op: an atomic whole-snapshot rewrite —
    * correct at any size, economical only while the table is small (the
    * bucket-pruned rewrite lives in [[BucketedStateTable]]).
    *
    * Additive schema evolution rides the rewrite for free: a WIDENED
    * batch (new columns) aligns the current snapshot up — null-filled —
    * and the new version directory carries the widened shape complete
    * (each version is a full snapshot, so no mixed-schema files ever
    * exist; older versions keep their contemporary shape). A NARROWER
    * batch — a pre-widen writer — preserves the columns it doesn't
    * know ([[graft.operators.StateOps.alignPairForMerge]]); renames
    * and type changes refuse loudly, same contract as
    * [[BucketedStateTable]]. */
  override def merge(updates: DataFrame, keys: Seq[String],
      versionCols: Seq[String] = Nil): Unit =
    update { state =>
      val (cur, up) = graft.operators.StateOps.alignPairForMerge(
        state.getOrElse(updates.limit(0)), updates, keys, s"merge at $path")
      graft.operators.StateOps.mergeByKey(cur, up, keys, versionCols)
    }

  /** D1 as a [[StateTable]] op (atomic read-modify-write; ST5). */
  override def deleteWhereUnmodified(processed: DataFrame): Long = {
    var notRemoved = 0L
    update { state =>
      val latest = state.getOrElse(processed.limit(0))
      val res = graft.operators.StateOps.deleteIfUnmodified(latest, processed)
      notRemoved = res.notRemoved.count()
      res.newState
    }
    notRemoved
  }

  override def mergeOnceForBatch(batchId: Long, streamScope: String,
      updates: DataFrame, keys: Seq[String],
      versionCols: Seq[String] = Nil): Boolean =
    writeOnceForBatch(batchId, streamScope) { state =>
      val (cur, up) = graft.operators.StateOps.alignPairForMerge(
        state.getOrElse(updates.limit(0)), updates, keys,
        s"mergeOnceForBatch at $path")
      graft.operators.StateOps.mergeByKey(cur, up, keys, versionCols)
    }

  /** Every version directory, committed or not — a crashed write leaves
    * an orphan without `_SUCCESS` that must still advance the next
    * version number (and get cleaned up), or the table would refuse
    * writes forever. */
  private def allVersionDirs(): Seq[(Long, Path)] =
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v"))
      .flatMap { s =>
        val n = s.getPath.getName.drop(1)
        if (n.forall(_.isDigit)) Some(n.toLong -> s.getPath) else None
      }
      .sortBy(_._1)

  /** Atomic read-modify-write: `f` maps the current committed snapshot
    * to the next one UNDER the same per-path lock `write` takes, so no
    * concurrent writer can commit between the read and the write (the
    * lost-update race the reference avoids via database transactions).
    * Returns the committed version. */
  def update(f: Option[DataFrame] => DataFrame): Long =
    ParquetStateTable.lockFor(lockKey).synchronized { write(f(read())) }

  /** Exactly-once helper for `foreachBatch` sinks: apply `f` as an
    * atomic [[update]] unless `batchId` was already committed by the
    * SAME stream — markers are scoped by `streamScope` (derived from the
    * checkpoint location) because batch ids restart at 0 with a fresh
    * checkpoint, and a global marker would silently swallow the new
    * stream's first batches. A crash between the version commit and the
    * marker replays as an idempotent re-write of the same merge —
    * at-least-once degrading safely, which is the ST4 contract. Returns
    * true when the write happened. */
  def writeOnceForBatch(batchId: Long, streamScope: String)(
      f: Option[DataFrame] => DataFrame): Boolean =
    ParquetStateTable.lockFor(lockKey).synchronized {
      BatchMarkers.runOnce(fs, root, batchId, streamScope) { update(f) }
    }

  /** Commit `df` as the next version; prunes old versions (and orphaned
    * uncommitted directories from crashed writes) afterwards. Returns
    * the committed version number.
    *
    * Writers to the SAME path serialize on a JVM-wide per-path lock —
    * the harvest and enrichment loops both rewrite the headers table
    * concurrently, and two writers racing to the same version number
    * would otherwise fail on `errorifexists` (the reference serializes
    * through database transactions). Cross-process writers would need a
    * filesystem lock or a transactional table format. */
  def write(df: DataFrame): Long =
    ParquetStateTable.lockFor(lockKey).synchronized {
      val next = allVersionDirs().lastOption.map(_._1).getOrElse(0L) + 1
      df.write.mode("errorifexists").parquet(f"$path/v$next%08d")
      val keep = committedVersions().takeRight(keepVersions).map(_._1).toSet
      // one listing: drops superseded committed versions and uncommitted
      // orphans alike (keep ⊆ committed, orphans are never in keep) —
      // but nothing within the retention floor of being CONDEMNED.
      // The floor is keyed to a condemnation MARKER (first observed
      // delete-eligible), NOT the dir's creation mtime: a version that
      // was current for an hour and is then superseded by a quick burst
      // of commits would be hour-old by mtime and deleted INSTANTLY,
      // breaking the reader who resolved it seconds earlier — the exact
      // race BucketedStateTable.condemnOrReap documents.
      val now = System.currentTimeMillis()
      val condemnedDir = new Path(root, "_condemned")
      allVersionDirs().foreach { case (v, p) =>
        if (v != next && !keep.contains(v)) {
          if (retentionFloorMillis <= 0L) fs.delete(p, true)
          else {
            val m = new Path(condemnedDir, s"v$v")
            val markedAt =
              try Some(fs.getFileStatus(m).getModificationTime)
              catch { case _: java.io.FileNotFoundException => None }
            markedAt match {
              case Some(t) if now - t >= retentionFloorMillis =>
                fs.delete(p, true)
                fs.delete(m, false)
              case Some(_) => () // condemned, still inside the floor
              case None =>
                fs.mkdirs(condemnedDir)
                fs.create(m, true).close()
            }
          }
        }
      }
      next
    }

  private[pipeline] override def tableRoot: Path = root
  private[pipeline] override def fileSystem = fs
}

object ParquetStateTable {
  private val locks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(path: String): Object =
    locks.computeIfAbsent(path, _ => new Object)
}
