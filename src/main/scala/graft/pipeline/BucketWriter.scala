package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.OutputWriter
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** The state layer's one bucket-file writer: each task of a
  * bucket-partitioned, bucket-sorted plan writes every bucket it holds
  * as ONE parquet file straight at its final path, flat in the data
  * commit's directory (`data/c<N>/b<bucket>-t<task>-a<attempt>.parquet`)
  * — or, packed ([[Packing]]), all of them as one file (`p-t<task>-a<attempt>.parquet`),
  * which the manifest names once per bucket with the bucket's share of
  * its bytes.
  *
  * The per-file cost is what packing saves: on the local file system
  * without libhadoop, every create forks `chmod`, twice for a
  * checksummed file, for about 6.5 ms of child CPU plus 5 ms of JVM
  * CPU per file, CPU-bound at 3.7–4.0 ms a file on 4 cores whatever
  * the thread count. [[BucketedStateTable]]'s `planWrite` decides when
  * a commit packs from the sizes its manifest records; a write with
  * none to go by ([[IfSmall]]) lets each task decide from the rows it
  * holds.
  *
  * There is no output committer: no `_temporary/` tree, no task or job
  * commit rename, no `_SUCCESS` marker and no listing afterwards. A
  * commit directory is unique per commit and nothing in it is visible
  * before the manifest rename that names its files, so staging buys
  * nothing — a failed write leaves an unreferenced directory that
  * `prune` reclaims like any other orphan. Each task returns what it
  * wrote (bucket, file, bytes, zone map) and how many rows it counted
  * instead of writing; `collect` keeps only the successful attempt's
  * result, so the driver learns the written set, the zone maps and the
  * count from the job itself.
  *
  * The files come from the `OutputWriterFactory` of
  * `ParquetFileFormat.prepareWrite`, the writer Spark's own file sink
  * uses, so the files are what `df.write.parquet` writes. */
private[pipeline] object BucketWriter {

  /** A boolean column a plan may carry: its true rows are counted and
    * not written. */
  val CountCol = "__graft_count"

  /** One bucket a task wrote: the file holding it and the bucket's
    * share of that file's bytes. */
  final case class Written(bucket: Int, name: String, bytes: Long,
      stat: ZoneMaps.BucketStat)

  /** What a write produced: the files by bucket, the rows counted
    * instead of written, and the schema of the written rows. */
  final case class Result(files: Seq[Written], counted: Long,
      schema: StructType) {
    def filesWritten: Int = files.map(_.name).distinct.size
    /** Whether some file holds several buckets. */
    def packed: Boolean = filesWritten < files.size
  }

  /** `total` bytes split over buckets in proportion to `weights` (their
    * rows' in-memory bytes), summing to `total` exactly; each share is
    * at least 1 when `total` allows, so a bucket holding rows never
    * reads as zero bytes. */
  private def shares(total: Long, weights: Seq[Long]): Seq[Long] = {
    val floor = if (total >= weights.size) 1L else 0L
    val rest = BigInt(total - floor * weights.size)
    val sum = BigInt(weights.sum.max(1L))
    val cum = weights.scanLeft(BigInt(0))(_ + _).map(c => (rest * c / sum).toLong)
    cum.zip(cum.tail).map { case (a, b) => floor + b - a }
  }

  /** How each task of a write lays out the buckets it holds. */
  sealed trait Packing
  /** One file per bucket. */
  case object PerBucket extends Packing
  /** One file holding all of them. */
  case object Packed extends Packing
  /** One file holding all of them iff their rows' in-memory bytes are
    * at most `(buckets − 1) × perFileBytes` — the files packing saves
    * pay for the bytes it puts in one file — otherwise one file per
    * bucket. The task holds its rows back while it decides, at most
    * `maxHeld` bytes of them: past that it writes one file per bucket.
    * In-memory bytes exceed the compressed file's, so the rule errs
    * towards one file per bucket. */
  final case class IfSmall(perFileBytes: Long, maxHeld: Long) extends Packing

  private final case class TaskOut(files: Array[Written], counted: Long,
      retried: Boolean)

  /** Writes `planned` — rows carrying [[StateManifest.BucketCol]] (and
    * optionally [[CountCol]]), partitioned so every bucket lies in one
    * task and sorted by bucket within each — into `dir`, laid out by
    * `packing`. Zone maps cover the `statsCols` present with a
    * [[ZoneMaps.supported]] type, per bucket either way. */
  def write(spark: SparkSession, planned: DataFrame, dir: Path,
      statsCols: Seq[String], packing: Packing = PerBucket): Result = {
    val all = planned.schema
    val bucketAt = all.fieldIndex(StateManifest.BucketCol)
    val countAt = all.fieldNames.indexOf(CountCol)
    val dataAt = all.fields.indices.filter(i => i != bucketAt && i != countAt)
    val schema = StructType(dataAt.map(all(_)))
    val stats = statsCols.distinct.map(schema.fieldNames.indexOf(_))
      .filter(i => i >= 0 && ZoneMaps.supported(schema(i).dataType))
      .map(i => (schema(i).name, i, schema(i).dataType))
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = new ParquetFileFormat()
      .prepareWrite(spark, job, Map.empty, schema)
    val conf = spark.sparkContext.broadcast(
      new SerializableConfiguration(job.getConfiguration))
    val out = dir.toString
    val jobTracker = java.util.UUID.randomUUID().toString.replace("-", "")
    val qe = planned.queryExecution
    val results = try SQLExecution.withNewExecutionId(qe, Some("graft bucket write")) {
      qe.toRdd.mapPartitions { rows =>
        val ctx = TaskContext.get()
        val attempt = new TaskAttemptID(new TaskID(
          new JobID(jobTracker, ctx.stageId()), TaskType.MAP, ctx.partitionId()),
          ctx.attemptNumber())
        val hadoopConf = conf.value.value
        val hctx = new TaskAttemptContextImpl(hadoopConf, attempt)
        val project = UnsafeProjection.create(dataAt.map(i =>
          BoundReference(i, all(i).dataType, all(i).nullable)))
        val files = Array.newBuilder[Written]
        val created = scala.collection.mutable.ArrayBuffer.empty[Path]
        var counted = 0L
        var writer: OutputWriter = null
        // the open file's finished buckets: id, zone map, in-memory bytes
        val held = scala.collection.mutable.ArrayBuffer.empty[(Int, ZoneMaps.Collector, Long)]
        var bucket = -1
        var zone: ZoneMaps.Collector = null
        var size = 0L
        def endBucket(): Unit = if (zone != null) {
          held += ((bucket, zone, size))
          zone = null
        }
        def close(): Unit = if (writer != null) {
          endBucket()
          writer.close()
          writer = null
          val p = created.last
          val bytes = p.getFileSystem(hadoopConf).getFileStatus(p).getLen
          shares(bytes, held.map(_._3).toSeq).zip(held).foreach { case (share, (b, z, _)) =>
            files += Written(b, p.getName, share, z.result(share))
          }
          held.clear()
        }
        // a failed attempt removes what it wrote, best effort: nothing
        // names its files, and a leftover one is reclaimed with its
        // commit directory
        ctx.addTaskFailureListener(new org.apache.spark.util.TaskFailureListener {
          def onTaskFailure(c: TaskContext, e: Throwable): Unit = {
            try if (writer != null) writer.close() catch { case _: Exception => () }
            created.foreach { p =>
              try p.getFileSystem(hadoopConf).delete(p, false)
              catch { case _: Exception => () }
            }
          }
        })
        def put(b: Int, data: UnsafeRow, packed: Boolean): Unit = {
          if (b != bucket || zone == null) {
            if (packed) endBucket() else close()
            if (writer == null) {
              val p = new Path(out,
                if (packed) StateManifest.packedFileName(ctx.partitionId(), ctx.taskAttemptId())
                else StateManifest.bucketFileName(b, ctx.partitionId(), ctx.taskAttemptId()))
              created += p
              writer = factory.newInstance(p.toString, schema, hctx)
            }
            bucket = b
            zone = new ZoneMaps.Collector(stats)
            size = 0L
          }
          writer.write(data)
          zone.add(data)
          size += data.getSizeInBytes
        }
        // an IfSmall task's rows held back until it has decided
        val pending = scala.collection.mutable.ArrayBuffer.empty[(Int, UnsafeRow)]
        var pendingBytes = 0L
        var deciding = packing.isInstanceOf[IfSmall]
        def release(packed: Boolean): Unit = {
          pending.foreach { case (b, data) => put(b, data, packed) }
          pending.clear()
          deciding = false
        }
        rows.foreach { row =>
          if (countAt >= 0 && row.getBoolean(countAt)) counted += 1
          else {
            val b = row.getInt(bucketAt)
            val data = project(row)
            if (deciding) {
              pending += ((b, data.copy()))
              pendingBytes += data.getSizeInBytes
              packing match {
                case IfSmall(_, maxHeld) if pendingBytes > maxHeld => release(packed = false)
                case _ =>
              }
            } else put(b, data, packing == Packed)
          }
        }
        packing match {
          case IfSmall(perFileBytes, _) if deciding =>
            val buckets = pending.iterator.map(_._1).distinct.size
            release(buckets > 1 && pendingBytes <= (buckets - 1) * perFileBytes)
          case _ =>
        }
        close()
        Iterator(TaskOut(files.result(), counted,
          ctx.attemptNumber() > 0 || ctx.stageAttemptNumber() > 0))
      }.collect()
    } finally conf.destroy()
    val files = results.flatMap(_.files).toSeq.sortBy(_.bucket)
    require(files.map(_.bucket).distinct.size == files.size,
      s"a bucket was written by more than one task under $dir: the write " +
        "plan must place every bucket in one partition")
    // a task or stage that ran again, or a speculative copy, may have
    // left a file of an attempt whose result was discarded: nothing
    // names it, so it goes now rather than with its directory
    if (results.exists(_.retried) ||
        spark.sparkContext.getConf.getBoolean("spark.speculation", false)) {
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val kept = files.map(_.name).toSet
      fs.listStatus(dir).foreach { s =>
        val n = s.getPath.getName
        if (s.isFile && !n.startsWith(".") && !kept.contains(n)) fs.delete(s.getPath, false)
      }
    }
    Result(files, results.map(_.counted).sum, schema)
  }
}
