package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.OutputWriter
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** The state layer's one bucket-file writer: each task of a
  * bucket-partitioned, bucket-sorted plan writes every bucket it holds
  * as ONE parquet file straight at its final path, flat in the data
  * commit's directory (`data/c<N>/b<bucket>-t<task>-a<attempt>.parquet`).
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

  /** One bucket file a task wrote. */
  final case class Written(bucket: Int, name: String, bytes: Long,
      stat: ZoneMaps.BucketStat)

  /** What a write produced: the files by bucket, the rows counted
    * instead of written, and the schema of the written rows. */
  final case class Result(files: Seq[Written], counted: Long,
      schema: StructType)

  private final case class TaskOut(files: Array[Written], counted: Long,
      retried: Boolean)

  /** Writes `planned` — rows carrying [[StateManifest.BucketCol]] (and
    * optionally [[CountCol]]), partitioned so every bucket lies in one
    * task and sorted by bucket within each — into `dir`. Zone maps
    * cover the `statsCols` present with a [[ZoneMaps.supported]] type. */
  def write(spark: SparkSession, planned: DataFrame, dir: Path,
      statsCols: Seq[String]): Result = {
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
        var bucket = -1
        var zone: ZoneMaps.Collector = null
        def close(): Unit = if (writer != null) {
          writer.close()
          writer = null
          val p = created.last
          val bytes = p.getFileSystem(hadoopConf).getFileStatus(p).getLen
          files += Written(bucket, p.getName, bytes, zone.result(bytes))
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
        rows.foreach { row =>
          if (countAt >= 0 && row.getBoolean(countAt)) counted += 1
          else {
            val b = row.getInt(bucketAt)
            if (b != bucket || writer == null) {
              close()
              bucket = b
              val p = new Path(out, StateManifest.bucketFileName(b,
                ctx.partitionId(), ctx.taskAttemptId()))
              created += p
              writer = factory.newInstance(p.toString, schema, hctx)
              zone = new ZoneMaps.Collector(stats)
            }
            val data = project(row)
            writer.write(data)
            zone.add(data)
          }
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
