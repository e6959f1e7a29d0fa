package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.perfbench.Ledger.Interval

/** Wall clock in epoch milliseconds with nanosecond resolution, on the
  * same scale as the timestamps Spark's listener events carry. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One Spark job as the listener saw it, with the task metrics of its
  * stages summed. `span` is the benchmark span that was innermost on the
  * submitting thread (the `perfbench.span` local property), -1 if none. */
final class JobRec(val id: Int, val startMs: Long, val span: Long) {
  @volatile var endMs: Long = -1L
  val stages = new LongAdder
  val tasks = new LongAdder
  val runMs = new LongAdder
  val cpuNs = new LongAdder
  val gcMs = new LongAdder
  val schedulerDelayMs = new LongAdder
  val shuffleWriteBytes = new LongAdder
  val spillBytes = new LongAdder
  def interval: Interval =
    Interval(startMs.toDouble, (if (endMs < 0) startMs else endMs).toDouble)
}

/** One action's Catalyst phases (analysis, optimization, planning) from
  * its `QueryPlanningTracker`, as (start, end) epoch milliseconds. */
final case class ActionRec(phases: Seq[(Long, Long)]) {
  def intervals: Seq[Interval] =
    phases.map { case (s, e) => Interval(s.toDouble, e.toDouble) }
  def planningS: Double = phases.map { case (s, e) => e - s }.sum / 1000.0
  /** Planning ends right before execution starts, so the action belongs
    * to the span open at that moment. */
  def lastEndMs: Double = phases.map(_._2).max.toDouble
}

/** Records Spark jobs, stages, tasks and Catalyst planning phases from
  * outside the engine: a [[SparkListener]] on the context and a
  * [[QueryExecutionListener]] on the session. Installed only for traced
  * runs; untraced runs measure the program with no listener attached. */
final class Recorder extends SparkListener with QueryExecutionListener {
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  private val actions = new java.util.concurrent.ConcurrentLinkedQueue[ActionRec]()

  override def onJobStart(ev: SparkListenerJobStart): Unit = {
    val span = Option(ev.properties)
      .flatMap(p => Option(p.getProperty(Recorder.SpanProperty)))
      .map(_.toLong).getOrElse(-1L)
    val rec = new JobRec(ev.jobId, ev.time, span)
    jobs.put(ev.jobId, rec)
    ev.stageIds.foreach(stageJob.put(_, rec))
  }

  override def onJobEnd(ev: SparkListenerJobEnd): Unit =
    Option(jobs.get(ev.jobId)).foreach(_.endMs = ev.time)

  override def onStageCompleted(ev: SparkListenerStageCompleted): Unit =
    Option(stageJob.get(ev.stageInfo.stageId)).foreach(_.stages.increment())

  override def onTaskEnd(ev: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(ev.stageId)).foreach { j =>
      j.tasks.increment()
      val m = ev.taskMetrics
      if (m != null) {
        j.runMs.add(m.executorRunTime)
        j.cpuNs.add(m.executorCpuTime)
        j.gcMs.add(m.jvmGCTime)
        j.shuffleWriteBytes.add(m.shuffleWriteMetrics.bytesWritten)
        j.spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
        val info = ev.taskInfo
        // the Spark UI's definition: task duration not spent running,
        // deserializing, serializing the result or fetching it
        val delay = info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          info.gettingResultTime
        j.schedulerDelayMs.add(math.max(0L, delay))
      }
    }

  private def recordPlanning(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.collect {
      case (phase, s) if phase != "parsing" => (s.startTimeMs, s.endTimeMs)
    }.toSeq
    if (phases.nonEmpty) actions.add(ActionRec(phases))
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = recordPlanning(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = recordPlanning(qe)

  def jobRecs: Seq[JobRec] = jobs.values().asScala.toSeq.sortBy(_.id)
  def actionRecs: Seq[ActionRec] = actions.asScala.toSeq
}

object Recorder {
  val SpanProperty = "perfbench.span"

  /** Blocks until the listener bus has delivered every posted event, so
    * counts read after an op include all of its jobs and tasks. */
  def drain(sc: SparkContext): Unit =
    graft.BenchMetrics.drainListenerBus(sc)
}

/** File system operation and byte counters. Reads (open, list, status)
  * and writes (create, rename, delete, mkdirs) are counted by
  * [[CountingLocalFileSystem]], which the session installs for `file:`
  * paths; bytes written come from Hadoop's own per-scheme statistics. In
  * local mode executor tasks run in this JVM, so both include the bucket
  * and manifest files tasks write. */
object FsCounters {
  final case class Snap(readOps: Long, writeOps: Long, bytesWritten: Long) {
    def -(o: Snap): Snap =
      Snap(readOps - o.readOps, writeOps - o.writeOps,
        bytesWritten - o.bytesWritten)
    def +(o: Snap): Snap =
      Snap(readOps + o.readOps, writeOps + o.writeOps,
        bytesWritten + o.bytesWritten)
  }
  val Zero: Snap = Snap(0L, 0L, 0L)
  val reads = new AtomicLong
  val writes = new AtomicLong

  @annotation.nowarn("cat=deprecation")
  def snap(): Snap =
    Snap(reads.get, writes.get,
      org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
        .map(_.getBytesWritten).sum)
}

/** The local file system with every metadata and stream-opening call
  * counted; behaviour is the parent's. */
class CountingLocalFileSystem extends org.apache.hadoop.fs.LocalFileSystem {
  import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, FSDataOutputStream, Path}
  import org.apache.hadoop.fs.permission.FsPermission
  import org.apache.hadoop.util.Progressable
  private def r[T](x: => T): T = { FsCounters.reads.incrementAndGet(); x }
  private def w[T](x: => T): T = { FsCounters.writes.incrementAndGet(); x }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = r(super.open(f, bufferSize))
  override def listStatus(f: Path): Array[FileStatus] = r(super.listStatus(f))
  override def getFileStatus(f: Path): FileStatus = r(super.getFileStatus(f))
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    w(super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress))
  override def rename(src: Path, dst: Path): Boolean = w(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean = w(super.delete(f, recursive))
  override def mkdirs(f: Path, permission: FsPermission): Boolean = w(super.mkdirs(f, permission))
}

/** Bench-side counters of the stub transports. The document stub runs
  * inside executor tasks, which in local mode share this JVM, so a
  * process-wide counter sees every fetch. */
object TransportCounters {
  val pagesServed = new AtomicLong
  val docsServed = new AtomicLong
  val docMisses = new AtomicLong
  def reset(): Unit = {
    pagesServed.set(0L); docsServed.set(0L); docMisses.set(0L)
  }
}

/** A recorded span: `op` is the id of the top-level span it is under. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    startMs: Double, endMs: Double) {
  def interval: Interval = Interval(startMs, endMs)
}

/** In-memory span recorder. A span is a named interval with a parent;
  * spans of one op share the op's id. When disabled every call runs its
  * body directly and records nothing. */
final class Tracer(sc: => SparkContext) {
  @volatile var enabled = false
  private val nextId = new AtomicLong
  private var stack: List[Long] = Nil
  private var currentOp = -1L
  private val done = scala.collection.mutable.ArrayBuffer.empty[Span]

  def spans: Seq[Span] = done.toSeq

  /** Runs `body` as the span `name`; a top-level span starts a new op. */
  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.incrementAndGet()
      val parent = stack.headOption.getOrElse(-1L)
      if (parent < 0) currentOp = id
      val op = currentOp
      stack = id :: stack
      sc.setLocalProperty(Recorder.SpanProperty, id.toString)
      val start = Clock.nowMs
      try body
      finally {
        val end = Clock.nowMs
        stack = stack.tail
        sc.setLocalProperty(Recorder.SpanProperty,
          stack.headOption.map(_.toString).orNull)
        done += Span(id, parent, op, name, start, end)
      }
    }
}
