package graft

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Per-query resource accounting for [[Bench]] and the perfbench
  * harness: a [[SparkListener]] summing executor task metrics — shuffle
  * read/write bytes and memory/disk spill — between `reset()` and
  * `snapshot()`.
  *
  * These are the four numbers that separate a PLAN regression from host
  * noise inside one round: elapsed time moves with CPU contention, but
  * shuffle bytes are a pure function of the plan and the data, and any
  * nonzero spill means the partition sizing no longer fits the pool.
  * The driver's bench record (BENCH_LOCAL.json) carries them per query
  * so round-over-round diffs localize to the query that changed shape.
  *
  * Listener events post asynchronously, so `snapshot()` first drains
  * the listener bus (the bus type is package-private in Spark but its
  * bytecode is public — standard JVM reflection reaches it; on any
  * reflective surprise we fall back to a bounded sleep rather than
  * fail the bench).
  */
final class BenchMetrics extends SparkListener {
  private val shuffleRead = new LongAdder
  private val shuffleWrite = new LongAdder
  private val memorySpill = new LongAdder
  private val diskSpill = new LongAdder
  private val inputRead = new LongAdder
  private val jobCount = new LongAdder
  private val stageCount = new LongAdder

  override def onTaskEnd(ev: SparkListenerTaskEnd): Unit = {
    val m = ev.taskMetrics
    if (m != null) {
      shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      memorySpill.add(m.memoryBytesSpilled)
      diskSpill.add(m.diskBytesSpilled)
      inputRead.add(m.inputMetrics.bytesRead)
    }
  }

  // Job/stage COUNTS are the wall-time-independent unit of commit
  // overhead: "does stats maintenance add a Spark job per commit, and
  // how many bytes does it read" is answerable from these when
  // elapsed seconds drown in host noise (the r17 lesson).
  override def onJobStart(ev: SparkListenerJobStart): Unit =
    jobCount.add(1L)
  override def onStageCompleted(ev: SparkListenerStageCompleted): Unit =
    stageCount.add(1L)

  def reset(): Unit = {
    shuffleRead.reset(); shuffleWrite.reset()
    memorySpill.reset(); diskSpill.reset()
    inputRead.reset(); jobCount.reset(); stageCount.reset()
  }

  /** Drain pending listener events, then read the counters. */
  def snapshot(sc: SparkContext): BenchMetrics.Snapshot = {
    BenchMetrics.drainListenerBus(sc)
    BenchMetrics.Snapshot(
      shuffleReadBytes = shuffleRead.sum(),
      shuffleWriteBytes = shuffleWrite.sum(),
      memorySpillBytes = memorySpill.sum(),
      diskSpillBytes = diskSpill.sum(),
      inputBytes = inputRead.sum(),
      jobs = jobCount.sum(),
      stages = stageCount.sum())
  }
}

object BenchMetrics {
  final case class Snapshot(
      shuffleReadBytes: Long,
      shuffleWriteBytes: Long,
      memorySpillBytes: Long,
      diskSpillBytes: Long,
      inputBytes: Long = 0L,
      jobs: Long = 0L,
      stages: Long = 0L) {
    def json: String =
      s"""{"shuffle_read_bytes":$shuffleReadBytes,"shuffle_write_bytes":$shuffleWriteBytes,""" +
        s""""memory_spill_bytes":$memorySpillBytes,"disk_spill_bytes":$diskSpillBytes,""" +
        s""""input_bytes":$inputBytes,"jobs":$jobs,"stages":$stages}"""
  }

  /** Register a fresh accumulator on the context. */
  def install(sc: SparkContext): BenchMetrics = {
    val m = new BenchMetrics
    sc.addSparkListener(m)
    m
  }

  /** `SparkContext.listenerBus.waitUntilEmpty()` — both members are
    * `private[spark]`, which the JVM sees as public, so plain
    * reflection works across Spark patch versions; a reflective miss
    * degrades to a 300 ms settle sleep (counts could then undercount a
    * straggler event, never overcount). */
  private[graft] def drainListenerBus(sc: SparkContext): Unit =
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } catch {
      case _: Throwable => Thread.sleep(300)
    }
}
