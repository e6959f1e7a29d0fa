package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.SparkSession

import graft.perfbench.Ledger.Interval

/** What every workload shares: the session, the span recorder, a work
  * directory inside the checkout and the run's seed. */
final class Ctx(val spark: SparkSession, val tracer: Tracer,
    val work: String, val seed: Long) {
  private val dirs = new AtomicLong
  def freshDir(prefix: String): String =
    s"$work/$prefix-${dirs.incrementAndGet()}"
}

/** One op of the closed loop: its wall time, the items it resolved and
  * the reason its output check failed, if it did. */
final case class OpRec(key: String, startMs: Double, endMs: Double,
    wallS: Double, items: Long, error: Option[String],
    fs: FsCounters.Snap = FsCounters.Zero) {
  def interval: Interval = Interval(startMs, endMs)
  def ok: Boolean = error.isEmpty
}

/** A benchmark workload driven by one client thread: each op is issued
  * only after the previous one returned. */
abstract class Workload(val ctx: Ctx) {
  def name: String

  /** Builds, once per checkout, the inputs that do not depend on the
    * run's seed into the data cache; a no-op when they are there. */
  def prepare(): Unit = ()

  /** Builds fresh inputs and state. Runs several times per run; the
    * median is part of `setup_s`. */
  def setup(): Unit

  /** Seconds of set-up spent on the benchmark's own input generation,
    * which `setup_s` leaves out. */
  def untimedS: Double = 0.0

  /** Unmeasured ops that load classes and compile code paths. */
  def warmup(): Unit

  /** Issues the next op, checks its output and returns its record. */
  def nextOp(): OpRec

  /** Ops per unit of work (a pass for the key loops, else one op). */
  def unitOps: Int = 1

  /** Seconds of a run's `--seconds` allotted to one unit: a run
    * measures `ceil(seconds / nominalUnitS)` units, at least one. */
  def nominalUnitS: Double

  /** Ops in one traced unit: a fixed amount of work, so counts taken
    * over it repeat exactly. */
  def tracedOps: Int

  /** End-of-run checks over the final state; each entry is a failure. */
  def finish(): Seq[String] = Nil

  /** Switches the reporting workloads to the decorated state tables. */
  def traced(on: Boolean): Unit = ()

  /** What one op's items are, for the throughput metric. */
  def itemsName: String

  /** This workload's own names for its end-to-end figures, given the
    * median and tail op wall and the throughput. */
  def namedMetrics(ops: Seq[OpRec], p50: Double, tail: Double,
      perS: Double): Seq[(String, Double)]

  /** Layer counters the workload itself keeps (pipeline, state, xml),
    * over the traced unit; every per-layer name is filled by Main. */
  def layerMetrics(cpuUnder: String => Double): Map[String, Double] =
    Map.empty

  /** Runs `body` as one op: times it as a span named "op" and turns an
    * exception into a failed op. */
  protected def runOp(key: String)(body: => Long): OpRec = {
    // file system counters exist only in a traced run's session
    val counting = ctx.tracer.enabled
    val fs0 = if (counting) FsCounters.snap() else FsCounters.Zero
    val start = Clock.nowMs
    val t0 = System.nanoTime()
    val res =
      try Right(ctx.tracer("op")(body))
      catch { case e: Throwable => Left(e) }
    val wall = (System.nanoTime() - t0) / 1e9
    val end = Clock.nowMs
    val fs = if (counting) FsCounters.snap() - fs0 else FsCounters.Zero
    res match {
      case Right(n) => OpRec(key, start, end, wall, n, None, fs)
      case Left(e) =>
        System.err.println(s"[perfbench] $key failed: $e")
        OpRec(key, start, end, wall, 0L,
          Some(s"threw ${e.getClass.getName}: ${e.getMessage}"), fs)
    }
  }

  protected def check(rec: OpRec)(errors: => Seq[String]): OpRec =
    if (!rec.ok) rec
    else {
      val errs =
        try errors
        catch { case e: Throwable => Seq(s"check threw: $e") }
      if (errs.isEmpty) rec
      else {
        System.err.println(s"[perfbench] ${rec.key} output check failed: " +
          errs.take(5).mkString("; "))
        rec.copy(error = Some(errs.head))
      }
    }
}
