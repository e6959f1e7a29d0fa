package graft.perfbench

/** The arithmetic the benchmark reports with: order statistics, the tail
  * rule, interval unions and the per-op time ledger. Pure functions, so
  * the benchmark's own tests pin them without a Spark session. */
object Ledger {

  /** Median; the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** A tail statistic and how it was chosen. `percentile` is the
    * nearest-rank percentile reported, `beyond` the number of samples
    * above it. */
  final case class Tail(value: Double, percentile: Double, samples: Int,
      beyond: Int)

  /** The highest percentile with at least `minBeyond` samples beyond it.
    * With n samples sorted ascending, the sample at 1-based rank r has
    * n - r samples above it, so the highest qualifying rank is
    * n - minBeyond and the percentile is 100 r / n; below 2 minBeyond
    * samples it lies under the median, and the output says which
    * percentile it is. With n <= minBeyond no percentile qualifies; the
    * maximum is reported as the 100th percentile with 0 samples beyond. */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.size
    val r = n - minBeyond
    if (r < 1) Tail(s.last, 100.0, n, 0)
    else Tail(s(r - 1), 100.0 * r / n, n, n - r)
  }

  /** A closed time interval in milliseconds since the epoch. */
  final case class Interval(start: Double, end: Double) {
    def length: Double = math.max(0.0, end - start)
  }

  /** The intervals merged into disjoint, sorted pieces. */
  def union(xs: Seq[Interval]): Seq[Interval] =
    xs.filter(_.length > 0).sortBy(_.start).foldLeft(List.empty[Interval]) {
      case (last :: rest, i) if i.start <= last.end =>
        Interval(last.start, math.max(last.end, i.end)) :: rest
      case (acc, i) => i :: acc
    }.reverse

  /** Total length of `xs` that falls inside `within`. */
  def coveredLength(xs: Seq[Interval], within: Interval): Double =
    union(xs).map { i =>
      Interval(math.max(i.start, within.start), math.min(i.end, within.end))
        .length
    }.sum

  /** One op's wall time split into the parts the benchmark can see.
    * `jobS` is the op wall covered by at least one Spark job, `planS` the
    * wall covered by Catalyst planning and by no job, and `residueS` the
    * rest: driver work in neither. The three add up to `wallS` exactly. */
  final case class OpLedger(wallS: Double, jobS: Double, planS: Double) {
    def residueS: Double = wallS - jobS - planS
    def explainedS: Double = jobS + planS
  }

  /** Splits the op interval `op` (ms) by the job and planning intervals
    * seen during it; pieces outside the op are clipped away. */
  def opLedger(op: Interval, jobs: Seq[Interval],
      plans: Seq[Interval]): OpLedger = {
    val jobMs = coveredLength(jobs, op)
    val bothMs = coveredLength(jobs ++ plans, op)
    OpLedger(op.length / 1000.0, jobMs / 1000.0, (bothMs - jobMs) / 1000.0)
  }

  /** Share of the summed op wall that jobs and planning explain. */
  def explainedRatio(ops: Seq[OpLedger]): Double = {
    val wall = ops.map(_.wallS).sum
    if (wall <= 0) 0.0 else ops.map(_.explainedS).sum / wall
  }

  /** Self time of a span: its length minus the part its children
    * cover. */
  def selfTime(span: Interval, children: Seq[Interval]): Double =
    span.length - coveredLength(children, span)
}
