package graft.perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.perfbench.Ledger.Interval

/** The benchmark's own arithmetic and checks, without a Spark session. */
class PerfbenchSpec extends AnyFunSuite {

  // ── generator ───────────────────────────────────────────────────────

  private def corpus(seed: Long): Seq[String] = {
    val ids = (0L until 300L).map(ReportingGen.qucosaId)
    ids.flatMap(id => ReportingGen.mets(seed, id.stripPrefix(ReportingGen.Authority))) ++
      ids.map(id => ReportingGen.expected(seed, id, 1700000000L).toString) ++
      Seq(ReportingGen.page(ids.map(ReportingGen.header(seed, _, 1700000000L)),
        1700000000L, Some("t1"), 0L, 300L))
  }

  test("the reporting generator is deterministic per seed") {
    assert(corpus(7) == corpus(7))
  }

  test("different seeds generate different inputs") {
    assert(corpus(7) != corpus(8))
    assert(ReportingGen.foreignId(7, 3) == ReportingGen.foreignId(7, 3))
  }

  test("every block of 100 record numbers holds each METS shape's fixed share") {
    for (seed <- Seq(1L, 2L, 99L); block <- Seq(0L, 100L, 5000L)) {
      val counts = (block until block + 100).groupBy(ReportingGen.shape(seed, _))
        .map { case (s, ns) => s -> ns.size }
      ReportingGen.Shapes.foreach(s => assert(counts(s) == s.share, s"$s seed $seed"))
    }
  }

  test("rejected shapes yield no reporting row and 404s yield no document") {
    val n = (0L until 100L).find(ReportingGen.shape(3, _) == ReportingGen.NotFound).get
    assert(ReportingGen.mets(3, s"qucosa:$n").isEmpty)
    assert(ReportingGen.expected(3, ReportingGen.qucosaId(n), 0L).isEmpty)
    val m = (0L until 100L).find(ReportingGen.shape(3, _) == ReportingGen.MissingAgent).get
    assert(!ReportingGen.mets(3, s"qucosa:$m").get.contains("EDITOR"))
    assert(ReportingGen.expected(3, ReportingGen.qucosaId(m), 0L).isEmpty)
  }

  test("foreign ids fail the qucosa filter and qucosa ids pass it") {
    (0L until 50L).foreach { n =>
      assert(!ReportingGen.isQucosa(ReportingGen.foreignId(5, n)))
      assert(ReportingGen.isQucosa(ReportingGen.qucosaId(n)))
    }
  }

  // ── checkers ────────────────────────────────────────────────────────

  private val expected = (0L until 50L)
    .flatMap(n => ReportingGen.expected(11, ReportingGen.qucosaId(n), 1700000000L))
    .map(r => r.id -> r).toMap

  test("the reporting check accepts the expected rows") {
    assert(Checks.reporting(expected, expected).isEmpty)
  }

  test("the reporting check rejects a planted wrong row") {
    val (id, row) = expected.head
    val wrong = expected.updated(id, row.copy(mandator = row.mandator + "x"))
    assert(Checks.reporting(wrong, expected).exists(_.contains(id)))
    val late = expected.updated(id, row.copy(headerLastModifiedMs = 0L))
    assert(Checks.reporting(late, expected).nonEmpty)
  }

  test("the reporting check rejects a missing row and a reject that was reported") {
    assert(Checks.reporting(expected - expected.head._1, expected).head.contains("missing"))
    val reject = ReportingGen.qucosaId((0L until 100L)
      .find(n => !ReportingGen.shape(11, n).valid).get)
    val extra = expected + (reject -> expected.head._2.copy(id = reject))
    assert(Checks.reporting(extra, expected).head.contains("not expected"))
  }

  private val schema = StructType(Seq(StructField("k", LongType),
    StructField("s", StringType), StructField("d", DoubleType)))
  private val rows = Array(Row(1L, "a", 0.1 + 0.2), Row(2L, null, 3.0), Row(3L, "c", -1.5))

  test("fingerprints ignore row order and last-bit double noise") {
    val fp = Fingerprint.of(schema, rows)
    assert(Fingerprint.of(schema, rows.reverse) == fp)
    assert(Fingerprint.of(schema, Array(Row(1L, "a", 0.3), rows(1), rows(2))) == fp)
  }

  test("the fingerprint check rejects a planted wrong fingerprint") {
    val fp = Fingerprint.of(schema, rows)
    val changed = Fingerprint.of(schema, rows.updated(1, Row(2L, "b", 3.0)))
    assert(changed.hash != fp.hash)
    assert(Fingerprint.mismatch("k", changed, fp, deterministic = true).isDefined)
    assert(Fingerprint.mismatch("k", fp, fp.copy(hash = "0"), deterministic = true).isDefined)
    assert(Fingerprint.mismatch("k", fp, fp, deterministic = true).isEmpty)
  }

  test("a nondeterministic key is held to its row count and schema only") {
    val fp = Fingerprint.of(schema, rows)
    assert(Fingerprint.mismatch("k", fp, fp.copy(hash = "0"), deterministic = false).isEmpty)
    assert(Fingerprint.mismatch("k", fp, fp.copy(rows = 4), deterministic = false).isDefined)
    assert(Fingerprint.mismatch("k", fp, fp.copy(schema = "struct<>"), deterministic = false).isDefined)
  }

  // ── tail rule ───────────────────────────────────────────────────────

  test("tail is the highest percentile with at least ten samples beyond it") {
    val xs = (1 to 25).map(_.toDouble)
    val t = Ledger.tail(xs)
    assert(t.value == 15.0 && t.beyond == 10 && t.samples == 25)
    assert(math.abs(t.percentile - 60.0) < 1e-9)
    val t100 = Ledger.tail((1 to 100).map(_.toDouble).reverse)
    assert(t100.value == 90.0 && t100.percentile == 90.0 && t100.beyond == 10)
    val t14 = Ledger.tail((1 to 14).map(_.toDouble))
    assert(t14.value == 4.0 && t14.beyond == 10 && t14.samples == 14)
  }

  test("with ten samples or fewer the tail is the maximum, with none beyond") {
    val t = Ledger.tail(Seq(3.0, 1.0, 2.0))
    assert(t == Ledger.Tail(3.0, 100.0, 3, 0))
    assert(Ledger.tail((1 to 10).map(_.toDouble)) == Ledger.Tail(10.0, 100.0, 10, 0))
  }

  test("median averages the two middle samples of an even count") {
    assert(Ledger.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Ledger.median(Seq(5.0, 1.0, 3.0)) == 3.0)
  }

  // ── ledger ──────────────────────────────────────────────────────────

  test("op ledger: job wall, planning outside jobs and residue add up to the op wall") {
    val op = Interval(0, 1000)
    val jobs = Seq(Interval(100, 400), Interval(300, 600), Interval(-50, 20))
    val plans = Seq(Interval(50, 150), Interval(700, 800), Interval(950, 1100))
    val l = Ledger.opLedger(op, jobs, plans)
    assert(math.abs(l.jobS - 0.52) < 1e-9)             // 0–20 and 100–600
    assert(math.abs(l.planS - 0.20) < 1e-9)            // 50–100, 700–800, 950–1000
    assert(math.abs(l.residueS - 0.28) < 1e-9)
    assert(math.abs(l.jobS + l.planS + l.residueS - l.wallS) < 1e-12)
  }

  test("explained ratio is job plus planning time over summed op wall") {
    val a = Ledger.OpLedger(2.0, 1.0, 0.5)
    val b = Ledger.OpLedger(2.0, 0.5, 0.0)
    assert(math.abs(Ledger.explainedRatio(Seq(a, b)) - 0.5) < 1e-12)
    assert(Ledger.explainedRatio(Nil) == 0.0)
  }

  test("self times of spans, jobs and planning partition the op wall") {
    val spans = Seq(Span(1, -1, 1, "op", 0, 1000), Span(2, 1, 1, "state.merge", 200, 700))
    val job = new JobRec(7, 300L, 2L)
    job.endMs = 500L
    val stale = new JobRec(8, 800L, 99L) // a property naming no open span
    stale.endMs = 900L
    val plan = ActionRec(Seq((0L, 100L)))
    val attr = new Attribution(spans, Seq(job, stale), Seq(plan))
    val self = attr.selfTimes
    assert(math.abs(self("op") - 0.3) < 1e-9)           // 100–200, 700–800, 900–1000
    assert(math.abs(self("state.merge") - 0.3) < 1e-9)  // 200–300, 500–700
    assert(math.abs(self(Attribution.JobLayer) - 0.3) < 1e-9)
    assert(math.abs(self(Attribution.PlanLayer) - 0.1) < 1e-9)
    assert(math.abs(self.values.sum - 1.0) < 1e-9)
    assert(attr.jobsOfOp(1).map(_.id) == Seq(7, 8))
  }
}
