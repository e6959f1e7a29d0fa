package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ops.Sketches
import graft.pipeline.MgSummaryStore
import graft.streaming.{ForeachBatch, HotTokensStream}

/** Streaming vocabulary monitor: totals accumulate across micro-batches,
  * a planted hot token survives the merged summary (the union-stream
  * superset guarantee), and a replayed batch id is a marker-guarded
  * no-op — the non-idempotent sketch merge must not double-count. */
class HotTokensStreamSpec extends SparkSpec {

  test("summary accumulates across batches; hot token survives; replay cannot double-count") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val root = Files.createTempDirectory("graft-hot").toString
    val store = new MgSummaryStore(spark, s"$root/summary")
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = ForeachBatch.start(in.toDF().toDF("doc_id", "text"), s"$root/ck",
        org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L)) { (b, id) =>
      HotTokensStream.processBatch(b, id, store, col("text"), s"$root/ck", k = 8)
    }
    try {
      // batch 1: 30 "hot" among 20 tail tokens; batch 2: 30 more hot
      in.addData(1L -> (Seq.fill(30)("hot") ++ (0 until 20).map(i => s"t$i"))
        .mkString(" "))
      q.processAllAvailable()
      val s1 = store.read().get
      assert(s1.total == 50L)
      in.addData(2L -> (Seq.fill(30)("hot") ++ (20 until 40).map(i => s"t$i"))
        .mkString(" "))
      q.processAllAvailable()
      val s2 = store.read().get
      assert(s2.total == 100L, s"total ${s2.total}")
      // hot: true count 60 > 100/(8+1) -> guaranteed present
      assert(s2.items.contains("hot"), s"hot lost: ${s2.items.mkString(",")}")
      // and its weight can never exceed the true count (MG never overcounts)
      assert(s2.weights(s2.items.indexOf("hot")) <= 60L)
    } finally q.stop()

    // replay batch id 1 by hand: marker-guarded, nothing changes
    val before = store.read().get
    val ran = store.updateOnceForBatch(1L, s"$root/ck") { prev =>
      Sketches.mergeSummaries(prev.get,
        Sketches.MgSummary(999L, Array("bogus"), Array(999L)), 8)
    }
    assert(!ran, "replayed batch must not run the update")
    // and the stream's own body, replaying batch id 1, is skipped too
    assert(!HotTokensStream.processBatch(Seq(1L -> "bogus bogus").toDF("doc_id", "text"),
      1L, store, col("text"), s"$root/ck", k = 8),
      "replayed batch must not run the body's update")
    val after = store.read().get
    assert(after.total == before.total &&
      after.items.sameElements(before.items))
  }

  test("the replay marker rides INSIDE the published version (atomic with the summary), per scope") {
    val root = Files.createTempDirectory("graft-hot-marker").toString
    val store = new MgSummaryStore(spark, s"$root/summary")
    def one(total: Long) =
      Sketches.MgSummary(total, Array("x"), Array(total))
    assert(store.updateOnceForBatch(1L, "scopeA")(_ => one(10L)))
    // two scopes sharing one store must not mask each other's replays
    assert(store.updateOnceForBatch(1L, "scopeB")(prev =>
      Sketches.mergeSummaries(prev.get, one(5L), 8)))
    assert(!store.updateOnceForBatch(1L, "scopeA")(_ => one(999L)),
      "scope A's committed batch must stay a no-op after scope B advanced")
    assert(store.read().get.total == 15L)
    // white-box: the newest version FILE carries the applied markers —
    // one rename publishes summary and replay-guard together, so no
    // crash window can separate them (the double-count the old
    // marker-file discipline allowed)
    val newest = new java.io.File(s"$root/summary").listFiles()
      .filter(_.getName.endsWith(".tsv")).sortBy(_.getName).last
    val text = new String(
      java.nio.file.Files.readAllBytes(newest.toPath), "UTF-8")
    assert(text.contains("#applied\tscopeA\t1") &&
      text.contains("#applied\tscopeB\t1"), text)
  }

  test("per-window trending: each window's hot token finalizes when the watermark closes it") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(java.sql.Timestamp, String)]
    def ts(x: String) = java.sql.Timestamp.valueOf(x)
    val q = HotTokensStream.perWindow(
        in.toDF().toDF("ts", "text"), col("text"),
        windowDur = "1 hour", watermark = "10 minutes", k = 4)
      .writeStream.format("memory").queryName("trending")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
      .start()
    try {
      // hour 10: "alpha" dominates, split ACROSS two micro-batches (the
      // sketch buffer must survive the state store between batches);
      // hour 11: "beta" dominates
      in.addData(
        ts("2024-01-01 10:05:00") -> Seq.fill(12)("alpha").mkString(" "),
        ts("2024-01-01 10:10:00") -> "x y z")
      q.processAllAvailable()
      in.addData(
        ts("2024-01-01 10:20:00") -> Seq.fill(8)("alpha").mkString(" "),
        ts("2024-01-01 11:05:00") -> Seq.fill(20)("beta").mkString(" "))
      q.processAllAvailable()
      // advance the watermark far past both windows -> both finalize
      in.addData(ts("2024-01-01 13:00:00") -> "flush")
      q.processAllAvailable()
      val rows = s.sql(
          "SELECT window_start, token, weight_lb FROM trending").collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
      val h10 = rows.filter(_._1 == ts("2024-01-01 10:00:00"))
      val h11 = rows.filter(_._1 == ts("2024-01-01 11:00:00"))
      // alpha's weight reflects BOTH batches' contributions (12 + 8,
      // minus at most the MG decrement slack from the 3 tail tokens)
      assert(h10.exists(r => r._2 == "alpha" && r._3 <= 20L && r._3 >= 15L),
        s"hour-10 alpha missing/underweight: ${rows.mkString(";")}")
      assert(h11.exists(_._2 == "beta"),
        s"hour-11 beta missing: ${rows.mkString(";")}")
      // per-window sketch: hour 10's summary never leaks hour 11 tokens
      assert(!h10.exists(_._2 == "beta"))
    } finally q.stop()
  }

  test("items starting with '#' survive the read/publish cycle (only the header PREFIX is stripped)") {
    val root = Files.createTempDirectory("graft-hot-hash").toString
    val store = new MgSummaryStore(spark, s"$root/summary")
    // corpus tokens are arbitrary — '#include' from code, '#hashtag'
    // from social text, even an item that LOOKS like a header line
    val items = Array("#include", "#hashtag", "#applied\tfake", "plain")
    assert(store.updateOnceForBatch(1L, "s")(_ =>
      Sketches.MgSummary(40L, items, Array(10L, 10L, 10L, 10L))))
    val r1 = store.read().get
    assert(r1.items.sorted.sameElements(items.sorted),
      s"items lost on read: ${r1.items.mkString(",")}")
    // and they must survive a REPUBLISH (read -> merge -> write): the
    // old blanket '#' filter dropped them here permanently
    assert(store.updateOnceForBatch(2L, "s")(prev =>
      Sketches.mergeSummaries(prev.get,
        Sketches.MgSummary(5L, Array("plain"), Array(5L)), 8)))
    val r2 = store.read().get
    assert(r2.total == 45L)
    items.foreach(i => assert(r2.items.contains(i),
      s"'$i' dropped across republish: ${r2.items.mkString(",")}"))
    // the replay guard still parses its headers from the same file
    assert(!store.updateOnceForBatch(1L, "s")(_ =>
      Sketches.MgSummary(999L, Array("bogus"), Array(999L))))
  }

  test("a legacy BatchMarkers file (pre-header store) still blocks a replay") {
    val root = Files.createTempDirectory("graft-hot-legacy").toString
    val store = new MgSummaryStore(spark, s"$root/summary")
    assert(store.updateOnceForBatch(7L, "ck")(_ =>
      Sketches.MgSummary(10L, Array("x"), Array(10L))))
    // simulate the pre-upgrade marker layout: batch 8 was committed by
    // the OLD store version as a _batches/<scope-hash>/batchNNN file,
    // so the new in-file '#applied' headers know nothing about it
    val scopeDir = new java.io.File(s"$root/summary/_batches/" +
      java.lang.Long.toHexString(
        scala.util.hashing.MurmurHash3.stringHash("ck").toLong & 0xffffffffL))
    assert(scopeDir.mkdirs())
    assert(new java.io.File(scopeDir, f"batch${8L}%012d").createNewFile())
    // the upgraded store must consult the legacy marker on a header
    // miss — replaying batch 8 would double-count the sketch forever
    assert(!store.updateOnceForBatch(8L, "ck")(_ =>
      Sketches.MgSummary(999L, Array("bogus"), Array(999L))),
      "legacy-marked batch replayed after the header upgrade")
    assert(store.read().get.total == 10L)
    // an actually-new batch still runs
    assert(store.updateOnceForBatch(9L, "ck")(prev =>
      Sketches.mergeSummaries(prev.get,
        Sketches.MgSummary(1L, Array("x"), Array(1L)), 8)))
  }
}
