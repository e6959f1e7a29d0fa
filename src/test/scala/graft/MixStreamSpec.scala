package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.pipeline.BucketedStateTable
import graft.streaming.{ForeachBatch, MixStream}

/** Streaming temperature mixture: running totals accumulate exactly
  * once per batch, the smallest source is never downsampled, and an
  * at-least-once replay reproduces the same kept rows over unchanged
  * totals. */
class MixStreamSpec extends SparkSpec {

  test("totals accumulate once per batch; min source kept whole; replay is a no-op") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val root = Files.createTempDirectory("graft-mixstream").toString
    val totals = new BucketedStateTable(spark, s"$root/totals",
      keyCols = Seq("source"), numBuckets = 4, retentionFloorMillis = 0L)
    val in = MemoryStream[(Long, String, String)]
    val kept = scala.collection.mutable.Map.empty[Long, Set[Long]]
    val q = ForeachBatch.start(in.toDF().toDF("doc_id", "source", "text"),
        s"$root/ck", Trigger.ProcessingTime(0L)) { (b, id) =>
      kept(id) = MixStream.processBatch(b, id, totals, tau = 0.5,
          streamScope = s"$root/ck")
        .select("doc_id").collect().map(_.getLong(0)).toSet
    }
    try {
      // batch 0: A is 1000 tokens across 20 docs, B is 15 across 3
      val heavy = (1L to 20L).map(i => (i, "A", Seq.fill(50)("w").mkString(" ")))
      val light = (100L to 102L).map(i => (i, "B", "a b c d e"))
      in.addData(heavy ++ light: _*)
      q.processAllAvailable()
      val t0 = totals.read().get.collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(t0 == Map("A" -> 1000L, "B" -> 15L), s"got $t0")
      // B is the min source -> rate 1 -> every B doc kept; A sheds rows
      // (rate sqrt(15/1000) ~ 0.12)
      assert((100L to 102L).forall(kept(0L)), s"B must keep all: ${kept(0L)}")
      assert(kept(0L).count(_ <= 20L) < 20, "A must be downsampled")

      // batch 1: more B — totals ACCUMULATE (no re-read of history)
      in.addData((200L to 204L).map(i => (i, "B", "a b c d e")): _*)
      q.processAllAvailable()
      val t1 = totals.read().get.collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(t1 == Map("A" -> 1000L, "B" -> 40L), s"got $t1")
      assert((200L to 204L).forall(kept(1L)), s"B still min: ${kept(1L)}")
    } finally q.stop()

    // at-least-once replay of batch 1 (same scope + batch id): the
    // marker skips the totals update and the SAME rows come back
    val replay = (200L to 204L).map(i => (i, "B", "a b c d e"))
      .toDF("doc_id", "source", "text")
    val again = MixStream.processBatch(replay, 1L, totals, tau = 0.5,
        streamScope = s"$root/ck",
        idCol = "doc_id", sourceCol = "source", textCol = "text", seed = "mix")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val t2 = totals.read().get.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(t2 == Map("A" -> 1000L, "B" -> 40L), s"replay double-counted: $t2")
    assert(again == kept(1L), s"replay diverged: $again vs ${kept(1L)}")
  }
}
