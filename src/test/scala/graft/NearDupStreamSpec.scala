package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ops.Dedup
import graft.pipeline.BucketedStateTable
import graft.streaming.{EmbedNearDupStream, ForeachBatch, NearDupStream}

/** Streaming twin of incremental near-dup: pairs must surface across
  * micro-batches through the persistent LSH index + doc store, and a
  * replayed batch must re-emit the same pairs while leaving index,
  * pairs table and doc store unchanged (at-least-once → converged). */
class NearDupStreamSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft-ndstream").toString

  test("cross-batch pairs via the persistent index; replay leaves all state unchanged") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val root = tmp()
    val index = new BucketedStateTable(spark, s"$root/index",
      keyCols = Seq("band", "band_hash", "doc_id"), numBuckets = 32,
      bucketCols = Seq("band", "band_hash"), retentionFloorMillis = 0L)
    val pairs = new BucketedStateTable(spark, s"$root/pairs",
      keyCols = Seq("a_id", "b_id"), numBuckets = 8,
      retentionFloorMillis = 0L)
    val docs = new BucketedStateTable(spark, s"$root/docs",
      keyCols = Seq("doc_id"), numBuckets = 8, retentionFloorMillis = 0L)

    // seed: the static corpus goes into the doc store and the index
    val corpus = Tables.documents(spark, sf0001).select("doc_id", "text")
      .filter(col("text").isNotNull)
    docs.merge(corpus, keys = Seq("doc_id"))
    Dedup.indexNearDups(index, corpus, "doc_id", "text")

    val d0 = corpus.filter(col("doc_id") === 0L).select("text")
      .collect().head.getString(0)
    val freshTxt = "completely unrelated fresh content never seen before"

    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    // continuous trigger: the default AvailableNow would drain batch 1
    // and STOP before batch 2 arrives
    val q = ForeachBatch.start(in.toDF().toDF("doc_id", "text"), s"$root/ck",
        org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L)) { (b, _) =>
      NearDupStream.processBatch(b, docs, index, pairs, minJaccard = 0.8)
    }
    try {
      // batch 1: a near-dup of corpus doc 0, plus a fresh document
      in.addData(100000L -> (d0 + " zz yy xx"), 100001L -> freshTxt)
      q.processAllAvailable()
      def pairSet(): Set[(Long, Long)] = pairs.read()
        .map(_.select("a_id", "b_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet)
        .getOrElse(Set.empty)
      val after1 = pairSet()
      assert(after1.contains((0L, 100000L)), s"planted near-dup not found: $after1")
      assert(!after1.exists(p => p._1 == 100001L || p._2 == 100001L))

      // batch 2: a near-dup of the doc streamed in batch 1 — only the
      // persistent index + doc store can connect them
      in.addData(100002L -> (freshTxt + " qq"))
      q.processAllAvailable()
      val after2 = pairSet()
      assert(after2.contains((100001L, 100002L)),
        s"cross-batch near-dup not found: $after2")
    } finally q.stop()

    // replay: re-running batch 2 through the stream's own body (the
    // at-least-once path) must re-emit the same pairs and change no state
    val idxCount = index.read().get.count()
    val pairCount = pairs.read().get.count()
    val docCount = docs.read().get.count()
    val batch2 = Seq(100002L -> (freshTxt + " qq")).toDF("doc_id", "text")
    val replayed = NearDupStream.processBatch(batch2, docs, index, pairs,
      minJaccard = 0.8)
    val got = replayed.select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((100001L, 100002L)), s"replay lost the pair: $got")
    assert(index.read().get.count() == idxCount)
    assert(pairs.read().get.count() == pairCount)
    assert(docs.read().get.count() == docCount)
  }

  test("embedding stream: cross-batch pairs via the persistent LSH index; replay stable") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val root = tmp()
    val index = new BucketedStateTable(spark, s"$root/embidx",
      keyCols = Seq("bucket", "vec_id"), numBuckets = 16,
      bucketCols = Seq("bucket"), retentionFloorMillis = 0L)
    val pairs = new BucketedStateTable(spark, s"$root/pairs",
      keyCols = Seq("a_id", "b_id"), numBuckets = 8,
      retentionFloorMillis = 0L)
    val e = Tables.embeddings(spark, sf0001)
    Dedup.indexEmbeddings(index, e, "vec_id", "embedding")
    val v0 = e.filter(col("vec_id") === 0L).select("embedding")
      .collect().head.getSeq[Float](0)

    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Seq[Float])]
    val q = ForeachBatch.start(in.toDF().toDF("vec_id", "embedding"), s"$root/ck",
        org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L)) { (b, _) =>
      EmbedNearDupStream.processBatch(b, index, pairs)
    }
    def pairSet(): Set[(Long, Long)] = pairs.read()
      .map(_.select("a_id", "b_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet)
      .getOrElse(Set.empty)
    try {
      in.addData(700000L -> v0) // twin of corpus vec 0
      q.processAllAvailable()
      assert(pairSet().contains((0L, 700000L)), s"twin pair missing: ${pairSet()}")
      // batch 2 pairs with the STREAMED vector of batch 1 through the index
      in.addData(700001L -> v0)
      q.processAllAvailable()
      assert(pairSet().contains((700000L, 700001L)),
        s"cross-batch pair missing: ${pairSet()}")
    } finally q.stop()

    // replay batch 2 through the stream's body: same pairs, no state growth
    val (ni, np) = (index.read().get.count(), pairs.read().get.count())
    EmbedNearDupStream.processBatch(
      Seq(700001L -> v0).toDF("vec_id", "embedding"), index, pairs)
    assert(index.read().get.count() == ni)
    assert(pairs.read().get.count() == np)
  }
}
