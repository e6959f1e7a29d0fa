package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ops.TextAnalysis
import graft.pipeline.BucketedStateTable
import graft.streaming.ForeachBatch

/** Incremental BM25 over a persistent term-bucketed postings index:
  * incremental scores must equal the batch operator's exactly
  * (same tokenization, operation order, rounding), the probe must read
  * only the query terms' buckets, and re-ingesting a batch must be a
  * no-op — the same contract the dedup/embedding/pair indexes prove. */
class PostingsIndexSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft-bm25").toString

  private def tables(root: String): (BucketedStateTable, BucketedStateTable) = (
    new BucketedStateTable(spark, s"$root/postings",
      keyCols = Seq("term", "doc_id"), numBuckets = 32,
      bucketCols = Seq("term"), retentionFloorMillis = 0L),
    new BucketedStateTable(spark, s"$root/doclen",
      keyCols = Seq("doc_id"), numBuckets = 16, retentionFloorMillis = 0L))

  private val terms = Seq("spark", "vector", "merge", "window")

  private def scores(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("two-batch ingest scores exactly as the batch operator; replay is a no-op") {
    val (postings, docLengths) = tables(tmp())
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    TextAnalysis.indexPostings(postings, docLengths,
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "text")
    TextAnalysis.indexPostings(postings, docLengths,
      docs.filter(col("doc_id") % 2 === 1), "doc_id", "text")

    val incr = scores(TextAnalysis.incrementalBm25TopK(
      postings, docLengths, terms, k = 15))
    val batch = scores(TextAnalysis.bm25TopK(
      docs, "doc_id", "text", terms, k = 15))
    assert(incr.nonEmpty, "the fixture corpus must hit the query terms")
    assert(incr == batch, s"incremental $incr != batch $batch")

    // replay the odd half: keyed merges leave both tables unchanged
    val (np, nl) = (postings.read().get.count(), docLengths.read().get.count())
    TextAnalysis.indexPostings(postings, docLengths,
      docs.filter(col("doc_id") % 2 === 1), "doc_id", "text")
    assert(postings.read().get.count() == np)
    assert(docLengths.read().get.count() == nl)
    assert(scores(TextAnalysis.incrementalBm25TopK(
      postings, docLengths, terms, k = 15)) == incr)
  }

  test("a query reads only its terms' posting buckets") {
    val s = spark
    import s.implicits._
    val (postings, docLengths) = tables(tmp())
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    TextAnalysis.indexPostings(postings, docLengths, docs, "doc_id", "text")

    val bucketsAll = postings.read().get.inputFiles
      .flatMap(graft.pipeline.StateManifest.bucketOf).distinct
    assert(bucketsAll.length > 8,
      s"corpus vocabulary too narrow: ${bucketsAll.length} buckets")
    val probe = Seq("spark").toDF("term")
    val bucketsRead = postings
      .readForKeys(probe,
        Seq.empty[(String, Long, Long, Long)].toDF("term", "doc_id", "tf", "dl"))
      .inputFiles
      .flatMap(graft.pipeline.StateManifest.bucketOf).distinct
    assert(bucketsRead.length == 1,
      s"one term probed ${bucketsRead.length} buckets")
  }

  test("unseen terms and an empty index both yield an empty top-k, not an error") {
    val (postings, docLengths) = tables(tmp())
    assert(TextAnalysis.incrementalBm25TopK(
      postings, docLengths, Seq("anything"), k = 5).count() == 0L)
    TextAnalysis.indexPostings(postings, docLengths,
      Tables.documents(spark, sf0001).select("doc_id", "text").limit(20),
      "doc_id", "text")
    assert(TextAnalysis.incrementalBm25TopK(
      postings, docLengths, Seq("zzz_not_a_token_zzz"), k = 5).count() == 0L)
  }

  test("streaming twin: ingest across micro-batches, score equals batch, replay stable") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val root = tmp()
    val (postings, docLengths) = tables(root)
    val corpus = Tables.documents(spark, sf0001).select("doc_id", "text")
      .filter(col("doc_id") < 200)
    val rows = corpus.collect().map(r => (r.getLong(0), r.getString(1))).toSeq

    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = ForeachBatch.start(in.toDF().toDF("doc_id", "text"), s"$root/ck",
        org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L)) { (b, _) =>
      TextAnalysis.indexPostings(postings, docLengths, b, "doc_id", "text")
    }
    try {
      val (h1, h2) = rows.splitAt(rows.size / 2)
      in.addData(h1); q.processAllAvailable()
      in.addData(h2); q.processAllAvailable()
    } finally q.stop()

    val incr = scores(TextAnalysis.incrementalBm25TopK(
      postings, docLengths, terms, k = 10))
    val batch = scores(TextAnalysis.bm25TopK(
      corpus, "doc_id", "text", terms, k = 10))
    assert(incr == batch, s"streamed $incr != batch $batch")
  }

  test("running stats row tracks ingest including replay; the query reads the ROW, not the corpus") {
    val s = spark
    import s.implicits._
    val root = tmp()
    val (postings, docLengths) = tables(root)
    val stats = Some(new BucketedStateTable(spark, s"$root/stats",
      keyCols = Seq("stat"), numBuckets = 1, retentionFloorMillis = 0L))
    def statsRow(): (Long, Long) = stats.get.read().get
      .collect().map(r => (r.getAs[Long]("n_docs"), r.getAs[Long]("sum_dl")))
      .head
    def trueAgg(): (Long, Long) = docLengths.read().get
      .agg(count(lit(1)), sum(col("dl"))).collect()
      .map(r => (r.getLong(0), r.getLong(1))).head

    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    TextAnalysis.indexPostings(postings, docLengths,
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", stats)
    assert(statsRow() == trueAgg(), "after batch 1 the row must equal the aggregate")
    TextAnalysis.indexPostings(postings, docLengths,
      docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", stats)
    val afterTwo = statsRow()
    assert(afterTwo == trueAgg(), "after batch 2 the row must equal the aggregate")

    // at-least-once REPLAY: every replayed id already exists with the
    // same dl, so the delta is zero — no marker needed
    TextAnalysis.indexPostings(postings, docLengths,
      docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", stats)
    assert(statsRow() == afterTwo, "replay must leave the stats row unchanged")

    // scores with the stats row are bit-identical to the aggregate path
    val viaRow = scores(TextAnalysis.incrementalBm25TopK(
      postings, docLengths, terms, k = 15, stats = stats))
    val viaAgg = scores(TextAnalysis.incrementalBm25TopK(
      postings, docLengths, terms, k = 15))
    assert(viaRow == viaAgg && viaRow.nonEmpty)

    // crash consistency: a docLengths commit landing WITHOUT its stats
    // commit (the crash window between an ingest's two bookkeeping
    // commits, simulated by a direct side merge) leaves the row
    // anchored at the older commit. The query path detects the stale
    // anchor and folds the missed window from the CHANGE FEED — a
    // bucket-pruned diff of exactly the side-merged buckets, never a
    // corpus re-aggregate — matching the full-aggregate path; the row
    // itself is not rewritten by a read.
    docLengths.merge(
      Seq((9999991L, 100000L), (9999992L, 100000L)).toDF("doc_id", "dl"),
      keys = Seq("doc_id"))
    val rowAfterSideMerge = statsRow()
    assert(rowAfterSideMerge == afterTwo,
      "the side merge must leave the committed stats row untouched")
    val viaRowAfter = scores(TextAnalysis.incrementalBm25TopK(
      postings, docLengths, terms, k = 15, stats = stats))
    val viaAggAfter = scores(TextAnalysis.incrementalBm25TopK(
      postings, docLengths, terms, k = 15))
    assert(viaRowAfter == viaAggAfter,
      "a stale anchor must fold the missed window from the change feed")
    assert(viaAggAfter != viaRow,
      "the two giant docs must shift avgdl (sanity)")
    assert(statsRow() == rowAfterSideMerge, "a read path must not commit")

    // ...and the NEXT wired ingest re-anchors: the row catches up to
    // the true aggregate, missed window included
    TextAnalysis.indexPostings(postings, docLengths,
      docs.filter(col("doc_id") === 2), "doc_id", "text", stats)
    assert(statsRow() == trueAgg(),
      "the next ingest must heal the crash window from the change feed")
  }

  test("stats bootstrap: a table indexed before stats tracking catches up on first wired ingest") {
    val s = spark
    import s.implicits._
    val root = tmp()
    val (postings, docLengths) = tables(root)
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    // batch 1 ingested with NO stats table
    TextAnalysis.indexPostings(postings, docLengths,
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "text")
    // batch 2 arrives with stats wired: the row must bootstrap to the
    // FULL post-merge aggregate, not just batch 2's delta
    val stats = Some(new BucketedStateTable(spark, s"$root/stats",
      keyCols = Seq("stat"), numBuckets = 1, retentionFloorMillis = 0L))
    TextAnalysis.indexPostings(postings, docLengths,
      docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", stats)
    val row = stats.get.read().get.collect()
      .map(r => (r.getAs[Long]("n_docs"), r.getAs[Long]("sum_dl"))).head
    val agg = docLengths.read().get.agg(count(lit(1)), sum(col("dl")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).head
    assert(row == agg, s"bootstrapped row $row != aggregate $agg")
  }

  test("streaming twin maintains the stats row across micro-batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val root = tmp()
    val (postings, docLengths) = tables(root)
    val stats = Some(new BucketedStateTable(spark, s"$root/stats",
      keyCols = Seq("stat"), numBuckets = 1, retentionFloorMillis = 0L))
    val corpus = Tables.documents(spark, sf0001).select("doc_id", "text")
      .filter(col("doc_id") < 200)
    val rows = corpus.collect().map(r => (r.getLong(0), r.getString(1))).toSeq

    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = ForeachBatch.start(in.toDF().toDF("doc_id", "text"), s"$root/ck",
        org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L)) { (b, _) =>
      TextAnalysis.indexPostings(postings, docLengths, b, "doc_id", "text", stats)
    }
    try {
      val (h1, h2) = rows.splitAt(rows.size / 2)
      in.addData(h1); q.processAllAvailable()
      in.addData(h2); q.processAllAvailable()
    } finally q.stop()
    val row = stats.get.read().get.collect()
      .map(r => (r.getAs[Long]("n_docs"), r.getAs[Long]("sum_dl"))).head
    val agg = docLengths.read().get.agg(count(lit(1)), sum(col("dl")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).head
    assert(row == agg, s"streamed stats row $row != aggregate $agg")
    assert(scores(TextAnalysis.incrementalBm25TopK(
        postings, docLengths, terms, k = 10, stats = stats)) ==
      scores(TextAnalysis.bm25TopK(corpus, "doc_id", "text", terms, k = 10)))
  }

  test("string-id corpora keep one id type across populated and empty query paths") {
    val s2 = spark
    import s2.implicits._
    val root = tmp()
    val postings = new BucketedStateTable(spark, s"$root/postings",
      keyCols = Seq("term", "doc_id"), numBuckets = 8,
      bucketCols = Seq("term"), retentionFloorMillis = 0L)
    val docLengths = new BucketedStateTable(spark, s"$root/doclen",
      keyCols = Seq("doc_id"), numBuckets = 4, retentionFloorMillis = 0L)
    TextAnalysis.indexPostings(postings, docLengths,
      Seq(("docA", "apple banana"), ("docB", "banana cherry"))
        .toDF("id", "text"), "id", "text")
    val hit = TextAnalysis.incrementalBm25TopK(
      postings, docLengths, Seq("banana"), k = 5)
    assert(hit.schema("doc_id").dataType ==
      org.apache.spark.sql.types.StringType)
    assert(hit.count() == 2L)
    // unseen term: the empty frame keeps the INDEX's id type, so a
    // caller unioning results never hits a type mismatch on the edge
    val miss = TextAnalysis.incrementalBm25TopK(
      postings, docLengths, Seq("zzz_nope"), k = 5)
    assert(miss.schema("doc_id").dataType ==
      org.apache.spark.sql.types.StringType)
    assert(miss.count() == 0L)
  }
}
