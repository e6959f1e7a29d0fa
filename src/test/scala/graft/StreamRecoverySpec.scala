package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

import graft.ops.Dedup
import graft.pipeline._
import graft.sources.OaiPageSource
import graft.streaming.{ForeachBatch, HarvestStream, NearDupStream}

/** Streaming crash-recovery end-to-end (ST4 at the streaming layer):
  * a crash in the worst window — AFTER the body's state writes
  * committed, BEFORE the engine committed the micro-batch — must replay
  * through the real checkpoint and converge. Two inputs: the
  * marker-guarded harvest stream (the replay is a no-op merge and the
  * state equals the batch pipeline's) and the near-dup stream, which
  * has no batch marker (the replay re-runs every keyed merge and the
  * state equals a crash-free run's). Plus the DSv2 `oai-pages` restart
  * guard: single-use resumption tokens mean a restarted query must
  * FAIL FAST with guidance, never silently lose or re-fetch pages. */
class StreamRecoverySpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft-recover").toString

  private def chain(t: Throwable): Seq[Throwable] =
    if (t == null) Nil else t +: chain(t.getCause)

  /** Runs `body` over `batches` on checkpoint `ckpt` until the stream
    * drains. With `crash`, the run fails right after `body` returns —
    * its writes committed, the engine's batch commit not reached — and
    * the failure must be the injected one. */
  private def drain(batches: DataFrame, ckpt: String, crash: Boolean = false)(
      body: (DataFrame, Long) => Unit): Unit = {
    val q = ForeachBatch.start(batches, ckpt) { (b, id) =>
      body(b, id)
      if (crash) throw new RuntimeException("injected crash")
    }
    if (!crash) q.awaitTermination()
    else {
      val e = intercept[StreamingQueryException](q.awaitTermination())
      assert(chain(e).exists(t =>
        Option(t.getMessage).exists(_.contains("injected crash"))))
    }
  }

  private val qucosaFilter: DataFrame => DataFrame =
    _.filter(graft.functions.GraftFunctions.isQucosaId(col("record_identifier")))

  test("crash between state commit and engine commit replays idempotently and converges to the batch-pipeline state") {
    val dir = tmp()
    val pages = s"$dir/pages"
    Files.createDirectories(Paths.get(pages))
    Files.writeString(Paths.get(pages, "p1.xml"), fixture("/oai/resumptionToken.xml"))

    // the state table is the BUCKETED layout — streaming recovery and
    // bucket-pruned merges must compose
    val headers = new BucketedStateTable(spark, s"$dir/headers",
      keyCols = Seq("record_identifier"), numBuckets = 8,
      retentionFloorMillis = 0L)

    def harvest(crash: Boolean = false): Unit =
      drain(HarvestStream.pages(spark, pages), s"$dir/ckpt", crash) { (b, id) =>
        HarvestStream.processBatch(b, id, headers, s"$dir/ckpt", qucosaFilter)
      }

    // run 1: drains page 1 cleanly
    harvest()
    assert(headers.read().get.count() == 1L)

    // page 2 arrives; run 2 CRASHES in the worst window — merge already
    // committed, engine batch commit not reached
    Files.writeString(Paths.get(pages, "p2.xml"), fixture("/oai/listIdentifiers.xml"))
    harvest(crash = true)
    // the merge DID land before the crash (at-least-once writes first)
    assert(headers.read().get.count() == 2L)
    val commitsAfterCrash = headers.lastCommit.get.commitId

    // run 3: healthy restart on the same checkpoint — the engine REPLAYS
    // the uncommitted batch; the batch marker turns the replayed merge
    // into a no-op (no new state commit), and the stream finishes clean
    harvest()
    assert(headers.lastCommit.get.commitId == commitsAfterCrash,
      "replayed batch must not commit a duplicate merge")

    // convergence: state equals the BATCH pipeline over the same pages
    val batchDir = tmp()
    val batchHeaders = new ParquetStateTable(spark, s"$batchDir/headers")
    val runs = new ParquetStateTable(spark, s"$batchDir/runs")
    val p = new HarvestPipeline(spark, batchHeaders, runs, "http://h/oai",
      headerFilter = qucosaFilter)
    val fetch = new PageFetcher {
      def apply(uri: String): Either[String, String] =
        Map(
          "resumptionToken=111111111111111" -> fixture("/oai/listIdentifiers.xml"),
          "metadataPrefix" -> fixture("/oai/resumptionToken.xml"))
          .collectFirst { case (k, v) if uri.contains(k) => v }
          .toRight(s"404 for $uri")
    }
    p.runToCompletion(fetch, Timestamp.valueOf("2024-03-01 10:00:00"), interPageDelayMillis = 0L)

    def snap(t: StateTable): Set[String] =
      t.read().get.orderBy("record_identifier").collect().map(_.toString).toSet
    assert(snap(headers) == snap(batchHeaders))
    assert(snap(headers).size == 2)
  }

  test("a stream with no batch marker (near-dup) replays a crashed batch through the checkpoint and converges to a crash-free run") {
    val s = spark
    import s.implicits._
    val corpus = Tables.documents(spark, sf0001).select("doc_id", "text")
      .filter(col("text").isNotNull && col("doc_id") < 200L)
    val d0 = corpus.filter(col("doc_id") === 0L).select("text")
      .collect().head.getString(0)
    val freshTxt = "completely unrelated fresh content never seen before"
    // batch 1: a near-dup of corpus doc 0 plus a fresh document;
    // batch 2: a near-dup of batch 1's fresh document
    val batch1 = Seq(100000L -> (d0 + " zz yy xx"), 100001L -> freshTxt)
    val batch2 = Seq(100002L -> (freshTxt + " qq"))

    /** Streams batch 1, then batch 2, from a file source into freshly
      * seeded tables. With `crash`, the batch-2 run crashes after the
      * body's merges commit and a restart on the same checkpoint
      * finishes it. Returns the pairs, doc store and index snapshots,
      * the stored pair ids and the batch ids the body ran. */
    def ingest(crash: Boolean) = {
      val root = tmp()
      val index = new BucketedStateTable(spark, s"$root/index",
        keyCols = Seq("band", "band_hash", "doc_id"), numBuckets = 32,
        bucketCols = Seq("band", "band_hash"), retentionFloorMillis = 0L)
      val pairs = new BucketedStateTable(spark, s"$root/pairs",
        keyCols = Seq("a_id", "b_id"), numBuckets = 8,
        retentionFloorMillis = 0L)
      val docs = new BucketedStateTable(spark, s"$root/docs",
        keyCols = Seq("doc_id"), numBuckets = 8, retentionFloorMillis = 0L)
      docs.merge(corpus, keys = Seq("doc_id"))
      Dedup.indexNearDups(index, corpus, "doc_id", "text")

      val in = s"$root/in"
      val ran = new ConcurrentLinkedQueue[Long]
      def run(crash: Boolean): Unit = drain(
          spark.readStream.schema("doc_id LONG, text STRING").parquet(in),
          s"$root/ck", crash) { (b, id) =>
        NearDupStream.processBatch(b, docs, index, pairs)
        ran.add(id)
      }
      batch1.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
      run(crash = false)
      batch2.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
      if (crash) run(crash = true)
      run(crash = false)

      def snap(t: BucketedStateTable): Set[String] =
        t.read().get.collect().map(_.toString).toSet
      val pairIds = pairs.read().get.select("a_id", "b_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (Seq(snap(pairs), snap(docs), snap(index)), pairIds, ran.asScala.toSeq)
    }

    val (clean, cleanPairs, cleanRan) = ingest(crash = false)
    val (crashed, _, crashedRan) = ingest(crash = true)
    // the engine really replayed: batch 1 reached the body twice
    assert(cleanRan == Seq(0L, 1L), s"clean run batches: $cleanRan")
    assert(crashedRan == Seq(0L, 1L, 1L), s"crashed run batches: $crashedRan")
    // not vacuous: the planted pair and the cross-batch pair exist
    assert(cleanPairs.contains((0L, 100000L)) && cleanPairs.contains((100001L, 100002L)),
      s"pairs: $cleanPairs")
    // pairs, doc store and index all equal the crash-free run's
    Seq("pairs", "docs", "index").zip(crashed.zip(clean)).foreach {
      case (name, (got, want)) =>
        assert(got == want, s"$name diverged: ${got.diff(want)} vs ${want.diff(got)}")
    }
  }

  test("oai-pages restart guard: a restarted DSv2 stream fails fast with guidance instead of losing pages") {
    val page1 = fixture("/oai/resumptionToken.xml")
    val page2 = fixture("/oai/listIdentifiers.xml")
    OaiPageSource.registerFetcher("recover-guard", uri =>
      if (uri.contains("resumptionToken=111111111111111")) Some(page2)
      else if (uri.contains("metadataPrefix")) Some(page1)
      else None)
    val dir = tmp()
    val ckpt = s"$dir/ckpt"
    val out = s"$dir/out"

    // parquet sink: supports checkpoint recovery (memory sink does not)
    def start() = spark.readStream.format("oai-pages")
      .option("url", "http://h/oai")
      .option("fetcher", "recover-guard")
      .option("maxPagesPerTrigger", 1)
      .load()
      .writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()

    // run 1 drains both pages and stops cleanly
    val q1 = start()
    q1.processAllAvailable(); q1.stop()
    assert(spark.read.parquet(out).count() == 2L)

    // restart on the same checkpoint: resumption tokens are single-use,
    // so the fresh stream instance cannot seek back into the chain — it
    // must fail fast with the documented guidance, not re-fetch or skip
    val q2 = start()
    val ex = intercept[StreamingQueryException] {
      q2.processAllAvailable()
      q2.awaitTermination()
    }
    assert(chain(ex).exists(t => Option(t.getMessage)
      .exists(_.contains("resumption tokens are single-use"))),
      s"expected the restart-guard message, got: ${ex.getMessage}")
  }
}
