package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ops.Dedup
import graft.pipeline.BucketedStateTable

/** Incremental exact dedup against a persistent bucketed seen-set: the
  * anti-join must probe ONLY the buckets the batch hashes into, the
  * commit must write only those buckets, and a replayed batch must be a
  * no-op — the daily-ingest contract at 100 TB. */
class IncrementalDedupSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft-incr").toString

  private def state(dir: String, buckets: Int = 64) =
    new BucketedStateTable(spark, s"$dir/seen",
      keyCols = Seq("content_hash"), numBuckets = buckets,
      retentionFloorMillis = 0L)

  private def docs(rows: (Long, String)*) = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  private def seed(t: BucketedStateTable, rows: (Long, String)*): Unit =
    t.merge(
      docs(rows: _*)
        .select(graft.ops.TextAnalysis.fingerprint(col("text")).as("content_hash"),
          col("doc_id").as("first_id"))
        .groupBy("content_hash").agg(min("first_id").as("first_id")),
      keys = Seq("content_hash"))

  test("seen drops, intra-batch keeps the smallest id, fresh survives, nulls vanish") {
    val t = state(tmp())
    seed(t, 1L -> "alpha beta", 2L -> "gamma delta")

    val batch = docs(
      10L -> "alpha beta",      // exact re-ingest → dropped
      11L -> "Alpha  beta",     // normalized re-ingest (case+ws) → dropped
      12L -> "epsilon zeta",    // fresh, duplicated intra-batch
      13L -> "epsilon zeta",    //   → only id 12 survives
      14L -> "eta theta",       // fresh unique → kept
      15L -> null)              // null text → no fingerprint, vanishes
    val kept = Dedup.incrementalExact(t, batch, "doc_id", "text")
    assert(kept.select("doc_id").as[Long](spark.implicits.newLongEncoder)
      .collect().sorted.toSeq == Seq(12L, 14L))

    // the survivors' hashes are now state: a replay is a no-op
    val replay = Dedup.incrementalExact(t, batch, "doc_id", "text")
    assert(replay.count() == 0L)
    assert(t.read().get.count() == 4L) // 2 seeded + 2 new
  }

  test("rebuildExactState: one-shot migration recomputes every fingerprint under the CURRENT normalization") {
    val t = state(tmp())
    // simulate a pre-r15 store: UNTRIMMED-normalization hashes (edge
    // whitespace hashed apart) — the state-format break documented on
    // incrementalExact
    t.merge(
      docs(1L -> "alpha beta\n", 2L -> "gamma delta")
        .select(md5(lower(regexp_replace(col("text"), "\\s+", " ")))
          .as("content_hash"), col("doc_id").as("first_id")),
      keys = Seq("content_hash"))
    // under the stale hashes, the trimmed twin of doc 1 is wrongly
    // re-admitted as "new" — the drift the rebuild exists to heal
    val drifted = Dedup.incrementalExact(
      t, docs(10L -> "alpha beta"), "doc_id", "text")
    assert(drifted.count() == 1L, "precondition: stale hashes re-admit")

    // one-shot rebuild from the retained corpus, atomic replace
    Dedup.rebuildExactState(t,
      docs(1L -> "alpha beta\n", 2L -> "gamma delta"), "doc_id", "text")
    val st = t.read().get
    assert(st.count() == 2L)
    assert(st.schema.fieldNames.toSeq == Seq("content_hash", "first_id"))
    // now the trimmed twin dedups correctly...
    assert(Dedup.incrementalExact(
      t, docs(11L -> "  Alpha beta  "), "doc_id", "text").count() == 0L)
    // ...and genuinely fresh text still survives
    assert(Dedup.incrementalExact(
      t, docs(12L -> "epsilon zeta"), "doc_id", "text").count() == 1L)
  }

  test("probe reads and commit writes only the batch's buckets against a large seen-set") {
    val s = spark
    import s.implicits._
    val t = state(tmp())
    // seed 50k distinct texts → every bucket populated
    val big = spark.range(50000)
      .select(col("id").as("doc_id"),
        concat(lit("document number "), col("id")).as("text"))
    t.merge(
      big.select(graft.ops.TextAnalysis.fingerprint(col("text")).as("content_hash"),
        col("doc_id").as("first_id")),
      keys = Seq("content_hash"))
    assert(t.lastCommit.get.bucketsWritten.size == 64)

    val batch = docs(900001L -> "a brand new document")
    val kept = Dedup.incrementalExact(t, batch, "doc_id", "text")
    assert(kept.count() == 1L)

    // the read was bucket-pruned: the probe slice touched ONE bucket dir
    val probe = batch
      .select(graft.ops.TextAnalysis.fingerprint(col("text")).as("content_hash"))
    val sliceFiles = t.readForKeys(probe, probe.limit(0)).inputFiles
    val sliceBuckets = sliceFiles.map(f =>
      graft.pipeline.StateManifest.bucketOf(f).get).distinct
    assert(sliceBuckets.length == 1)

    // and the commit rewrote exactly that bucket
    val commit = t.lastCommit.get
    assert(commit.bucketsWritten.length == 1)
    assert(sliceBuckets.head == commit.bucketsWritten.head)
  }

  test("streaming ingest: foreachBatch dedup drops cross-batch dups; a replayed batch is a no-op") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val root = tmp()
    val t = state(root, buckets = 8)
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val kept = scala.collection.mutable.SortedSet.empty[Long]
    val q = in.toDF().toDF("doc_id", "text")
      .writeStream
      .option("checkpointLocation", s"$root/ck")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        Dedup.incrementalExact(t, batch, "doc_id", "text")
          .select("doc_id").collect() // driver collect is TEST evidence only
          .foreach(r => kept.synchronized { kept += r.getLong(0) })
      }
      .start()
    try {
      in.addData(1L -> "alpha", 2L -> "beta"); q.processAllAvailable()
      in.addData(3L -> "alpha", 4L -> "gamma"); q.processAllAvailable() // 3 seen
      in.addData(5L -> "gamma", 6L -> "gamma"); q.processAllAvailable() // both seen
      assert(kept.toSeq == Seq(1L, 2L, 4L))
      assert(t.read().get.count() == 3L)
    } finally q.stop()
    // crash-replay at the state layer: re-running an already-committed
    // micro-batch finds every hash already in the seen-set — a no-op,
    // so at-least-once delivery cannot double-ingest
    val replay = Dedup.incrementalExact(
      t, docs(3L -> "alpha", 4L -> "gamma"), "doc_id", "text")
    assert(replay.count() == 0L)
    assert(t.read().get.count() == 3L)
  }

  test("embedding index: probe bucket-pruned, planted twin found, replay stable") {
    val s = spark
    import s.implicits._
    val root = tmp()
    val index = new BucketedStateTable(spark, s"$root/embidx",
      keyCols = Seq("bucket", "vec_id"), numBuckets = 16,
      bucketCols = Seq("bucket"), retentionFloorMillis = 0L)
    val e = Tables.embeddings(spark, sf0001)
    Dedup.indexEmbeddings(index, e, "vec_id", "embedding")
    val indexed = index.read().get.count()
    assert(indexed > 0L)

    val v0 = e.filter(col("vec_id") === 0L).select("embedding")
      .collect().head.getSeq[Float](0)
    val batch = Seq(800000L -> v0).toDF("vec_id", "embedding")
    val pairs = Dedup.incrementalEmbeddingNearDups(index, batch,
      "vec_id", "embedding", threshold = 0.95)
    val got = pairs.select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((0L, 800000L)), s"planted twin not found: $got")

    // the one-bucket batch must not read the whole index
    val slice = index.readForKeys(
      graft.ops.Similarity.lshBuckets(
        batch.select(col("vec_id"), col("embedding").as("vec")), "vec", 12)
        .select("bucket"),
      index.read().get.limit(0))
    val bucketsRead = slice.inputFiles
      .flatMap(graft.pipeline.StateManifest.bucketOf).distinct
    val bucketsAll = index.read().get.inputFiles
      .flatMap(graft.pipeline.StateManifest.bucketOf).distinct
    assert(bucketsRead.length < bucketsAll.length,
      s"probe read ${bucketsRead.length}/${bucketsAll.length} buckets")

    // replay: identical pairs, index unchanged
    val n1 = index.read().get.count()
    val replay = Dedup.incrementalEmbeddingNearDups(index, batch,
      "vec_id", "embedding", threshold = 0.95)
    assert(replay.select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == got)
    assert(index.read().get.count() == n1)
  }

  test("near-dup index: probe is bucket-pruned, replay re-emits identical pairs, index stable") {
    val s = spark
    import s.implicits._
    val root = tmp()
    val index = new BucketedStateTable(spark, s"$root/index",
      keyCols = Seq("band", "band_hash", "doc_id"), numBuckets = 32,
      bucketCols = Seq("band", "band_hash"), retentionFloorMillis = 0L)
    val corpus = Tables.documents(spark, sf0001).select("doc_id", "text")
    Dedup.indexNearDups(index, corpus, "doc_id", "text")
    val indexed = index.read().get.count()
    assert(indexed > 0L)

    // batch: one near-dup of doc 0 plus one unrelated fresh doc
    val d0 = corpus.filter(col("doc_id") === 0L).select("text")
      .collect().head.getString(0)
    val batch = docs(100000L -> (d0 + " zz yy xx"),
      100001L -> "completely unrelated fresh content never seen before")
    val pairs = Dedup.incrementalNearDups(index, corpus, batch,
      "doc_id", "text", minJaccard = 0.8)
    val got = pairs.select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((0L, 100000L)), s"planted near-dup not found: $got")
    assert(!got.exists(p => p._1 == 100001L || p._2 == 100001L))

    // probe read a strict subset of buckets (2 docs × 16 bands = ≤32
    // band keys, but the seeded index populates ~all 32 buckets from
    // hundreds of docs — the probe must NOT read them all)… evidence:
    val banded = Dedup.bandedSignatures(batch, "doc_id", "text", 3, 16, 4)
    val probe = banded.select(col("band"), col("band_hash"))
    val slice = index.readForKeys(probe, index.read().get.limit(0))
    val bucketsRead = slice.inputFiles
      .flatMap(graft.pipeline.StateManifest.bucketOf).distinct
    assert(bucketsRead.length < 32, s"probe read ${bucketsRead.length}/32 buckets")

    // replay: same pairs, index row count unchanged
    val afterFirst = index.read().get.count()
    val replay = Dedup.incrementalNearDups(index, corpus, batch,
      "doc_id", "text", minJaccard = 0.8)
    val got2 = replay.select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got2 == got)
    assert(index.read().get.count() == afterFirst)
  }

  test("bucketCols narrower than the key define the layout and are guarded") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    val t = new BucketedStateTable(spark, s"$dir/ix",
      keyCols = Seq("k1", "k2"), numBuckets = 8, bucketCols = Seq("k1"))
    t.merge(Seq(("a", 1L, "x"), ("a", 2L, "y")).toDF("k1", "k2", "v"),
      keys = Seq("k1", "k2"))
    // two rows share bucket col k1 but are distinct keys — both live
    assert(t.read().get.count() == 2L)
    // probing by k1 alone finds both
    val probe = Seq(Tuple1("a")).toDF("k1")
    assert(t.readForKeys(probe, t.read().get.limit(0)).count() == 2L)
    // a differently-bucketed instance over the same path is refused
    val wrong = new BucketedStateTable(spark, s"$dir/ix",
      keyCols = Seq("k1", "k2"), numBuckets = 8)
    val ex = intercept[IllegalArgumentException] {
      wrong.merge(Seq(("b", 3L, "z")).toDF("k1", "k2", "v"), keys = Seq("k1", "k2"))
    }
    assert(ex.getMessage.contains("bucketed by"))
  }

  test("readForKeys returns the empty shape for an unseeded table") {
    val t = state(tmp())
    val probe = docs(1L -> "x")
      .select(graft.ops.TextAnalysis.fingerprint(col("text")).as("content_hash"),
        lit(0L).as("first_id"))
    assert(t.readForKeys(probe, probe).count() == 0L)
  }
}
