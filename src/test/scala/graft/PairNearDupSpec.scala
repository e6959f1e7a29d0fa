package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Multimodal
import graft.pipeline.BucketedStateTable
import graft.streaming.{ForeachBatch, PairNearDupStream}

/** Incremental cross-modal pair dedup against a persistent banded
  * index ([[graft.ops.Multimodal.indexPairs]] /
  * [[graft.ops.Multimodal.incrementalPairNearDups]]): the probe must
  * agree with the batch conjunction over the union (parity), read ONLY
  * the buckets the batch's band keys hash into (pruning), and replay an
  * ingested batch as a no-op (at-least-once) — the same contract every
  * other incremental op proves in `IncrementalDedupSpec`, here for the
  * image-dHash × caption-cosine conjunction. */
class PairNearDupSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft-pairidx").toString

  /** One-hot caption embedding: distinct ids are orthogonal (cos 0),
    * shared slots are identical (cos 1) — closed-form conjunction
    * ground truth. */
  private def oneHot(i: Int, dim: Int = 40): Seq[Float] =
    Seq.tabulate(dim)(j => if (j == i) 1f else 0f)

  /** (id, dHash-by-construction, embedding slot) → pair rows whose
    * image hash is exactly `v` (plantedImage round-trip). */
  private def pairsDF(rows: (Long, Long, Int)*): DataFrame = pairsOf(40, rows)

  /** [[pairsDF]] with `dim`-wide embeddings. */
  private def pairsOf(dim: Int, rows: Seq[(Long, Long, Int)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.map { case (id, v, slot) =>
      (id, Multimodal.plantedImage(v), oneHot(slot, dim))
    }.toDF("pair_id", "payload", "embedding")
  }

  private def corpusV(i: Long): Long = i * 1000003L

  private def corpus16: DataFrame =
    pairsDF((0L until 16L).map(i => (i, corpusV(i), i.toInt)): _*)

  // batch: a re-encode+paraphrase twin of corpus 3 (hamming 1, cos 1 →
  // DUP), an image-only foil of corpus 5 (hamming 0, cos 0 → not a
  // dup), a caption-only foil of corpus 7 (cos 1, hamming 12 → not a
  // dup; its flipped bits all sit in band 0, so bands 1–3 still
  // candidate it and the Hamming verify must reject), and an
  // intra-batch exact twin pair.
  private def batch5: DataFrame = pairsDF(
    (100000L, corpusV(3) ^ 1L, 3),
    (200000L, corpusV(5), 20),
    (300000L, corpusV(7) ^ 0xFF0FL, 7),
    (400000L, 0x0F0F0F0FL, 21),
    (400001L, 0x0F0F0F0FL, 21))

  private val batchIds = Seq(100000L, 200000L, 300000L, 400000L, 400001L)

  private def pairSet(df: DataFrame): Set[(Long, Long, Int, Double)] =
    df.select(col("a_id"), col("b_id"), col("hamming").cast("int"),
        round(col("cos_sim"), 4).cast("double"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .toSet

  private def newIndex(root: String, buckets: Int = 32) =
    new BucketedStateTable(spark, s"$root/pairidx",
      keyCols = Seq("band", "bh", "pair_id"), numBuckets = buckets,
      bucketCols = Seq("band", "bh"), retentionFloorMillis = 0L)

  test("incremental pairs == batch conjunction over the union; twin found, both foils rejected; replay is a no-op") {
    val index = newIndex(tmp())
    Multimodal.indexPairs(index, corpus16)
    assert(index.read().get.count() == 16L * 4) // one row per (pair, band)

    val got = pairSet(
      Multimodal.incrementalPairNearDups(index, batch5,
        maxHamming = 3, bands = 4, cosThreshold = 0.95))

    // parity: the oracle-checked batch conjunction over corpus ∪ batch,
    // restricted to pairs with at least one side in the batch
    val expected = pairSet(
      Multimodal.pairNearDups(spark, corpus16.unionByName(batch5),
          maxHamming = 3, bands = 4, cosThreshold = 0.95)
        .filter(col("a_id").isin(batchIds: _*) ||
          col("b_id").isin(batchIds: _*)))
    assert(got == expected, s"incremental $got != batch $expected")

    // planted truth: the conjunction dup and the intra-batch twin
    assert(got.contains((3L, 100000L, 1, 1.0)), s"twin missing: $got")
    assert(got.contains((400000L, 400001L, 0, 1.0)), s"intra twin missing: $got")
    // foils: image-only (cosine rejects) and caption-only (hamming rejects)
    assert(!got.exists(p => p._1 == 200000L || p._2 == 200000L), s"image-only foil leaked: $got")
    assert(!got.exists(p => p._1 == 300000L || p._2 == 300000L), s"caption-only foil leaked: $got")

    // the batch is now state; replaying it over the unchanged index
    // re-emits the same pairs and grows nothing (keyed merge)
    val n1 = index.read().get.count()
    assert(n1 == (16L + 5L) * 4)
    val replay = pairSet(
      Multimodal.incrementalPairNearDups(index, batch5,
        maxHamming = 3, bands = 4, cosThreshold = 0.95))
    assert(replay == got, s"replay $replay != first $got")
    assert(index.read().get.count() == n1)
  }

  test("probe reads only the batch's band buckets against a wide index") {
    val s = spark
    import s.implicits._
    val index = newIndex(tmp())
    // 64 pairs × 4 bands = 256 band keys → ~all 32 buckets populated;
    // 1,000-wide embeddings (~4 KB a row) put the index past the bound,
    // one file per bucket
    Multimodal.indexPairs(index,
      pairsOf(1000, (0L until 64L).map(i => (i, corpusV(i), (i % 32).toInt))))

    val bucketsAll = index.read().get.inputFiles
      .flatMap(graft.pipeline.StateManifest.bucketOf).distinct
    assert(bucketsAll.length > 8, s"seed too narrow: ${bucketsAll.length} buckets")

    // a one-pair batch probes exactly its 4 (band, bh) keys — derived
    // closed-form from the planted dHash (width 64/4 = 16 bits)
    val v = corpusV(3) ^ 1L
    val probe = (0 until 4).map(b => (b, (v >>> (b * 16)) & 0xFFFFL))
      .toDF("band", "bh")
    val bucketsRead = index.readForKeys(probe, index.read().get.limit(0))
      .inputFiles
      .flatMap(graft.pipeline.StateManifest.bucketOf).distinct
    assert(bucketsRead.length <= 4,
      s"probe read ${bucketsRead.length} buckets for 4 band keys")
    assert(bucketsRead.length < bucketsAll.length,
      s"probe read ${bucketsRead.length}/${bucketsAll.length} buckets")
  }

  test("streaming twin: cross-batch pair via the persistent index; replay leaves all state unchanged") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val root = tmp()
    val index = newIndex(root)
    val pairs = new BucketedStateTable(spark, s"$root/pairs",
      keyCols = Seq("a_id", "b_id"), numBuckets = 8,
      retentionFloorMillis = 0L)
    Multimodal.indexPairs(index, corpus16)

    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Array[Byte], Seq[Float])]
    val q = ForeachBatch.start(in.toDF().toDF("pair_id", "payload", "embedding"),
        s"$root/ck", org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L)) {
      (b, _) => PairNearDupStream.processBatch(b, index, pairs)
    }
    def stored(): Set[(Long, Long)] = pairs.read()
      .map(_.select("a_id", "b_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet)
      .getOrElse(Set.empty)
    try {
      // batch 1: re-encode+paraphrase twin of corpus 3
      in.addData((100000L, Multimodal.plantedImage(corpusV(3) ^ 1L), oneHot(3)))
      q.processAllAvailable()
      val after1 = stored()
      assert(after1.contains((3L, 100000L)), s"twin pair missing: $after1")

      // batch 2: twin of the STREAMED pair of batch 1 — only the
      // persistent index connects them (image 1 bit off its batch-1
      // twin, same caption)
      in.addData((100001L, Multimodal.plantedImage(corpusV(3)), oneHot(3)))
      q.processAllAvailable()
      val after2 = stored()
      assert(after2.contains((100000L, 100001L)),
        s"cross-batch pair missing: $after2")
    } finally q.stop()

    // replay batch 2 through the stream's body (the at-least-once
    // path): same pairs re-derived, no state growth anywhere
    val (ni, np) = (index.read().get.count(), pairs.read().get.count())
    val replayed = PairNearDupStream.processBatch(
      pairsDF((100001L, corpusV(3), 3)), index, pairs)
    val got = replayed.select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((100000L, 100001L)), s"replay lost the pair: $got")
    assert(index.read().get.count() == ni)
    assert(pairs.read().get.count() == np)
  }
}
