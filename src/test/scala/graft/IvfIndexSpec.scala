package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Similarity
import graft.pipeline.BucketedStateTable
import graft.streaming.ForeachBatch

/** Persistent IVF index: probe must read only the probed centroids'
  * buckets, results must match the in-memory ivfTopK on identical
  * centroids, incremental ingest must surface immediately, and replayed
  * ingest must be a no-op. */
class IvfIndexSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft-ivfspec").toString

  test("probe is bucket-pruned, matches ivfTopK, incremental batch surfaces, replay is a no-op") {
    val e = Tables.embeddings(spark, sf0001)
    val c = e.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
    val q = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val cents = Similarity.sampleCentroids(c, "c_id", "c_vec", 16)
    val index = new BucketedStateTable(spark, s"${tmp()}/index",
      keyCols = Seq("centroid_id", "vec_id"), numBuckets = 16,
      bucketCols = Seq("centroid_id"), retentionFloorMillis = 0L)
    Similarity.indexIvf(index, c, "c_id", "c_vec", cents)

    // parity: persistent probe == in-memory ivfTopK on the same geometry
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2),
        math.round(r.getDouble(3) * 1e4))
    val fromIndex = Similarity.probeIvf(index, q, "q_id", "q_vec", cents,
      k = 3, nProbe = 4).collect().map(key).toSet
    val inMemory = Similarity.ivfTopK(q, c, "q_id", "q_vec", "c_id", "c_vec",
      k = 3, nCentroids = 16, nProbe = 4).collect().map(key).toSet
    assert(fromIndex == inMemory,
      s"index probe diverged: ${fromIndex.diff(inMemory)} vs ${inMemory.diff(fromIndex)}")

    // bucket pruning: the nProbe=1 slice reads a strict subset of the
    // populated bucket directories
    val probeKeys = Similarity.probeIvf(index, q.limit(1), "q_id", "q_vec",
      cents, k = 1, nProbe = 1) // forces the read; evidence via readForKeys:
    probeKeys.collect()
    val oneCent = spark.range(1)
      .select(lit(0L).as("centroid_id"))
    val slice = index.readForKeys(oneCent, index.read().get.limit(0))
    val bucketsRead = slice.inputFiles
      .flatMap(graft.pipeline.StateManifest.bucketOf).distinct
    val bucketsAll = index.read().get.inputFiles
      .flatMap(graft.pipeline.StateManifest.bucketOf).distinct
    assert(bucketsRead.length < bucketsAll.length,
      s"probe read ${bucketsRead.length}/${bucketsAll.length} buckets")

    // incremental ingest surfaces: an exact twin of vec 0 must appear in
    // vec 0's top-k right behind itself
    val batch = c.filter(col("c_id") === 0L)
      .select(lit(900000L).as("c_id"), col("c_vec"))
    Similarity.indexIvf(index, batch, "c_id", "c_vec", cents)
    val after = Similarity.probeIvf(index,
      q.filter(col("q_id") === 0L), "q_id", "q_vec", cents, k = 3, nProbe = 4)
      .orderBy("rank").collect()
    assert(after(0).getLong(2) == 0L && after(1).getLong(2) == 900000L,
      s"twin not at rank 2: ${after.mkString(";")}")

    // replay: same batch again — keyed merge, index row count unchanged
    val n = index.read().get.count()
    Similarity.indexIvf(index, batch, "c_id", "c_vec", cents)
    assert(index.read().get.count() == n)
  }

  test("recluster: index moves to new geometry in place, probes match a fresh build") {
    val e = Tables.embeddings(spark, sf0001)
    val c = e.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
    val q = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    // index under a deliberately poor 2-centroid geometry, then
    // recluster in place onto the 16-centroid geometry
    val poor = Similarity.sampleCentroids(c, "c_id", "c_vec", 2)
    val good = Similarity.sampleCentroids(c, "c_id", "c_vec", 16)
    val root = tmp()
    val index = new BucketedStateTable(spark, s"$root/index",
      keyCols = Seq("centroid_id", "vec_id"), numBuckets = 16,
      bucketCols = Seq("centroid_id"), retentionFloorMillis = 60_000L)
    Similarity.indexIvf(index, c, "c_id", "c_vec", poor)
    val beforeCommits = index.commits()
    val n = index.read().get.count()

    Similarity.reclusterIvf(index, good)

    // same vectors, new lists: row count preserved, assignments spread
    assert(index.read().get.count() == n)
    assert(index.read().get.select("centroid_id").distinct().count() > 2L)
    // probe parity with an index built fresh under the same geometry
    val fresh = new BucketedStateTable(spark, s"$root/fresh",
      keyCols = Seq("centroid_id", "vec_id"), numBuckets = 16,
      bucketCols = Seq("centroid_id"), retentionFloorMillis = 0L)
    Similarity.indexIvf(fresh, c, "c_id", "c_vec", good)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2),
        math.round(r.getDouble(3) * 1e4))
    val reclustered = Similarity.probeIvf(index, q, "q_id", "q_vec", good,
      k = 3, nProbe = 4).collect().map(key).toSet
    val rebuilt = Similarity.probeIvf(fresh, q, "q_id", "q_vec", good,
      k = 3, nProbe = 4).collect().map(key).toSet
    assert(reclustered == rebuilt,
      s"diverged: ${reclustered.diff(rebuilt)} vs ${rebuilt.diff(reclustered)}")
    // a normal commit: the pre-recluster snapshot is still time-travelable
    assert(index.readAt(beforeCommits.last).get.count() == n)
  }

  test("streaming ingest: vectors searchable after their micro-batch; replayed batch is a no-op") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val root = tmp()
    val e = Tables.embeddings(spark, sf0001)
    val c = e.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
    val cents = Similarity.sampleCentroids(c, "c_id", "c_vec", 16)
    val index = new BucketedStateTable(spark, s"$root/index",
      keyCols = Seq("centroid_id", "vec_id"), numBuckets = 16,
      bucketCols = Seq("centroid_id"), retentionFloorMillis = 0L)
    Similarity.indexIvf(index, c, "c_id", "c_vec", cents)

    val v0 = c.filter(col("c_id") === 0L).select("c_vec")
      .collect().head.getSeq[Float](0)
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Seq[Float])]
    val ingest: (DataFrame, Long) => Unit = (b, _) =>
      Similarity.indexIvf(index, b, "vec_id", "embedding", cents)
    val q = ForeachBatch.start(in.toDF().toDF("vec_id", "embedding"), s"$root/ck",
      org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))(ingest)
    try {
      in.addData(910000L -> v0) // exact twin of vec 0, streamed in
      q.processAllAvailable()
      val queries = e.filter(col("vec_id") === 0L)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val top = Similarity.probeIvf(index, queries, "q_id", "q_vec", cents,
        k = 2, nProbe = 4).orderBy("rank").collect()
      assert(top(0).getLong(2) == 0L && top(1).getLong(2) == 910000L,
        s"streamed twin not searchable: ${top.mkString(";")}")
    } finally q.stop()

    // replay the same batch through the stream's body: keyed merge,
    // count unchanged
    val n = index.read().get.count()
    ingest(Seq(910000L -> v0).toDF("vec_id", "embedding"), 0L)
    assert(index.read().get.count() == n)
  }

  test("reclusterIvf REFUSES dimension-mismatched centroids instead of silently committing an empty index") {
    val s = spark
    import s.implicits._
    val e = Tables.embeddings(spark, sf0001)
    val c = e.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
    val cents = Similarity.sampleCentroids(c, "c_id", "c_vec", 8)
    val index = new BucketedStateTable(spark, s"${tmp()}/refuse",
      keyCols = Seq("centroid_id", "vec_id"), numBuckets = 8,
      bucketCols = Seq("centroid_id"), retentionFloorMillis = 0L)
    Similarity.indexIvf(index, c, "c_id", "c_vec", cents)
    val before = index.read().get.count()
    assert(before > 0)
    // centroids from a different (half-dimension) model: every cosine
    // is null, every row would drop — the rewrite must refuse
    val wrongDim = cents.map(_.take(cents.head.length / 2))
    val err = intercept[IllegalArgumentException] {
      Similarity.reclusterIvf(index, wrongDim)
    }
    assert(err.getMessage.contains("incompatible"), err.getMessage)
    assert(index.read().get.count() == before,
      "a refused recluster must leave the index untouched")
  }

  test("probeIvf accepts query columns named vec/vec_id-adjacent (reserved internal names)") {
    val e = Tables.embeddings(spark, sf0001)
    val c = e.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
    val cents = Similarity.sampleCentroids(c, "c_id", "c_vec", 8)
    val index = new BucketedStateTable(spark, s"${tmp()}/names",
      keyCols = Seq("centroid_id", "vec_id"), numBuckets = 8,
      bucketCols = Seq("centroid_id"), retentionFloorMillis = 0L)
    Similarity.indexIvf(index, c, "c_id", "c_vec", cents)
    // the natural naming: the query frame uses the SAME column names
    // the index stores — pre-fix this threw AMBIGUOUS_REFERENCE
    val q = e.filter(col("vec_id") < 4)
      .select(col("vec_id").as("q_id"), col("embedding").as("vec"))
    val got = Similarity.probeIvf(index, q, "q_id", "vec", cents,
      k = 1, nProbe = 4)
    assert(got.count() == 4)
    // and qId = vec_id refuses loudly (the output carries both)
    val err = intercept[IllegalArgumentException] {
      Similarity.probeIvf(index,
        q.withColumnRenamed("q_id", "vec_id"), "vec_id", "vec", cents,
        k = 1, nProbe = 4)
    }
    assert(err.getMessage.contains("vec_id"), err.getMessage)
  }
}
