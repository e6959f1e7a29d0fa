package graft

import org.apache.spark.sql.functions._

/** The scale-probe corpus builder (graft.ScaleProbe): N-fold
  * materialization must multiply cardinality exactly, keep copy id
  * spaces disjoint, and diverge copy CONTENT (token salt / circular
  * shift) so candidate pairs stay copy-local — without that, the probe
  * would measure an N^2 duplicate explosion in the data, not the
  * engine's scaling. */
class ScaleProbeSpec extends SparkSpec {

  test("materialize: 3x corpus has 3x rows, disjoint ids, divergent copy content") {
    val out = java.nio.file.Files.createTempDirectory("graft-probespec-").toString
    ScaleProbe.materialize(spark, sf0001, out, copies = 3)
    val docs = spark.read.parquet(s"$out/documents.parquet")
    val embs = spark.read.parquet(s"$out/embeddings.parquet")
    val baseDocs = Tables.documents(spark, sf0001).count()
    val baseEmbs = Tables.embeddings(spark, sf0001).count()
    assert(docs.count() == 3 * baseDocs)
    assert(embs.count() == 3 * baseEmbs)

    // id spaces disjoint by the 10M stride
    assert(docs.select("doc_id").distinct().count() == 3 * baseDocs)
    assert(embs.select("vec_id").distinct().count() == 3 * baseEmbs)

    // copy content diverges: the token salt makes every copy's text
    // distinct, so EXACT text dups across copies are zero
    val copyTexts = docs
      .withColumn("copy", (col("doc_id") / 10000000L).cast("long"))
      .withColumn("orig", col("doc_id") % 10000000L)
      .groupBy("orig").agg(countDistinct("text").as("n"))
    assert(copyTexts.filter(col("n") =!= 3).count() == 0,
      "every original must have 3 distinct copy texts")

    // embeddings circular-shift: norm preserved, content shifted
    val dims = embs.selectExpr("size(embedding) d").distinct().collect()
    assert(dims.length == 1, "all copies keep the embedding dimension")
    val pair = embs
      .withColumn("copy", (col("vec_id") / 10000000L).cast("long"))
      .withColumn("orig", col("vec_id") % 10000000L)
      .filter(col("orig") === 0 && col("copy").isin(0L, 1L))
      .select("copy", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(pair(0) != pair(1), "copy 1 must be shifted")
    assert(pair(0).toSet == pair(1).toSet, "shift permutes, never alters values")

    // a base id at the stride would collide with copy 1: refused, naming
    // the column and its maximum
    val wide = java.nio.file.Files.createTempDirectory("graft-probespec-").toString
    val baseMax = Tables.documents(spark, sf0001).agg(max("doc_id")).head().getLong(0)
    spark.read.parquet(s"$sf0001/documents.parquet")
      .withColumn("doc_id", col("doc_id") + ScaleProbe.Stride)
      .write.parquet(s"$wide/documents.parquet")
    spark.read.parquet(s"$sf0001/embeddings.parquet")
      .write.parquet(s"$wide/embeddings.parquet")
    val err = intercept[IllegalArgumentException] {
      ScaleProbe.materialize(spark, wide, s"$wide/out", copies = 2)
    }
    assert(err.getMessage.contains(s"doc_id maximum ${baseMax + ScaleProbe.Stride}"), err.getMessage)
  }
}
