package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** N× corpus builder for scale curves: `copies` divergent copies of the
  * base `documents`/`embeddings` tables, written once so every leg of a
  * curve reads the same physical layout.
  *  - doc_id / vec_id remap by a 10 M stride per copy (clear of every
  *    planted-twin offset the queries use); a base id at or past the
  *    stride fails the build, since its copies would collide;
  *  - document text gets a per-copy token salt (every token suffixed
  *    `_c<i>`), so shingle/gram/minhash keys are copy-disjoint — without
  *    it every doc has N-1 exact twins and candidate PAIRS grow N²
  *    by data construction, measuring the corpus, not the engine;
  *  - embeddings circular-shift by the copy index (norm-preserving,
  *    near-orthogonal for these synthetic vectors), copy-localizing
  *    near-dup matches the same way.
  * The 1× leg is `copies = 1`: copy 0 of the SAME transformation (not
  * the raw base table), so two legs differ only in cardinality.
  *
  * A curve is two [[Bench]] partial runs, one per leg:
  * `sbt "runMain graft.ScaleProbe <srcDir> <outDir> <copies>"`, then
  * `SPARK_GRAFT_SF_DIR=<outDir> SPARK_GRAFT_BENCH_ONLY=<keys>
  * sbt "runMain graft.Bench"`, which writes `BENCH_ONLY.json`; the
  * per-key `min` and `resources` of the two records divide into the
  * curve (`tools/scale_curve.py`, recipe in SCALE.md).
  */
object ScaleProbe {

  val Stride = 10000000L

  /** Materialize `copies` divergent copies of documents + embeddings
    * from `srcDir` into `outDir` (see the object doc for the divergence
    * rules). */
  def materialize(spark: SparkSession, srcDir: String, outDir: String,
      copies: Int): Unit = {
    val docs = Tables.documents(spark, srcDir)
    val embs = Tables.embeddings(spark, srcDir)
    Seq(docs -> "doc_id", embs -> "vec_id").foreach { case (df, id) =>
      val r = df.agg(min(col(id)).cast("long"), max(col(id)).cast("long")).head()
      require(r.isNullAt(0) || (r.getLong(0) >= 0L && r.getLong(1) < Stride),
        s"$id maximum ${r.get(1)} (minimum ${r.get(0)}) is outside [0, $Stride): " +
          "copies offset by the id stride would collide")
    }
    val dims = embs.selectExpr("size(embedding) d").limit(1).collect()(0).getInt(0)
    val docCopies = (0 until copies).map { i =>
      docs.select(
        (col("doc_id") + lit(i * Stride)).as("doc_id"),
        regexp_replace(col("text"), "(\\S+)", "$1_c" + i).as("text"),
        col("lang"), col("source"))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }.reduce(_.unionByName(_))
    val embCopies = (0 until copies).map { i =>
      val s = i % dims
      val shifted =
        if (s == 0) col("embedding")
        else concat(
          slice(col("embedding"), s + 1, dims - s),
          slice(col("embedding"), 1, s))
      embs.select(
        (col("vec_id") + lit(i * Stride)).as("vec_id"),
        shifted.as("embedding"), col("label"))
    }.reduce(_.unionByName(_))
    docCopies.write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    embCopies.write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: ScaleProbe <srcDir> <outDir> <copies>")
    val copies = args(2).toInt
    require(copies >= 1, s"copies must be >= 1, got $copies")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    Tables.configure(spark)
    spark.sparkContext.setLogLevel("ERROR")
    try materialize(spark, args(0), args(1), copies)
    finally spark.stop()
  }
}
