package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.BucketedStateTable

/** Test helpers for the bucket-file layout of a
  * [[graft.pipeline.BucketedStateTable]]. */
object StateLayouts {

  /** A headers or reporting table, keyed by record as
    * [[graft.pipeline.ReportingRunner]] builds it, in 8 buckets. */
  def records(spark: SparkSession, path: String): BucketedStateTable =
    new BucketedStateTable(spark, path, Seq("record_identifier"), numBuckets = 8)

  /** The runs (checkpoint) table, one bucket keyed by run id as
    * [[graft.pipeline.ReportingRunner]] builds it. */
  def runs(spark: SparkSession, path: String): BucketedStateTable =
    new BucketedStateTable(spark, path, Seq("id"), numBuckets = 1)

  /** `df` with a `pad` column of `kb` × 1,024 pseudo-random hex digits
    * a row, derived from column `key`: about `kb` KB a row on disk and
    * in memory, so that a table of a few hundred rows is past the bound
    * where commits pack and keeps one file per bucket. */
  def wide(df: DataFrame, key: String = "k", kb: Int = 2): DataFrame =
    df.withColumn("pad", concat((0 until kb * 8).map(i =>
      sha2(concat(col(key).cast("string"), lit(s"#$i")), 512)): _*))
}
