package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Test helpers for the bucket-file layout of a
  * [[graft.pipeline.BucketedStateTable]]. */
object StateLayouts {

  /** `df` with a `pad` column of `kb` × 1,024 pseudo-random hex digits
    * a row, derived from column `key`: about `kb` KB a row on disk and
    * in memory, so that a table of a few hundred rows is past the bound
    * where commits pack and keeps one file per bucket. */
  def wide(df: DataFrame, key: String = "k", kb: Int = 2): DataFrame =
    df.withColumn("pad", concat((0 until kb * 8).map(i =>
      sha2(concat(col(key).cast("string"), lit(s"#$i")), 512)): _*))
}
