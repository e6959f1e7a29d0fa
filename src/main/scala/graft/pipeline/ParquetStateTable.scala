package graft.pipeline

import org.apache.spark.sql.SparkSession

/** The runs (checkpoint) table's layout: a one-bucket
  * [[BucketedStateTable]] keyed by `id`, the table
  * [[HarvestPipeline]] keeps its checkpoints in
  * ([[BucketedStateTable.readLocal]] / [[BucketedStateTable.updateLocal]]).
  *
  * The name is kept only because the repo benchmark constructs the runs
  * table through it; a change to the benchmark renames it. Nothing here
  * is a second file layout: the versioned-snapshot protocol this class
  * once implemented is gone, and a state root still in that layout is
  * refused by [[ReportingRunner]]. */
class ParquetStateTable(spark: SparkSession, path: String)
  extends BucketedStateTable(spark, path, keyCols = Seq("id"), numBuckets = 1)
