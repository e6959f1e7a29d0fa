package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{BucketedStateTable, StateManifest}

/** Writes a table in the layout bucketed state tables had before their
  * bucket files went flat: Hadoop's output committer under
  * `df.write.partitionBy("__bucket")`, so `data/c00000001/__bucket=N/`
  * holds `part-*` files, checksums and a `_SUCCESS` marker per commit
  * directory, and the manifest's bucket pointers are bare commit ids. */
object LegacyLayout {
  def create(spark: SparkSession, root: String, rows: DataFrame,
      keyCols: Seq[String], numBuckets: Int): StateManifest = {
    val out = s"$root/data/c00000001"
    rows.withColumn(StateManifest.BucketCol,
        pmod(xxhash64(keyCols.map(col): _*), lit(numBuckets.toLong)).cast("int"))
      .repartition(col(StateManifest.BucketCol))
      .sortWithinPartitions(StateManifest.BucketCol, keyCols: _*)
      .write.partitionBy(StateManifest.BucketCol).parquet(out)
    val buckets = new java.io.File(out).listFiles().toSeq
      .flatMap(f => StateManifest.bucketOf(f.getName)).map(_ -> 1L).toMap
    val m = StateManifest(1L, Some(numBuckets), Some(keyCols), Some(keyCols),
      Some(3), Some(0L), schemaJson = Some(rows.schema.json), buckets = buckets)
    val manifest = new java.io.File(s"$root/_commits/c00000001.txt")
    manifest.getParentFile.mkdirs()
    Files.write(manifest.toPath, m.render.getBytes("UTF-8"))
    m
  }
}

/** A table committed in the legacy directory layout keeps working under
  * the flat writer: it reads, takes commits that leave a mixed manifest,
  * serves the change feed across the boundary, and relayouts, exports
  * and resolves its snapshot paths. */
class LegacyLayoutSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft-legacy").toString

  private def legacyTable(dir: String, buckets: Int = 8): BucketedStateTable = {
    val s = spark
    import s.implicits._
    LegacyLayout.create(spark, s"$dir/t",
      (0 until 200).map(i => (f"k$i%04d", i.toLong)).toDF("k", "v"), Seq("k"), buckets)
    new BucketedStateTable(spark, s"$dir/t", keyCols = Seq("k"),
      numBuckets = buckets, keepCommits = 5, retentionFloorMillis = 0L)
  }

  private def rows(df: DataFrame): Set[(String, Long)] =
    df.select("k", "v").collect().map(r => r.getString(0) -> r.getLong(1)).toSet

  private val seed = (0 until 200).map(i => f"k$i%04d" -> i.toLong).toSet

  test("a legacy-layout table reads, merges into a mixed manifest and diffs across the boundary") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    val t = legacyTable(dir)
    assert(rows(t.read().get) == seed)
    assert(rows(spark.read.format("graft-state").load(s"$dir/t")) == seed)

    t.merge(Seq(("k0003", -3L), ("new1", 1L)).toDF("k", "v"), keys = Seq("k"))
    val conf = spark.sparkContext.hadoopConfiguration
    val m = StateManifest.snapshot(conf, s"$dir/t").get
    val written = t.lastCommit.get.bucketsWritten.toSet
    // the rewritten buckets point at files, the rest still at directories
    assert(m.files.keySet == written && written.nonEmpty)
    assert(m.buckets.keySet -- written == m.buckets.collect { case (b, 1L) => b }.toSet)
    assert((m.buckets.keySet -- written).nonEmpty, "the manifest must stay mixed")
    assert(StateManifest.parse(m.render) == m)

    val after = seed - ("k0003" -> 3L) + ("k0003" -> -3L) + ("new1" -> 1L)
    assert(rows(t.read().get) == after)
    assert(rows(spark.read.format("graft-state").load(s"$dir/t")) == after)
    assert(rows(t.readAt(1L).get) == seed)
    assert(t.changesBetween(1L, m.commitId).as[(String, String, Long)].collect().toSet ==
      Set(("update_preimage", "k0003", 3L), ("update_postimage", "k0003", -3L),
        ("insert", "new1", 1L)))
    // the maintenance view reads both kinds of bucket
    val stats = t.stats().collect()
    assert(stats.map(_.getAs[Long]("n_rows")).sum == after.size.toLong)
  }

  test("a legacy-layout table rebuckets, exports and resolves its snapshot paths") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    val t = legacyTable(dir)
    t.merge(Seq(("k0007", -7L)).toDF("k", "v"), keys = Seq("k"))
    val conf = spark.sparkContext.hadoopConfiguration
    val m = StateManifest.snapshot(conf, s"$dir/t").get
    // a legacy bucket resolves to its directory, a rewritten one to its file
    val paths = BucketedStateTable.snapshotPaths(conf, s"$dir/t")
    assert(paths.map(p => StateManifest.bucketOf(p).get) == m.buckets.keys.toSeq.sorted)
    paths.foreach { p =>
      val f = new java.io.File(new Path(p).toUri.getPath)
      assert(if (m.files.contains(StateManifest.bucketOf(p).get)) f.isFile else f.isDirectory, p)
    }
    val after = seed - ("k0007" -> 7L) + ("k0007" -> -7L)
    assert(t.exportTo(s"$dir/export") == after.size.toLong)
    assert(rows(spark.read.parquet(s"$dir/export")) == after)

    val t16 = t.rebucket(16)
    assert(rows(t16.read().get) == after)
    val m16 = StateManifest.snapshot(conf, s"$dir/t").get
    assert(m16.numBuckets.contains(16) && m16.files.keySet == m16.buckets.keySet)
  }

  test("a legacy bucket directory pruned under the reader surfaces from the driver listing") {
    val dir = tmp()
    val t = legacyTable(dir)
    val victim = new java.io.File(s"$dir/t/data/c00000001")
      .listFiles().filter(_.getName.startsWith("__bucket=")).head
    org.apache.commons.io.FileUtils.deleteDirectory(victim)
    intercept[java.io.FileNotFoundException](t.read())
  }
}
