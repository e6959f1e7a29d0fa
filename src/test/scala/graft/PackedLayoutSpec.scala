package graft

import java.nio.file.Files

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.EqualTo

import graft.operators.StateOps
import graft.pipeline.{BucketedStateTable, StateManifest}

/** The packed layout: a commit to a small table writes one file per
  * write task holding many buckets, a table past the bound keeps one
  * file per bucket, and every read — bucket subsets, zone- and
  * hash-pruned SQL, the change feed, `stats()` — equals
  * [[StateOps.mergeByKey]] / [[StateOps.deleteIfUnmodified]] over plain
  * frames on either layout and across the change from one to the
  * other. A table crosses the bound by the bytes it holds: the spec's
  * wide rows carry a ~2 KB payload, the narrow ones a few bytes, and
  * nothing else differs. */
class PackedLayoutSpec extends SparkSpec {

  private val Buckets = 64

  private def tmp(): String =
    Files.createTempDirectory("graft-packed").toString

  private def table(path: String, statsCols: Seq[String] = Nil) =
    new BucketedStateTable(spark, path, keyCols = Seq("k"), numBuckets = Buckets,
      keepCommits = 50, retentionFloorMillis = 60_000L, statsCols = statsCols)

  private val schema = new org.apache.spark.sql.types.StructType()
    .add("k", "string").add("v", "long").add("pad", "string")

  private def frame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** The bucket of each of `keys`, in one job. */
  private def bucketsOf(keys: Seq[String]): Map[String, Int] = {
    val s = spark
    import s.implicits._
    keys.toDF("k").select(col("k"), pmod(xxhash64(col("k")), lit(Buckets.toLong)).cast("int"))
      .as[(String, Int)].collect().toMap
  }

  private def byBucket(rows: Seq[Row]): Map[Int, Seq[Row]] = {
    val of = bucketsOf(rows.map(_.getString(0)))
    rows.groupBy(r => of(r.getString(0)))
  }

  private def rowsOf(df: DataFrame): Set[(String, Long, String)] =
    df.select("k", "v", "pad").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet

  private def manifest(path: String): StateManifest =
    StateManifest.snapshot(spark.sparkContext.hadoopConfiguration, path).get

  /** Buckets per data file the newest manifest names. */
  private def bucketsPerFile(path: String): Seq[Int] = {
    val m = manifest(path)
    m.files.toSeq.groupBy { case (b, f) => (m.buckets(b), f.name) }.values.map(_.size).toSeq
  }

  /** A payload of `n` pseudo-random letters: random enough that parquet
    * does not compress it away. */
  private def payload(rnd: scala.util.Random, n: Int): String =
    Iterator.fill(n)(('a' + rnd.nextInt(26)).toChar).mkString

  /** The seeded mutation sequence both tables run: a seed of 1,000
    * narrow rows, a merge giving every row a new value and a
    * `padWidth` payload, then merges of 20 rows (updates and new keys)
    * and unmodified-row deletes of 12 rows, 3 of them stale (counted,
    * not removed). */
  private def steps(padWidth: Int): Seq[Either[Seq[Row], Seq[Row]]] = {
    val rnd = new scala.util.Random(8)
    def row(k: String, v: Long) = Row(k, v, payload(rnd, padWidth))
    val seed = (0 until 1000).map(i => Row(f"k$i%05d", i.toLong, payload(rnd, 2)))
    val all = seed.map(r => row(r.getString(0), r.getLong(1) + 1000000L))
    var known = seed.map(_.getString(0)).toIndexedSeq
    var next = 1000
    val merges = (1 to 3).map { _ =>
      val upd = (0 until 20).map { i =>
        if (i % 4 == 0) { next += 1; row(f"k$next%05d", -next.toLong) }
        else row(known(rnd.nextInt(known.size)), rnd.nextInt(1000000).toLong)
      }.groupBy(_.getString(0)).values.map(_.head).toSeq
      known = (known ++ upd.map(_.getString(0))).distinct
      upd
    }
    Seq(Left(seed), Left(all), Left(merges(0)), Right(Nil), Left(merges(1)), Right(Nil),
      Left(merges(2)))
  }

  /** `n` rows of `state` to delete, the last `stale` of them with a
    * value the table no longer holds. */
  private def toDelete(state: Seq[Row], n: Int, stale: Int, salt: Int): Seq[Row] = {
    val picked = new scala.util.Random(salt).shuffle(state).take(n)
    picked.zipWithIndex.map { case (r, i) =>
      if (i >= n - stale) Row(r.getString(0), r.getLong(1) + 7, r.getString(2)) else r
    }
  }

  /** Runs the sequence on a table and on the reference, checking every
    * read after every step; returns the table, its commits and the
    * layout each commit wrote. */
  private def differential(padWidth: Int, statsCols: Seq[String]) = {
    val path = s"${tmp()}/t"
    val t = table(path, statsCols)
    var ref = Seq.empty[Row]
    val layouts = Seq.newBuilder[Boolean]
    val snaps = Seq.newBuilder[(Long, Set[(String, Long, String)])]
    steps(padWidth).zipWithIndex.foreach { case (step, i) =>
      step match {
        case Left(upd) =>
          t.merge(frame(upd), keys = Seq("k"))
          ref = StateOps.mergeByKey(frame(ref), frame(upd), Seq("k")).collect().toSeq
        case Right(_) =>
          val del = toDelete(ref, 12, 3, i)
          val res = StateOps.deleteIfUnmodified(frame(ref), frame(del))
          val expected = res.notRemoved.count()
          ref = res.newState.collect().toSeq
          assert(t.deleteWhereUnmodified(frame(del)) == expected, s"step $i")
      }
      layouts += t.lastCommit.get.packed
      snaps += t.commits().last -> rowsOf(frame(ref))
      checkReads(t, path, ref, i)
    }
    (t, path, ref, layouts.result(), snaps.result())
  }

  private def checkReads(t: BucketedStateTable, path: String, ref: Seq[Row], step: Int): Unit = {
    val s = spark
    import s.implicits._
    val want = rowsOf(frame(ref))
    assert(rowsOf(t.read().get) == want, s"read after step $step")
    val byBucket = this.byBucket(ref)
    // a bucket subset reads exactly its buckets' rows, even from a file
    // that holds other buckets too
    val probe = ref.map(_.getString(0)).sorted.take(3) :+ "absent"
    val (slice, probed) = t.readForKeysProbed(probe.toDF("k"), frame(Nil))
    assert(rowsOf(slice) == probed.flatMap(b => byBucket.getOrElse(b, Nil))
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet, s"readForKeys after step $step")
    val key = ref(ref.size / 2).getString(0)
    assert(rowsOf(t.readWhere(Seq(EqualTo("k", key))).get) ==
      rowsOf(frame(byBucket(bucketsOf(Seq(key))(key)))), s"readWhere after step $step")
    // the hash-pruned SQL scan plans one bucket's file, which may hold
    // others; the scan's residual filter keeps the answer exact
    val sql = spark.read.format("graft-state").load(path).where(col("k") === key)
    assert(rowsOf(sql) == want.filter(_._1 == key), s"SQL point read after step $step")
    // new keys carry negative values: with zone maps on `v` the range
    // prunes to the buckets holding them
    val range = spark.read.format("graft-state").load(path).where(col("v") < 0)
    assert(rowsOf(range) == want.filter(_._2 < 0), s"SQL range read after step $step")
    val stats = t.stats().select("bucket", "n_rows").as[(Int, Long)].collect().toMap
    assert(stats == byBucket.map { case (b, rs) => b -> rs.size.toLong },
      s"stats() after step $step")
  }

  private def expectedChanges(a: Set[(String, Long, String)], b: Set[(String, Long, String)]) = {
    val am = a.map(r => r._1 -> r).toMap
    val bm = b.map(r => r._1 -> r).toMap
    (am.keySet ++ bm.keySet).toSeq.flatMap { k =>
      (am.get(k), bm.get(k)) match {
        case (None, Some(r)) => Seq(("insert", r))
        case (Some(r), None) => Seq(("delete", r))
        case (Some(x), Some(y)) if x != y => Seq(("update_preimage", x), ("update_postimage", y))
        case _ => Nil
      }
    }.toSet
  }

  private def changes(t: BucketedStateTable, from: Long, to: Long) =
    t.changesBetween(from, to).collect().map(r =>
      (r.getString(0), (r.getString(1), r.getLong(2), r.getString(3)))).toSet

  /** The feed's chunked snapshot bootstrap from `commit`: every row
    * emitted, duplicates kept. */
  private def bootstrap(path: String, commit: Long): Seq[(String, Long, String)] = {
    val batches = TrieMap.empty[Long, Seq[(String, Long, String)]]
    val q = spark.readStream.format("graft-state-changes")
      .option("startingCommit", commit)
      .option("initialSnapshot", "true")
      .option("maxSnapshotBucketsPerTrigger", "5")
      .load(path)
      .writeStream
      .option("checkpointLocation", s"${tmp()}/ck")
      .foreachBatch { (df: DataFrame, id: Long) =>
        batches.put(id, df.collect().toSeq.map(r =>
          (r.getAs[String]("k"), r.getAs[Long]("v"), r.getAs[String]("pad"))))
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(batches.size > 1, "the bootstrap must run in chunks")
    batches.values.flatten.toSeq
  }

  private def checkHistory(t: BucketedStateTable, path: String,
      snaps: Seq[(Long, Set[(String, Long, String)])]): Unit = {
    snaps.zip(snaps.tail).foreach { case ((a, ra), (b, rb)) =>
      assert(changes(t, a, b) == expectedChanges(ra, rb), s"changesBetween($a, $b)")
    }
    val (first, r0) = snaps.head
    val (last, rn) = snaps.last
    assert(changes(t, first, last) == expectedChanges(r0, rn), s"changesBetween($first, $last)")
    val boot = bootstrap(path, last)
    assert(boot.size == boot.toSet.size, "the bootstrap emitted a row twice")
    assert(boot.toSet == rn)
  }

  test("differential: a packing table reads like StateOps over plain frames after every mutation") {
    val (t, path, ref, layouts, snaps) = differential(padWidth = 2, statsCols = Nil)
    assert(layouts.forall(identity), s"every commit of the narrow table packs: $layouts")
    assert(bucketsPerFile(path).max > 1)
    checkHistory(t, path, snaps)
    // zone maps retrofitted onto packed files: per bucket, exact counts
    assert(t.analyzeStats(Seq("v")) == manifest(path).buckets.size)
    val z = manifest(path).zoneStats
    byBucket(ref).foreach { case (b, rs) =>
      assert(z(b).rows == rs.size, s"bucket $b")
      assert(z(b).cols("v").min.contains(rs.map(_.getLong(1)).min.toString), s"bucket $b")
      assert(z(b).cols("v").max.contains(rs.map(_.getLong(1)).max.toString), s"bucket $b")
    }
  }

  test("differential: a table past the bound reads like StateOps over plain frames, across the packed→per-bucket transition") {
    val (t, path, _, layouts, snaps) = differential(padWidth = 2000, statsCols = Seq("v"))
    // the narrow seed packs, and so does the merge that widens every
    // row (it rewrites every bucket either way); the first 20-row
    // merge finds the table past the bound and unpacks it
    assert(layouts.take(2) == Seq(true, true) && !layouts.drop(2).exists(identity),
      s"layouts: $layouts")
    assert(bucketsPerFile(path).forall(_ == 1))
    checkHistory(t, path, snaps)
  }

  test("a packing commit writes one file per write task; a table past the bound one file per dirty bucket") {
    val rnd = new scala.util.Random(3)
    val cores = spark.sparkContext.defaultParallelism
    def run(padWidth: Int) = {
      val path = s"${tmp()}/t"
      val t = table(path)
      t.merge(frame((0 until 1000).map(i => Row(f"k$i%05d", i.toLong, payload(rnd, padWidth)))),
        keys = Seq("k"))
      val seed = t.lastCommit.get
      t.merge(frame((7 until 1000 by 60).map(i =>
        Row(f"k$i%05d", -i.toLong, payload(rnd, padWidth)))), keys = Seq("k"))
      (seed, t.lastCommit.get, path)
    }
    val (packedSeed, packed, packedPath) = run(2)
    assert(packedSeed.packed && packedSeed.filesWritten <= cores, packedSeed)
    assert(packed.packed && packed.bucketsRead.size > cores)
    assert(packed.filesWritten <= cores, packed)
    assert(packed.bucketsWritten.toSet == manifest(packedPath).buckets.keySet, packed)
    // the creating commit measures its rows: ~2 KB rows do not pack
    val (wideSeed, wide, widePath) = run(2000)
    assert(!wideSeed.packed && wideSeed.filesWritten == wideSeed.bucketsWritten.size, wideSeed)
    assert(!wide.packed && wide.bucketsRead.size > cores)
    assert(wide.bucketsWritten == wide.bucketsRead, wide)
    assert(wide.filesWritten == wide.bucketsWritten.size, wide)
    val m = manifest(widePath)
    assert(wide.bucketsWritten.map(b => m.files(b).name).distinct.size == wide.bucketsWritten.size)
  }

  test("a 1-key merge or delete into a packed 1,024-bucket table writes at most one file per core") {
    val rnd = new scala.util.Random(4)
    val cores = spark.sparkContext.defaultParallelism
    val path = s"${tmp()}/t"
    val t = new BucketedStateTable(spark, path, keyCols = Seq("k"), numBuckets = 1024,
      retentionFloorMillis = 0L)
    val seed = (0 until 20000).map(i => Row(f"k$i%05d", i.toLong, payload(rnd, 2)))
    t.merge(frame(seed), keys = Seq("k"))
    assert(t.lastCommit.get.packed && bucketsPerFile(path).max > 1)
    t.merge(frame(Seq(Row("k00042", -42L, "x"))), keys = Seq("k"))
    val merged = t.lastCommit.get
    assert(merged.bucketsRead.size == 1 && merged.packed && merged.filesWritten <= cores, merged)
    // the file it touched, not the table
    assert(merged.bucketsWritten.size < 1024, merged)
    assert(t.deleteWhereUnmodified(frame(Seq(Row("k00042", -42L, "x")))) == 0L)
    val deleted = t.lastCommit.get
    assert(deleted.bucketsRead.size == 1 && deleted.packed && deleted.filesWritten <= cores, deleted)
    assert(rowsOf(t.read().get) == rowsOf(frame(seed.filterNot(_.getString(0) == "k00042"))))
  }

  test("a table crossing the bound unpacks in one commit and reads identically before and after") {
    val rnd = new scala.util.Random(5)
    val path = s"${tmp()}/t"
    val t = table(path, statsCols = Seq("v"))
    // a narrow seed packs; a merge giving every row a ~2 KB payload
    // rewrites every bucket, so it packs too and leaves a packed table
    // past the bound
    t.merge(frame((0 until 1200).map(i => Row(f"k$i%05d", i.toLong, "x"))), keys = Seq("k"))
    assert(t.lastCommit.get.packed)
    val seed = (0 until 1200).map(i => Row(f"k$i%05d", i.toLong, payload(rnd, 2000)))
    t.merge(frame(seed), keys = Seq("k"))
    assert(t.lastCommit.get.packed && bucketsPerFile(path).max > 1)
    val before = rowsOf(t.read().get)
    val keys = (0 until 1200 by 50).map(i => f"k$i%05d")
    val slice = t.readForKeys(spark.createDataFrame(
      java.util.Arrays.asList(keys.map(Row(_)): _*),
      new org.apache.spark.sql.types.StructType().add("k", "string")), frame(Nil))
    val sliceBefore = rowsOf(slice)
    // rewriting rows with their own values: the contents stay, the
    // layout crosses the bound
    t.merge(frame(seed.filter(r => keys.contains(r.getString(0)))), keys = Seq("k"))
    val c = t.lastCommit.get
    assert(!c.packed && c.bucketsWritten.toSet == manifest(path).buckets.keySet, c)
    assert(bucketsPerFile(path).forall(_ == 1))
    assert(c.filesWritten == c.bucketsWritten.size)
    assert(rowsOf(t.read().get) == before)
    assert(rowsOf(slice) == sliceBefore, "a plan pinned to the packed commit still reads")
    assert(rowsOf(t.readForKeys(spark.createDataFrame(
      java.util.Arrays.asList(keys.map(Row(_)): _*),
      new org.apache.spark.sql.types.StructType().add("k", "string")), frame(Nil))) == sliceBefore)
    val commits = t.commits()
    assert(t.changesBetween(commits.init.last, commits.last).count() == 0L)
    // the next commit keeps the per-bucket layout: only its dirty buckets
    t.merge(frame(Seq(Row("k00003", 3L, "x"))), keys = Seq("k"))
    assert(t.lastCommit.get.bucketsWritten == Seq(bucketsOf(Seq("k00003"))("k00003")))
  }
}
