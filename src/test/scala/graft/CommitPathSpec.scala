package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.pipeline.{BucketedStateTable, StateManifest, ZoneMaps}

/** The local file system under the scheme `countfs:`, so a table at
  * `countfs:///some/dir` runs every driver and task file call through
  * it. Under a watched directory it logs the namespace calls — creates,
  * directories made, renames, deletes, listings — and, once armed, fails
  * every mutating call (create, rename, delete, mkdirs) from the Nth on,
  * the way a crashed process makes no further change. The writer lease
  * (`_lease`) is neither logged nor failed: its heartbeat thread would
  * make the call order depend on timing, and no commit's correctness
  * rests on it. A `FilterFileSystem` like the HDFS-semantics one
  * `WriterLeaseSpec` runs the lease store on; it is `LocalFileSystem`
  * itself, so checksums and their `.crc` files behave as on `file:`. */
class CountingFs extends org.apache.hadoop.fs.LocalFileSystem(new CountingFs.Raw) {
  import CountingFs._

  override def getScheme: String = Scheme
  override def getUri: java.net.URI = Uri

  private def mutating[T](op: String, p: Path)(body: => T): T = {
    if (watched(p)) {
      val n = calls.incrementAndGet()
      log.add(op -> p.toUri.getPath)
      if (crashFrom > 0 && n >= crashFrom)
        throw new java.io.IOException(s"injected crash at mutating call $n ($op $p)")
    }
    body
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    mutating("create", f)(super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress))

  override def rename(src: Path, dst: Path): Boolean =
    mutating("rename", src)(super.rename(src, dst))

  override def delete(f: Path, recursive: Boolean): Boolean =
    mutating("delete", f)(super.delete(f, recursive))

  override def mkdirs(f: Path): Boolean = mkdirs(f, FsPermission.getDirDefault)

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    val made = !new java.io.File(f.toUri.getPath).exists
    mutating(if (made) "mkdir" else "mkdirs-existing", f)(super.mkdirs(f, permission))
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    if (watched(f)) log.add("list" -> f.toUri.getPath)
    super.listStatus(f)
  }
}

object CountingFs {
  val Scheme = "countfs"
  val Uri: java.net.URI = java.net.URI.create(s"$Scheme:///")

  /** The raw local file system answering to `countfs:` paths. */
  class Raw extends RawLocalFileSystem {
    override def getUri: java.net.URI = Uri
  }

  @volatile private var root: Option[String] = None
  @volatile private var crashFrom = 0L
  private val calls = new AtomicLong
  private val log = new ConcurrentLinkedQueue[(String, String)]()

  private def watched(p: Path): Boolean =
    root.exists(r => p.toUri.getPath.startsWith(r)) && !p.getName.startsWith("_lease")

  /** Registers the scheme with the session's Hadoop configuration. */
  def install(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration.set(s"fs.$Scheme.impl", classOf[CountingFs].getName)

  /** Runs `body` watching `dir` (failing mutating calls from the
    * `crashAt`th on, if positive); returns its outcome and the log. */
  def watch[T](dir: String, crashAt: Long = 0L)(
      body: => T): (scala.util.Try[T], Seq[(String, String)]) = synchronized {
    calls.set(0L); log.clear(); crashFrom = crashAt; root = Some(dir)
    try (scala.util.Try(body), log.asScala.toSeq)
    finally { root = None; crashFrom = 0L }
  }

  def mutatingOps(log: Seq[(String, String)]): Int =
    log.count(_._1 != "list")
}

/** The flat commit path end to end: what one commit does to the file
  * system, its zone maps against `analyzeStats`, and a crash at every
  * mutating call of `merge` and `deleteWhereUnmodified`. */
class CommitPathSpec extends SparkSpec {

  CountingFs.install(spark)

  private def tmp(): String =
    Files.createTempDirectory("graft-commit").toString

  private def table(root: String, buckets: Int = 16,
      statsCols: Seq[String] = Nil): BucketedStateTable =
    new BucketedStateTable(spark, root, keyCols = Seq("k"), numBuckets = buckets,
      retentionFloorMillis = 0L, statsCols = statsCols)

  private def kv(rows: (String, Long)*): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("k", "v")
  }

  private def rows(t: BucketedStateTable): Map[String, Long] =
    t.read().map(_.select("k", "v").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap).getOrElse(Map.empty)

  private def seed(n: Int) = (0 until n).map(i => f"k$i%04d" -> i.toLong)

  /** `rows` with a ~2 KB pseudo-random payload each: past the bound,
    * where a table keeps one file per bucket. */
  private def wide(rows: (String, Long)*): DataFrame = {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(rows.size)
    rows.map { case (k, v) => (k, v, Iterator.fill(2000)(('a' + rnd.nextInt(26)).toChar).mkString) }
      .toDF("k", "v", "pad")
  }

  /** `n` keys of `seed(60)`, each in its own bucket of `buckets`. */
  private def spreadOver(n: Int, buckets: Int): Seq[String] = {
    val s = spark
    import s.implicits._
    val byBucket = seed(60).map(_._1).toDF("k")
      .select($"k", org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.xxhash64($"k"),
        org.apache.spark.sql.functions.lit(buckets.toLong)).as("b"))
      .as[(String, Long)].collect().groupBy(_._2).values.map(_.map(_._1).min).toSeq.sorted
    assert(byBucket.size >= n)
    byBucket.take(n)
  }

  test("a merge rewriting K buckets creates K files and a manifest, renames once, makes one directory and lists no commit directory") {
    val dir = tmp()
    val root = s"${CountingFs.Scheme}://$dir/t"
    val t = table(root)
    // past the bound: one file per bucket
    t.merge(wide(seed(200): _*), keys = Seq("k"))
    val (res, log) = CountingFs.watch(dir) {
      t.merge(kv(("k0001", -1L), ("k0002", -2L), ("k0150", -150L), ("new", 9L)),
        keys = Seq("k"))
    }
    res.get
    val c = t.lastCommit.get
    val k = c.bucketsWritten.size
    val commitDir = f"$dir/t/data/c${c.commitId}%08d"
    def ops(op: String) = log.filter(_._1 == op).map(_._2)
    assert(k >= 3 && c.bucketsWritten == c.bucketsRead, c)
    assert(!c.packed && c.filesWritten == k, c)
    assert(ops("create").count(_.startsWith(s"$commitDir/")) == k, log)
    assert(ops("create").count(_.startsWith(s"$dir/t/_commits/")) == 1, log)
    assert(ops("create").size == k + 1, log)
    assert(ops("rename").size == 1 && ops("rename").head.contains("/_commits/"), log)
    // tasks creating their first files at once may each find the
    // directory missing; it is still one directory
    assert(ops("mkdir").distinct == Seq(commitDir), log)
    assert(!ops("list").exists(_.startsWith(commitDir)), log)
    assert(rows(t) == seed(200).toMap ++ Map("k0001" -> -1L, "k0002" -> -2L,
      "k0150" -> -150L, "new" -> 9L))
  }

  test("a packed merge creates one file per write task and a manifest, renames once, makes one directory and lists no commit directory") {
    val dir = tmp()
    val root = s"${CountingFs.Scheme}://$dir/t"
    val t = table(root)
    val spread = spreadOver(8, 16)
    t.merge(kv(seed(200): _*), keys = Seq("k"))
    val (res, log) = CountingFs.watch(dir) {
      t.merge(kv(spread.map(_ -> -1L) :+ ("new" -> 9L): _*), keys = Seq("k"))
    }
    res.get
    val c = t.lastCommit.get
    val commitDir = f"$dir/t/data/c${c.commitId}%08d"
    def ops(op: String) = log.filter(_._1 == op).map(_._2)
    val cores = spark.sparkContext.defaultParallelism
    assert(c.packed && c.bucketsRead.size > cores, c)
    assert(c.bucketsWritten.size == 16 && c.filesWritten <= cores, c)
    assert(ops("create").count(_.startsWith(s"$commitDir/")) == c.filesWritten, log)
    assert(ops("create").size == c.filesWritten + 1, log)
    assert(ops("rename").size == 1 && ops("rename").head.contains("/_commits/"), log)
    assert(ops("mkdir").distinct == Seq(commitDir), log)
    assert(!ops("list").exists(_.startsWith(commitDir)), log)
    assert(rows(t) == seed(200).toMap ++ spread.map(_ -> -1L) + ("new" -> 9L))
  }

  /** `body`'s result and the number of Spark jobs it started. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val r = body
      BenchMetrics.drainListenerBus(spark.sparkContext)
      (r, jobs.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("a zone-mapped merge of a driver-local batch runs two jobs: its map stage and the bucket write") {
    val dir = tmp()
    val t = table(s"$dir/t", statsCols = Seq("v"))
    t.merge(kv(seed(200): _*), keys = Seq("k"))
    val (_, jobs) = jobsOf(t.merge(kv(("k0001", -1L), ("k0099", -99L)), keys = Seq("k")))
    // the zone maps come from the write itself; the stats aggregation
    // over the written files that commits ran before added two jobs (a
    // map stage and its result), four in all
    assert(jobs == 2, s"$jobs jobs")
    val m = StateManifest.snapshot(spark.sparkContext.hadoopConfiguration, s"$dir/t").get
    assert(m.zoneStats.keySet == m.buckets.keySet)
  }

  test("a one-bucket replaceAll of a driver-local frame runs one job: the bucket write, with no exchange") {
    val dir = tmp()
    val t = table(s"$dir/t", buckets = 1)
    t.replaceAll(kv(seed(4): _*))
    Seq(true, false).foreach { aqe =>
      val prior = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", aqe.toString)
      try {
        val next = seed(34).map { case (k, v) => k -> (v + 1) }
        val (_, jobs) = jobsOf(t.replaceAll(kv(next: _*)))
        assert(jobs == 1, s"$jobs jobs with adaptive execution $aqe")
        assert(rows(t) == next.toMap)
        assert(t.lastCommit.get.filesWritten == 1, t.lastCommit)
      } finally spark.conf.set("spark.sql.adaptive.enabled", prior)
    }
  }

  test("readLocal serves the rows it last read or wrote with no job, and re-reads after another handle's commit") {
    val dir = tmp()
    val t = table(s"$dir/t", buckets = 1)
    val other = table(s"$dir/t", buckets = 1)
    assert(t.readLocal().isEmpty, "a never-created table has no rows to hold")
    other.replaceAll(kv(seed(3): _*))
    def local(r: Option[DataFrame]): Map[String, Long] =
      r.get.collect().map(r => r.getAs[String]("k") -> r.getAs[Long]("v")).toMap
    // the first read collects the newest commit once; later reads and
    // the frame's own collects run on the driver
    val (first, firstJobs) = jobsOf(local(t.readLocal()))
    assert(first == seed(3).toMap && firstJobs == 1, s"$firstJobs jobs")
    val (again, againJobs) = jobsOf(local(t.readLocal()))
    assert(again == first && againJobs == 0, s"$againJobs jobs")
    // updateLocal: the driver-held rows in, the write the only job, and
    // the frame it wrote held for the commit it made
    val (id, updateJobs) = jobsOf(t.updateLocal(cur =>
      spark.createDataFrame(java.util.List.of(
        cur.get.collect() :+ org.apache.spark.sql.Row("k9", 9L): _*), cur.get.schema)))
    assert(updateJobs == 1 && t.commits().lastOption.contains(id), s"$updateJobs jobs")
    val (held, heldJobs) = jobsOf(local(t.readLocal()))
    assert(held == first + ("k9" -> 9L) && heldJobs == 0, s"$heldJobs jobs")
    // another handle's commit is a new newest commit: read again
    other.merge(kv("k0" -> -1L), keys = Seq("k"))
    val (reread, rereadJobs) = jobsOf(local(t.readLocal()))
    assert(reread == held + ("k0" -> -1L) && rereadJobs == 1, s"$rereadJobs jobs")
    // a drained table holds its empty snapshot
    other.replaceAll(kv())
    assert(t.readLocal().exists(_.isEmpty))
  }

  test("in-task zone maps equal analyzeStats over the same files: strings, timestamps, nulls, NaN, empty buckets") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    val cols = Seq("s", "ts", "d", "f", "dec", "b", "i", "allnull")
    val t = new BucketedStateTable(spark, s"$dir/t", keyCols = Seq("k"),
      numBuckets = 24, retentionFloorMillis = 0L, statsCols = cols)
    val long = "x" * (ZoneMaps.MaxStatString + 1)
    val data = (0 until 40).map { i =>
      (f"k$i%03d",
        Option(if (i % 7 == 0) null else if (i % 11 == 0) long else s"s${i % 5}é"),
        if (i % 6 == 0) None else Some(new java.sql.Timestamp(1700000000000L + i * 1001L)),
        if (i % 9 == 0) Double.NaN else if (i % 4 == 0) -0.0 else i * 0.5,
        if (i % 8 == 0) Float.NaN else -i.toFloat,
        BigDecimal(i) / 7,
        i % 2 == 0,
        if (i % 3 == 0) None else Some(i),
        Option.empty[Long])
    }.toDF("k", "s", "ts", "d", "f", "dec", "b", "i", "allnull")
      .withColumn("dec", $"dec".cast("decimal(12,4)"))
    t.merge(data, keys = Seq("k"))
    // empty a bucket: its one row goes, and so do its pointer and stats
    val bucket = org.apache.spark.sql.functions.pmod(
      org.apache.spark.sql.functions.xxhash64($"k"), org.apache.spark.sql.functions.lit(24L))
    val single = t.read().get.groupBy(bucket.as("b")).count().filter($"count" === 1)
      .select("b").as[Long].collect()
    assert(single.nonEmpty)
    val gone = t.read().get.filter(bucket === single.head)
    assert(t.deleteWhereUnmodified(gone) == 0L)
    val conf = spark.sparkContext.hadoopConfiguration
    val written = StateManifest.snapshot(conf, s"$dir/t").get
    assert(written.buckets.size < 24, "some buckets must stay empty")
    assert(written.zoneStats.keySet == written.buckets.keySet)
    assert(t.analyzeStats(cols) == written.buckets.size)
    val analyzed = StateManifest.snapshot(conf, s"$dir/t").get
    assert(analyzed.buckets == written.buckets)
    written.buckets.keys.foreach { b =>
      assert(written.zoneStats(b) == analyzed.zoneStats(b), s"bucket $b")
    }
    // the shapes the comparison must have covered
    val stats = written.zoneStats.values
    assert(stats.exists(_.cols("d").max.contains("NaN")))
    assert(stats.exists(_.cols("s").nulls > 0))
    assert(stats.forall(z => z.cols("allnull").min.isEmpty && z.cols("allnull").nulls == z.rows))
    assert(stats.exists(z => z.cols("s").max.isEmpty && z.cols("s").nulls < z.rows),
      "an over-long string bound is omitted")
  }

  // ---- crash points -------------------------------------------------

  /** Expected change rows from `a` to `b`. */
  private def diff(a: Map[String, Long], b: Map[String, Long]): Set[(String, String, Long)] =
    (a.keySet ++ b.keySet).toSeq.flatMap { k =>
      (a.get(k), b.get(k)) match {
        case (None, Some(v)) => Seq(("insert", k, v))
        case (Some(v), None) => Seq(("delete", k, v))
        case (Some(x), Some(y)) if x != y =>
          Seq(("update_preimage", k, x), ("update_postimage", k, y))
        case _ => Nil
      }
    }.toSet

  private def changes(t: BucketedStateTable, from: Long, to: Long) = {
    val s = spark
    import s.implicits._
    t.changesBetween(from, to).select("change_type", "k", "v")
      .as[(String, String, Long)].collect().toSet
  }

  /** Every data file on disk is named by a retained manifest. */
  private def unreferenced(dir: String): Set[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val t = s"$dir/t"
    val named = BucketedStateTable.snapshotCommits(conf, t).flatMap(c =>
      BucketedStateTable.snapshotPaths(conf, t, Some(c)))
      .map(p => new Path(p).toUri.getPath).toSet
    val data = new java.io.File(s"$dir/t/data")
    Option(data.listFiles()).toSeq.flatten.flatMap(d => Option(d.listFiles()).toSeq.flatten)
      .map(_.getPath).filterNot(p => new java.io.File(p).getName.startsWith("."))
      .toSet -- named
  }

  /** Anything in `_commits/` but a published manifest and its checksum. */
  private def strayManifests(dir: String): Seq[String] = {
    val names = Option(new java.io.File(s"$dir/t/_commits").list()).toSeq.flatten
    val published = names.filter(_.matches("c\\d+\\.txt")).toSet
    names.filterNot(n => published(n) ||
      (n.startsWith(".") && n.endsWith(".crc") && published(n.drop(1).dropRight(4))))
  }

  /** Runs `op` on a freshly seeded table once to count its mutating
    * calls, then once per call with a crash injected there, and checks
    * that the table recovers from each. The seed is `rows` narrow rows,
    * which pack; `wide`, a second commit gives every row a ~2 KB
    * payload, which leaves a packed table past the bound. `packs` is
    * whether `op`'s commit packs. */
  private def crashEveryCall(op: BucketedStateTable => Unit, rows: Int = 60,
      wide: Boolean = false, packs: Option[Boolean] = None) = {
    def seeded(): (String, BucketedStateTable) = {
      val dir = tmp()
      val t = table(s"${CountingFs.Scheme}://$dir/t", buckets = 8)
      t.merge(kv(seed(rows): _*), keys = Seq("k"))
      if (wide) {
        t.merge(this.wide(seed(rows): _*), keys = Seq("k"))
        assert(t.lastCommit.get.packed, t.lastCommit)
      }
      (dir, t)
    }
    val pre = seed(rows).toMap
    val (cleanDir, clean) = seeded()
    val (ok, log) = CountingFs.watch(cleanDir)(op(clean))
    ok.get
    packs.foreach(p => assert(clean.lastCommit.get.packed == p, clean.lastCommit))
    val post = this.rows(clean)
    val n = CountingFs.mutatingOps(log)
    assert(n >= 4 && post != pre && log.exists(_._1 == "rename"), log)
    val next = Map("k0000" -> 1000L, "zz" -> 1L)
    (1 to n).foreach { at =>
      val (dir, t) = seeded()
      val preId = t.commits().last
      val (res, _) = CountingFs.watch(dir, crashAt = at)(op(t))
      assert(res.isFailure, s"crash at call $at of $n did not surface")
      // a restarted process: a fresh handle over what the crash left
      val after = table(s"${CountingFs.Scheme}://$dir/t", buckets = 8)
      val now = this.rows(after)
      assert(now == pre || now == post, s"crash at call $at of $n: torn state")
      val head = after.commits().last
      assert(changes(after, preId, head) == diff(pre, now), s"crash at call $at of $n")
      after.merge(kv(next.toSeq: _*), keys = Seq("k"))
      assert(this.rows(after) == now ++ next, s"crash at call $at of $n: next commit")
      assert(changes(after, preId, after.commits().last) == diff(pre, now ++ next))
      assert(unreferenced(dir).isEmpty,
        s"crash at call $at of $n left ${unreferenced(dir)}")
      assert(strayManifests(dir).isEmpty,
        s"crash at call $at of $n left ${strayManifests(dir)} in _commits/")
    }
    n
  }

  /** Keys that dirty enough buckets of 8 for a narrow table to pack,
    * and few enough that a packed table of 200 wide rows unpacks. */
  private def packing = spreadOver(7, 8)
  private def unpacking = spreadOver(5, 8)

  test("a crash at any mutating call of a merge leaves the pre- or post-state, and the table recovers") {
    crashEveryCall(_.merge(kv(("k0003", -3L), ("k0040", -40L), ("n1", 1L), ("n2", 2L)),
      keys = Seq("k")))
  }

  test("a crash at any mutating call of deleteWhereUnmodified leaves the pre- or post-state, and the table recovers") {
    crashEveryCall { t =>
      val processed = kv(("k0003", 3L), ("k0040", 40L), ("k0041", -1L), ("k0050", 50L))
      assert(t.deleteWhereUnmodified(processed) == 1L)
    }
  }

  test("a crash at any mutating call of a packed merge leaves the pre- or post-state, and the table recovers") {
    val keys = packing
    crashEveryCall(_.merge(kv(keys.map(_ -> -1L) :+ ("n1" -> 1L): _*), keys = Seq("k")),
      packs = Some(true))
  }

  test("a crash at any mutating call of a packed deleteWhereUnmodified leaves the pre- or post-state, and the table recovers") {
    val keys = packing
    crashEveryCall({ t =>
      val processed = kv(keys.map(k => k -> k.drop(1).toLong) :+ ("k0041" -> -1L): _*)
      assert(t.deleteWhereUnmodified(processed) == 1L)
    }, packs = Some(true))
  }

  test("a crash at any mutating call of the merge that unpacks a table past the bound leaves the pre- or post-state, and the table recovers") {
    val keys = unpacking
    crashEveryCall(_.merge(kv(keys.map(_ -> -1L): _*), keys = Seq("k")),
      rows = 200, wide = true, packs = Some(false))
  }

  test("a crash at any mutating call of the deleteWhereUnmodified that unpacks a table past the bound leaves the pre- or post-state, and the table recovers") {
    val keys = unpacking
    crashEveryCall({ t =>
      // the full tuple, payload included, of seeded rows, and one row
      // the table no longer holds
      val held = t.read().get.filter(col("k").isin(keys: _*))
      val processed = held.filter(col("k") =!= keys.head)
        .unionByName(held.filter(col("k") === keys.head).withColumn("v", col("v") - 1))
      assert(t.deleteWhereUnmodified(processed) == 1L)
    }, rows = 200, wide = true, packs = Some(false))
  }
}
