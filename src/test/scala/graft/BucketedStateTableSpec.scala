package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.operators.StateOps
import graft.pipeline._

/** BucketedStateTable: bucket-pruned rewrites (the 100 TB state layout)
  * must touch only dirty buckets while matching StateOps semantics
  * exactly, and the pipelines must behave identically over either
  * layout. */
class BucketedStateTableSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft-bucket").toString

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def parquetFiles(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) parquetFiles(f)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    }

  // ── the 100 TB contract: a tiny merge must not rewrite the table ──────

  test("1-row merge into a 1M-row state reads and writes exactly one bucket") {
    val dir = tmp()
    val t = new BucketedStateTable(spark, s"$dir/state",
      keyCols = Seq("k"), numBuckets = 64, retentionFloorMillis = 0L)

    val base = spark.range(1000000)
      .select(concat(lit("k"), col("id")).as("k"), col("id").as("v"))
    t.merge(base, keys = Seq("k"))
    assert(t.read().get.count() == 1000000L)
    val seeded = t.lastCommit.get
    assert(seeded.bucketsWritten.size == 64) // seed populated every bucket

    val upd = spark.range(1).select(lit("k123456").as("k"), lit(-1L).as("v"))
    t.merge(upd, keys = Seq("k"))

    val stats = t.lastCommit.get
    val expectedBucket = upd
      .select(pmod(xxhash64(col("k")), lit(64L)).cast("int")).head().getInt(0)
    assert(stats.bucketsRead == Seq(expectedBucket))
    assert(stats.bucketsWritten == Seq(expectedBucket))

    // file-count evidence: the merge's commit directory holds ONE
    // parquet file, the bucket's — not a rewrite of 64 buckets
    val commitDir = new java.io.File(f"$dir/state/data/c${stats.commitId}%08d")
    assert(parquetFiles(commitDir).map(f =>
      StateManifest.bucketOf(f.getPath)) == Seq(Some(expectedBucket)))

    // and the logical state is the full million rows with the update applied
    assert(t.read().get.count() == 1000000L)
    assert(t.read().get.filter(col("k") === "k123456").head().getLong(1) == -1L)
  }

  test("mergeProbed with the probed set == merge; an under-set fails loudly") {
    val dir = tmp()
    def seed(path: String): BucketedStateTable = {
      val t = new BucketedStateTable(spark, path,
        keyCols = Seq("k"), numBuckets = 16, retentionFloorMillis = 0L)
      t.merge(spark.range(200)
        .select(concat(lit("k"), col("id")).as("k"), col("id").as("v")),
        keys = Seq("k"))
      t
    }
    val a = seed(s"$dir/a")
    val b = seed(s"$dir/b")
    val batch = spark.range(50, 120)
      .select(concat(lit("k"), col("id")).as("k"), (col("id") * 10).as("v"))
    // the incremental-op shape: probe first, then merge the SAME batch
    // values under the probed set — must land identically to merge()
    val (_, probed) = a.readForKeysProbed(batch.select("k"), batch.limit(0))
    a.mergeProbed(batch, keys = Seq("k"), dirty = probed)
    b.merge(batch, keys = Seq("k"))
    val rows = (t: BucketedStateTable) =>
      t.read().get.orderBy("k").collect().map(_.toString).toSeq
    assert(rows(a) == rows(b))
    assert(a.lastCommit.get.bucketsWritten == b.lastCommit.get.bucketsWritten)
    // an under-set (missing a bucket the batch writes) must fail the
    // written-outside-dirty guard, never silently drop rows
    val err = intercept[IllegalArgumentException] {
      a.mergeProbed(batch, keys = Seq("k"), dirty = probed.take(1))
    }
    assert(err.getMessage.contains("outside the dirty set"))
  }

  test("a driver-local batch lands in the same buckets as its distributed twin") {
    // the dirty-bucket probe's LOCAL fast path (a LocalRelation batch —
    // the DSv2 DML row ferry, literal bookkeeping frames — is hashed on
    // the driver, no Spark job) must place rows EXACTLY as the
    // distributed probe would: same dirty set, same bucket files, same
    // read-back. repartition() defeats ConvertToLocalRelation, so the
    // twin table exercises the distributed path over identical values.
    val dir = tmp()
    val s = spark
    import s.implicits._
    val rows = (0 until 300).map(i => (s"k$i", i.toLong)).toList
    val localBatch = rows.toDF("k", "v")                // folds to LocalRelation
    val distBatch = rows.toDF("k", "v").repartition(4)  // distributed probe
    val a = new BucketedStateTable(spark, s"$dir/a",
      keyCols = Seq("k"), numBuckets = 16, retentionFloorMillis = 0L)
    val b = new BucketedStateTable(spark, s"$dir/b",
      keyCols = Seq("k"), numBuckets = 16, retentionFloorMillis = 0L)
    a.merge(localBatch, keys = Seq("k"))
    b.merge(distBatch, keys = Seq("k"))
    assert(a.lastCommit.get.bucketsWritten == b.lastCommit.get.bucketsWritten)
    assert(a.read().get.orderBy("k").collect().toSeq ==
      b.read().get.orderBy("k").collect().toSeq)
    // per-bucket parity: every bucket directory holds the same key set
    val perBucket = (t: String) => spark.read.parquet(s"$dir/$t/data/c00000001")
      .groupBy(input_file_name()).count().count()
    assert(perBucket("a") == perBucket("b"))
    // an EMPTY local delta (limit-0 upserts) no-ops without a commit
    val before = a.commits()
    a.applyDelta(upserts = localBatch.limit(0),
      deleteKeys = localBatch.select("k").limit(0), keys = Seq("k"))
    assert(a.commits() == before)
  }

  test("bucket files are key-sorted so row-group stats prune point probes") {
    val dir = tmp()
    val t = new BucketedStateTable(spark, s"$dir/state",
      keyCols = Seq("k"), numBuckets = 4, retentionFloorMillis = 0L)
    val rows = spark.range(20000)
      .select(concat(lit("k"), format_string("%06d", col("id"))).as("k"),
        col("id").as("v"))
    t.merge(rows, keys = Seq("k"))
    val commitDir = new java.io.File(
      f"$dir/state/data/c${t.lastCommit.get.commitId}%08d")
    val files = parquetFiles(commitDir)
    assert(files.nonEmpty)
    files.foreach { f =>
      val keys = spark.read.parquet(f.getPath).select("k")
        .collect().map(_.getString(0)).toSeq
      assert(keys == keys.sorted,
        s"${f.getName} must be written key-sorted for min/max pruning")
    }
  }

  // ── the per-task floor: reads list on the driver, writes size by bytes ─

  private def seeded(path: String, buckets: Int, rows: Int,
      wide: Boolean = false): BucketedStateTable = {
    val t = new BucketedStateTable(spark, path,
      keyCols = Seq("k"), numBuckets = buckets, retentionFloorMillis = 0L)
    val kv = spark.range(rows)
      .select(concat(lit("k"), format_string("%06d", col("id"))).as("k"),
        col("id").as("v"))
    t.merge(if (wide) StateLayouts.wide(kv) else kv, keys = Seq("k"))
    t
  }

  /** Runs `body` with a listener attached and returns what it saw. */
  private def listening[T](l: org.apache.spark.scheduler.SparkListener)(
      body: => T): T = {
    spark.sparkContext.addSparkListener(l)
    try { val r = body; BenchMetrics.drainListenerBus(spark.sparkContext); r }
    finally spark.sparkContext.removeSparkListener(l)
  }

  /** Task counts of the bucket-write stages `body` runs: every stage of
    * the bucket writer's job (by call site) that reads the write's
    * exchange — its map stage reads none. */
  private def writeStageTasks(body: => Unit): Seq[Int] = {
    val tasks = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    listening(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        if (si.name.contains("BucketWriter.scala") && si.taskMetrics != null &&
            si.taskMetrics.shuffleReadMetrics.recordsRead > 0)
          tasks.add(si.numTasks)
      }
    })(body)
    scala.jdk.CollectionConverters.IterableHasAsScala(tasks).asScala.toSeq
  }

  /** Every bucket data commit `commit` wrote is exactly ONE parquet
    * file, written key-sorted; returns the bucket count. */
  private def oneSortedFilePerBucket(root: String, commit: Long): Int = {
    val commitDir = new java.io.File(f"$root/data/c$commit%08d")
    val byBucket = parquetFiles(commitDir).groupBy(f => StateManifest.bucketOf(f.getPath).get)
    byBucket.foreach { case (b, files) =>
      assert(files.size == 1, s"bucket $b must be one file: $files")
      val keys = spark.read.parquet(files.head.getPath).select("k")
        .collect().map(_.getString(0)).toSeq
      assert(keys == keys.sorted, s"bucket $b must be written key-sorted")
    }
    byBucket.size
  }

  test("a read over more than 32 buckets starts no Spark job before an action") {
    val dir = tmp()
    // past the bound (~2 KB a row): one file per bucket
    val t = seeded(s"$dir/state", buckets = 64, rows = 3000, wide = true)
    val commit = t.lastCommit.get.commitId
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val (full, old, pruned) = listening(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }) {
      (t.read().get, t.readAt(commit).get, t.readWhere(Nil).get)
    }
    // Spark's own file index runs a listing job past 32 directories
    assert(full.inputFiles.length == 64)
    assert(jobs.get == 0, s"building the reads started ${jobs.get} jobs")
    Seq(full, old, pruned).foreach(df => assert(df.count() == 3000L))
    // a bucket file pruned under the reader surfaces when the scan
    // opens it, as the file system's own error (a legacy-layout bucket
    // directory surfaces from the driver listing: LegacyLayoutSpec)
    val victim = parquetFiles(new java.io.File(f"$dir/state/data/c$commit%08d")).head
    Files.delete(victim.toPath)
    val err = intercept[Exception](t.read().get.count())
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[java.io.FileNotFoundException]), s"got: $err")
  }

  test("a merge dirtying more small buckets than cores writes with one task per core, one sorted file per bucket") {
    val dir = tmp()
    // past the bound: ~2 KB a row, and the merge dirties about half the
    // buckets (a merge dirtying every bucket rewrites no clean bytes by
    // packing, so it packs however large the table)
    val t = seeded(s"$dir/state", buckets = 64, rows = 3000, wide = true)
    val cores = spark.sparkContext.defaultParallelism
    val upd = spark.range(0, 300, 7)
      .select(concat(lit("k"), format_string("%06d", col("id"))).as("k"),
        (-col("id") - 1).as("v"))
    val tasks = writeStageTasks(t.merge(upd, keys = Seq("k")))
    val stats = t.lastCommit.get
    assert(stats.bucketsRead.size > cores && !stats.packed)
    assert(tasks == Seq(cores), s"write stages ran $tasks tasks")
    assert(oneSortedFilePerBucket(s"$dir/state", stats.commitId) ==
      stats.bucketsWritten.size)
    assert(stats.bucketsWritten == stats.bucketsRead)
    assert(t.read().get.filter(col("v") < 0).count() == upd.count())
  }

  test("a packed merge of a small table writes with one task per core, one file per task sorted by bucket and key") {
    val dir = tmp()
    val t = seeded(s"$dir/state", buckets = 64, rows = 3000)
    val cores = spark.sparkContext.defaultParallelism
    val upd = spark.range(0, 3000, 7)
      .select(concat(lit("k"), format_string("%06d", col("id"))).as("k"),
        (-col("id") - 1).as("v"))
    val tasks = writeStageTasks(t.merge(upd, keys = Seq("k")))
    val stats = t.lastCommit.get
    assert(stats.bucketsRead.size > cores && stats.packed)
    assert(tasks == Seq(cores), s"write stages ran $tasks tasks")
    val files = parquetFiles(new java.io.File(f"$dir/state/data/c${stats.commitId}%08d"))
    assert(files.size == stats.filesWritten && files.size <= cores, files)
    val bucket = pmod(xxhash64(col("k")), lit(64L)).cast("int")
    files.foreach { f =>
      val rows = spark.read.parquet(f.getPath).select(bucket, col("k"))
        .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
      assert(rows == rows.sorted, s"${f.getName} must be sorted by bucket and key")
      assert(rows.map(_._1).distinct.size > 1, s"${f.getName} holds several buckets")
    }
    assert(stats.bucketsWritten.size == 64)
    assert(t.read().get.filter(col("v") < 0).count() == upd.count())
  }

  test("a lowered advisory partition size writes the same merge with one task per bucket") {
    val dir = tmp()
    val t = seeded(s"$dir/state", buckets = 64, rows = 3000)
    val upd = spark.range(0, 3000, 7)
      .select(concat(lit("k"), format_string("%06d", col("id"))).as("k"),
        (-col("id")).as("v"))
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "1")
    val tasks =
      try writeStageTasks(t.merge(upd, keys = Seq("k")))
      finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    val stats = t.lastCommit.get
    assert(tasks == Seq(stats.bucketsRead.size), s"write stages ran $tasks tasks")
    assert(oneSortedFilePerBucket(s"$dir/state", stats.commitId) ==
      stats.bucketsWritten.size)
  }

  test("stray _SUCCESS, .crc and _temporary entries in a bucket directory are ignored by reads") {
    val dir = tmp()
    // the legacy layout's bucket directories are listed; a flat-layout
    // commit directory is never listed, so the same junk there is
    // ignored by construction
    val s = spark
    import s.implicits._
    LegacyLayout.create(spark, s"$dir/state",
      (0 until 400).map(i => (f"k$i%06d", i.toLong)).toDF("k", "v"), Seq("k"), 4)
    val t = new BucketedStateTable(spark, s"$dir/state", keyCols = Seq("k"),
      numBuckets = 4, retentionFloorMillis = 0L)
    val bucketDir = new java.io.File(f"$dir/state/data/c00000001")
      .listFiles().filter(_.getName.startsWith("__bucket=")).head
    val junk = "not parquet".getBytes("UTF-8")
    Files.write(new java.io.File(bucketDir, "_SUCCESS").toPath, Array.emptyByteArray)
    Files.write(new java.io.File(bucketDir, ".x.crc").toPath, junk)
    val temp = new java.io.File(bucketDir, "_temporary/0")
    temp.mkdirs()
    Files.write(new java.io.File(temp, "part-00000.parquet").toPath, junk)
    val df = t.read().get
    assert(df.inputFiles.forall(f =>
      !f.contains("_SUCCESS") && !f.contains(".crc") && !f.contains("_temporary")))
    assert(df.count() == 400L)
  }

  test("a manifest without a schema= line still reads, its schema inferred from the files") {
    val dir = tmp()
    val t = seeded(s"$dir/state", buckets = 40, rows = 1000)
    val id = t.lastCommit.get.commitId
    val manifest = new java.io.File(f"$dir/state/_commits/c$id%08d.txt").toPath
    val legacy = new String(Files.readAllBytes(manifest), "UTF-8")
      .linesIterator.filterNot(_.startsWith("schema=")).mkString("", "\n", "\n")
    Files.write(manifest, legacy.getBytes("UTF-8"))
    // the local filesystem keeps a checksum beside each file it wrote
    Files.deleteIfExists(manifest.resolveSibling(f".c$id%08d.txt.crc"))
    val fresh = new BucketedStateTable(spark, s"$dir/state",
      keyCols = Seq("k"), numBuckets = 40, retentionFloorMillis = 0L)
    val df = fresh.read().get
    assert(df.columns.toSeq == Seq("k", "v"))
    assert(df.count() == 1000L)
    assert(df.agg(sum("v")).head().getLong(0) == (0L until 1000L).sum)
  }

  // ── semantics parity with StateOps over plain frames ──────────────────

  test("merge parity: updates beat state, greatest version wins within a batch") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    val t = new BucketedStateTable(spark, s"$dir/state",
      keyCols = Seq("k"), numBuckets = 8, retentionFloorMillis = 0L)

    val state = (0 until 200).map(i => (s"k$i", 1L, s"old$i")).toDF("k", "ver", "v")
    val updates = Seq(
      ("k7", 2L, "new7"), ("k7", 3L, "newest7"), // in-batch dup: ver 3 wins
      ("k42", 2L, "new42"), ("k999", 1L, "fresh")).toDF("k", "ver", "v")

    t.merge(state, keys = Seq("k"))
    t.merge(updates, keys = Seq("k"), versionCols = Seq("ver"))

    val expected = StateOps.mergeByKey(state, updates,
      keys = Seq("k"), versionCols = Seq("ver"))
      .as[(String, Long, String)].collect().toSet
    val got = t.read().get.as[(String, Long, String)].collect().toSet
    assert(got == expected)
    assert(got.contains(("k7", 3L, "newest7")))
    // only the 3 updated keys' buckets were touched
    val touched = updates.select(pmod(xxhash64(col("k")), lit(8L)).cast("int"))
      .distinct().as[Int].collect().toSeq.sorted
    assert(t.lastCommit.get.bucketsRead == touched)
  }

  test("deleteWhereUnmodified parity: modified rows survive, emptied buckets leave the manifest") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    val t = new BucketedStateTable(spark, s"$dir/state",
      keyCols = Seq("k"), numBuckets = 4, retentionFloorMillis = 0L)

    val state = Seq(("a", 1L), ("b", 1L), ("c", 1L)).toDF("k", "ver")
    t.merge(state, keys = Seq("k"))

    // processed snapshot: a as-read, b STALE (state moved to ver 2), c as-read
    t.merge(Seq(("b", 2L)).toDF("k", "ver"), keys = Seq("k"), versionCols = Seq("ver"))
    val processed = Seq(("a", 1L), ("b", 1L), ("c", 1L)).toDF("k", "ver")

    val notRemoved = t.deleteWhereUnmodified(processed)
    assert(notRemoved == 1L) // the stale b tuple failed the full-tuple match

    val leftover = t.read().get.as[(String, Long)].collect().toSet
    assert(leftover == Set(("b", 2L))) // ST5: the re-upserted row survives

    // every bucket that lost ALL its rows dropped out of the manifest: the
    // survivor's bucket is the only one a fresh reader resolves
    val manifest = new java.io.File(s"$dir/state/_commits").listFiles()
      .filter(_.getName.endsWith(".txt")).sortBy(_.getName).last
    val bucketLines = Files.readAllLines(manifest.toPath).toArray.map(_.toString)
      .filter(l => l.nonEmpty && l.head.isDigit)
    val bBucket = Seq(("b", 2L)).toDF("k", "ver")
      .select(pmod(xxhash64(col("k")), lit(4L)).cast("int")).head().getInt(0)
    assert(bucketLines.map(_.split("=")(0).toInt).toSeq == Seq(bBucket))
  }

  test("retentionKeepLatest parity: expired rows drop, global max survives, fresh buckets untouched") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    val t = new BucketedStateTable(spark, s"$dir/state",
      keyCols = Seq("k"), numBuckets = 8, retentionFloorMillis = 0L)

    val rows = (1 to 50).map { i =>
      (s"k$i", i.toLong, ts(f"2024-01-${(i % 28) + 1}%02d 00:00:00"))
    }.toDF("k", "id", "t")
    t.merge(rows, keys = Seq("k"))

    val cutoff = lit(ts("2024-01-15 00:00:00"))
    t.retentionKeepLatest(seqCol = "id", tsCol = "t", cutoff = cutoff)

    val expected = StateOps.retentionKeepLatest(rows, "id", "t", cutoff)
      .as[(String, Long, Timestamp)].collect().toSet
    assert(t.read().get.as[(String, Long, Timestamp)].collect().toSet == expected)
    assert(t.read().get.filter(col("id") === 50L).count() == 1L) // keep-latest
    // pruned rewrite: only buckets holding expired rows were committed
    val expiredBuckets = rows
      .filter(col("t") <= cutoff && col("id") =!= 50L)
      .select(pmod(xxhash64(col("k")), lit(8L)).cast("int"))
      .distinct().as[Int].collect().toSeq.sorted
    assert(t.lastCommit.get.bucketsRead == expiredBuckets)
  }

  test("crash orphan: an unpublished data directory neither corrupts reads nor blocks commits") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    val t = new BucketedStateTable(spark, s"$dir/state",
      keyCols = Seq("k"), numBuckets = 4, retentionFloorMillis = 60_000L)
    t.merge(Seq(("a", 1L)).toDF("k", "v"), keys = Seq("k"))

    // a writer crashed after its data write, before publishing a manifest
    new java.io.File(s"$dir/state/data/c00000007").mkdirs()

    assert(t.read().get.as[(String, Long)].collect().toSet == Set(("a", 1L)))
    t.merge(Seq(("b", 2L)).toDF("k", "v"), keys = Seq("k"))
    assert(t.lastCommit.get.commitId == 8L) // id advanced past the orphan
    assert(t.read().get.count() == 2L)
  }

  test("opening an existing table with a different bucket count is refused") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    new BucketedStateTable(spark, s"$dir/state", keyCols = Seq("k"),
      numBuckets = 8, retentionFloorMillis = 0L)
      .merge(Seq(("a", 1L)).toDF("k", "v"), keys = Seq("k"))
    val wrong = new BucketedStateTable(spark, s"$dir/state",
      keyCols = Seq("k"), numBuckets = 16, retentionFloorMillis = 0L)
    val ex = intercept[IllegalArgumentException](wrong.read())
    assert(ex.getMessage.contains("numBuckets"))
  }

  test("time travel: readAt resolves each retained commit's snapshot; pruned commits throw") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    val t = new BucketedStateTable(spark, s"$dir/state",
      keyCols = Seq("k"), numBuckets = 4, retentionFloorMillis = 60_000L)
    t.merge(Seq(("a", 1L)).toDF("k", "v"), keys = Seq("k"))
    t.merge(Seq(("a", 2L)).toDF("k", "v"), keys = Seq("k"))
    t.merge(Seq(("b", 9L)).toDF("k", "v"), keys = Seq("k"))
    val cs = t.commits()
    assert(cs == cs.sorted && cs.size == 3)
    def snap(c: Long) = t.readAt(c).get.as[(String, Long)].collect().toSet
    assert(snap(cs.head) == Set(("a", 1L)), "first commit's world is intact")
    assert(snap(cs(1)) == Set(("a", 2L)))
    assert(snap(cs.last) == Set(("a", 2L), ("b", 9L)))
    assert(t.read().get.count() == 2L)
    intercept[NoSuchElementException] { t.readAt(cs.last + 100) }
  }

  // ── change feed: net row-level diff between two retained commits ──────

  test("changesBetween: insert/delete/update images, net semantics, bucket-pruned reads") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    // many buckets so the diff's pruning is visible in inputFiles
    val t = new BucketedStateTable(spark, s"$dir/state",
      keyCols = Seq("k"), numBuckets = 32, retentionFloorMillis = 60_000L)

    // commit 1: a 2000-row world, past the bound (~2 KB a row) so that
    // every bucket is its own file
    val base = spark.range(2000)
      .select(concat(lit("k"), col("id")).as("k"), col("id").as("v"))
    t.merge(StateLayouts.wide(base), keys = Seq("k"))
    val c1 = t.commits().last

    // commit 2: one updated row, one new row (net vs c1: update + insert)
    t.merge(Seq(("k7", -7L), ("knew", 1L)).toDF("k", "v"), keys = Seq("k"))
    // commit 3: delete the just-inserted row plus an original row, and
    // touch k7 back — net vs c1: k7 update survives? No: k7 returns to
    // a DIFFERENT value, so it stays an update; knew vanishes entirely
    t.applyDelta(
      upserts = Seq(("k7", 70L)).toDF("k", "v"),
      deleteKeys = Seq("knew", "k11").map(Tuple1(_)).toDF("k"),
      keys = Seq("k"))
    val c3 = t.commits().last

    val feed = t.changesBetween(c1, c3)
    assert(feed.columns.toSeq == Seq("change_type", "k", "v", "pad"))
    val got = feed.select("change_type", "k", "v").as[(String, String, Long)].collect().toSet
    assert(got == Set(
      ("update_preimage", "k7", 7L), ("update_postimage", "k7", 70L),
      ("delete", "k11", 11L)),
      "net diff: knew (inserted then deleted) absent, unchanged rows absent")

    // bucket pruning: only buckets whose manifest pointer moved are read.
    // k7, k11, knew hash into at most 3 of 32 buckets; every file the
    // feed plan reads must live under one of those bucket directories.
    val changedBuckets = Seq("k7", "k11", "knew")
      .map(k => Seq(Tuple1(k)).toDF("k")
        .select(pmod(xxhash64(col("k")), lit(32L)).cast("int")).head().getInt(0))
      .toSet
    val readFiles = feed.inputFiles.toSeq
    assert(readFiles.nonEmpty)
    assert(readFiles.forall(f =>
      graft.pipeline.StateManifest.bucketOf(f).exists(changedBuckets.contains)),
      s"feed read outside the changed buckets: $readFiles")

    // self-diff is empty without reading data
    val same = t.changesBetween(c3, c3)
    assert(same.count() == 0L)

    // apply-check: from-snapshot + feed reconstructs the to-snapshot
    val fromSnap = t.readAt(c1).get.select("k", "v")
    val applied = fromSnap
      .join(feed.filter(col("change_type").isin("delete", "update_preimage"))
        .select("k"), Seq("k"), "left_anti")
      .unionByName(feed
        .filter(col("change_type").isin("insert", "update_postimage"))
        .select("k", "v"))
    assert(applied.as[(String, Long)].collect().toSet ==
      t.readAt(c3).get.select("k", "v").as[(String, Long)].collect().toSet)

    // a drained table still diffs via the manifest-recorded schema
    val t2 = new BucketedStateTable(spark, s"$dir/state2",
      keyCols = Seq("k"), numBuckets = 4, retentionFloorMillis = 60_000L)
    t2.merge(Seq(("x", 1L)).toDF("k", "v"), keys = Seq("k"))
    val d1 = t2.commits().last
    t2.applyDelta(upserts = Seq.empty[(String, Long)].toDF("k", "v"),
      deleteKeys = Seq(Tuple1("x")).toDF("k"), keys = Seq("k"))
    val d2 = t2.commits().last
    val drainFeed = t2.changesBetween(d1, d2).as[(String, String, Long)]
    assert(drainFeed.collect().toSet == Set(("delete", "x", 1L)))
  }

  /** Keys of `df`'s column `k`, grouped by the bucket they hash into
    * under `nBuckets` — how the contention specs pick key sets with
    * KNOWN disjoint (or overlapping) bucket footprints. */
  private def keysByBucket(keys: Seq[String], nBuckets: Int): Map[Int, Seq[String]] = {
    val s = spark
    import s.implicits._
    keys.toDF("k")
      .select(col("k"), pmod(xxhash64(col("k")), lit(nBuckets.toLong))
        .cast("int").as("b"))
      .collect().map(r => (r.getString(0), r.getInt(1))).toSeq
      .groupBy(_._2).map { case (b, ks) => b -> ks.map(_._1) }
  }

  test("cross-process race, OVERLAPPING buckets: the raced commit is withdrawn, never silently lost") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    val t = new BucketedStateTable(spark, s"$dir/state",
      keyCols = Seq("k"), numBuckets = 4, retentionFloorMillis = 60_000L)
    t.merge(Seq(("a", 1L)).toDF("k", "v"), keys = Seq("k"))

    // a SECOND PROCESS (own lease scope — the manifest check must not
    // depend on the lease) commits to the SAME key, hence the same
    // bucket, inside our publish window
    val t2 = new BucketedStateTable(spark, s"$dir/state",
      keyCols = Seq("k"), numBuckets = 4, retentionFloorMillis = 60_000L,
      leaseStore = Some(new InMemoryCasStore))
    t.beforePublish = () => {
      t.beforePublish = () => () // fire once
      t2.merge(Seq(("a", 999L)).toDF("k", "v"), keys = Seq("k"))
    }
    val ex = intercept[java.util.ConcurrentModificationException] {
      t.merge(Seq(("a", 2L)).toDF("k", "v"), keys = Seq("k"))
    }
    assert(ex.getMessage.contains("retry"))
    // the competing commit's state is intact; ours was withdrawn — our
    // rows were merged against the bucket content ITS rewrite replaced
    assert(t.read().get.as[(String, Long)].collect().toSet == Set(("a", 999L)))
    // and the failed mutation can simply be retried
    t.merge(Seq(("a", 2L)).toDF("k", "v"), keys = Seq("k"))
    assert(t.read().get.as[(String, Long)].collect().toSet == Set(("a", 2L)))
    assert(t.lastCommit.get.rebases == 0, "a clean retry is not a rebase")
  }

  test("cross-process race, DISJOINT buckets: the raced commit rebases onto the new head and BOTH land") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    val t = new BucketedStateTable(spark, s"$dir/state",
      keyCols = Seq("k"), numBuckets = 8, retentionFloorMillis = 60_000L,
      keepCommits = 10)
    // two key pools with provably disjoint bucket footprints
    val pools = keysByBucket((1 to 64).map(i => s"k$i"), 8)
    val bOurs = pools.keys.min
    val bTheirs = pools.keys.max
    assert(bOurs != bTheirs)
    val ourKey = pools(bOurs).head
    val theirKey = pools(bTheirs).head

    t.merge(Seq((s"seed-$ourKey", 0L)).toDF("k", "v"), keys = Seq("k"))
    val seedCommit = t.commits().last

    val t2 = new BucketedStateTable(spark, s"$dir/state",
      keyCols = Seq("k"), numBuckets = 8, retentionFloorMillis = 60_000L,
      keepCommits = 10, leaseStore = Some(new InMemoryCasStore))
    t.beforePublish = () => {
      t.beforePublish = () => ()
      t2.merge(Seq((theirKey, 99L)).toDF("k", "v"), keys = Seq("k"))
    }
    // our merge touches a bucket the foreign commit did NOT rewrite:
    // it must land WITHOUT an exception and WITHOUT redoing the data
    // write — the already-written directory republishes under a
    // manifest based on the new head
    t.merge(Seq((ourKey, 2L)).toDF("k", "v"), keys = Seq("k"))
    val stats = t.lastCommit.get
    assert(stats.rebases == 1, s"expected one rebase, got $stats")

    // NOTHING was lost: both racing commits' rows are in the snapshot
    assert(t.read().get.as[(String, Long)].collect().toSet ==
      Set((s"seed-$ourKey", 0L), (theirKey, 99L), (ourKey, 2L)))

    // the rebased manifest is a consistent lineage point: the feed
    // from the seed shows BOTH inserts, and from the foreign commit
    // only ours
    val foreignCommit = t.commits().dropRight(1).last
    assert(t.changesBetween(seedCommit, stats.commitId)
      .as[(String, String, Long)].collect().toSet ==
      Set(("insert", theirKey, 99L), ("insert", ourKey, 2L)))
    assert(t.changesBetween(foreignCommit, stats.commitId)
      .as[(String, String, Long)].collect().toSet ==
      Set(("insert", ourKey, 2L)))

    // manifest ids stay strictly ordered and time travel resolves the
    // rebased commit exactly
    assert(t.commits() == t.commits().sorted)
    assert(t.readAt(stats.commitId).get.count() == 3L)
    assert(t.readAt(foreignCommit).get.as[(String, Long)].collect().toSet ==
      Set((s"seed-$ourKey", 0L), (theirKey, 99L)))

    // the foreign commit's prune CONDEMNED our then-orphan data dir;
    // our rebase made it live — the marker must be gone (a lingering
    // one would age past the floor and reap the dir with ZERO floor
    // the moment it is next unreferenced)
    val conf = spark.sparkContext.hadoopConfiguration
    val liveDataIds = BucketedStateTable.snapshotPaths(conf, s"$dir/state")
      .map(p => p.replaceAll(".*/data/c", "").replaceAll("/.*", "").toLong)
      .toSet
    val condemned = Option(new java.io.File(s"$dir/state/_condemned")
      .listFiles()).toSeq.flatten.map(_.getName)
    val staleMarkers = condemned.filter(m =>
      m.startsWith("d") && m.drop(1).forall(_.isDigit) &&
        liveDataIds.contains(m.drop(1).toLong))
    assert(staleMarkers.isEmpty,
      s"live data dirs must not stay condemned, found markers $staleMarkers")
  }

  test("a rebase never republishes pointers to data a concurrent prune reaped (zero floor); the retry lands") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    // ZERO retention floor: the foreign commit's prune deletes our
    // not-yet-published (orphan) data dir instantly — the rebase must
    // detect that and withdraw rather than publish pointers to deleted
    // files (durable corruption vs a mere retry)
    val t = new BucketedStateTable(spark, s"$dir/state",
      keyCols = Seq("k"), numBuckets = 8, keepCommits = 10,
      retentionFloorMillis = 0L)
    val pools = keysByBucket((1 to 64).map(i => s"k$i"), 8)
    val ourKey = pools(pools.keys.min).head
    val theirKey = pools(pools.keys.max).head
    t.merge(Seq((s"seed-$ourKey", 0L)).toDF("k", "v"), keys = Seq("k"))
    val t2 = new BucketedStateTable(spark, s"$dir/state",
      keyCols = Seq("k"), numBuckets = 8, keepCommits = 10,
      retentionFloorMillis = 0L, leaseStore = Some(new InMemoryCasStore))
    t.beforePublish = () => {
      t.beforePublish = () => ()
      t2.merge(Seq((theirKey, 99L)).toDF("k", "v"), keys = Seq("k"))
    }
    val ex = intercept[java.util.ConcurrentModificationException] {
      t.merge(Seq((ourKey, 2L)).toDF("k", "v"), keys = Seq("k"))
    }
    assert(ex.getMessage.contains("retry"), ex.getMessage)
    // nothing corrupted: every surviving pointer resolves, and the
    // retry simply lands
    assert(t.read().get.count() == 2L)
    t.merge(Seq((ourKey, 2L)).toDF("k", "v"), keys = Seq("k"))
    assert(t.read().get.as[(String, Long)].collect().toSet ==
      Set((s"seed-$ourKey", 0L), (theirKey, 99L), (ourKey, 2L)))
  }

  test("createExclusive: of two racing creators exactly one wins; the loser can never empty the winner's table") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    val schema = Seq(("x", 1L)).toDF("k", "v").schema
    // both "processes" passed a tableExists probe before either
    // published (the SQL CREATE/CTAS check-then-act window)
    val t1 = new BucketedStateTable(spark, s"$dir/state",
      keyCols = Seq("k"), numBuckets = 4, retentionFloorMillis = 60_000L)
    val t2 = new BucketedStateTable(spark, s"$dir/state",
      keyCols = Seq("k"), numBuckets = 4, retentionFloorMillis = 60_000L,
      leaseStore = Some(new InMemoryCasStore))
    t1.createExclusive(schema)
    t1.merge(Seq(("a", 1L)).toDF("k", "v"), keys = Seq("k"))
    // the raced second creator must FAIL — not publish an empty
    // snapshot over the winner's rows (replaceAll's unconditional
    // overwrite is exactly what the creating commit must not be)
    intercept[java.util.ConcurrentModificationException] {
      t2.createExclusive(schema)
    }
    assert(t1.read().get.as[(String, Long)].collect().toSet ==
      Set(("a", 1L)))
    // and the creating commit presents the schema immediately (an
    // empty committed snapshot, like the SQL CREATE TABLE face needs)
    val t3 = new BucketedStateTable(spark, s"$dir/state2",
      keyCols = Seq("k"), numBuckets = 4, retentionFloorMillis = 60_000L)
    t3.createExclusive(schema)
    assert(t3.read().get.schema.fieldNames.toSeq == Seq("k", "v"))
    assert(t3.read().get.count() == 0L)
  }

  test("relayout race: a merge racing a splitBuckets withdraws; its retry lands on the NEW layout; the feed stays exact") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    val t = new BucketedStateTable(spark, s"$dir/state",
      keyCols = Seq("k"), numBuckets = 4, retentionFloorMillis = 60_000L,
      keepCommits = 10)
    t.merge(Seq(("a", 1L), ("b", 2L)).toDF("k", "v"), keys = Seq("k"))
    val seedCommit = t.commits().last

    // ordering 1: the SPLIT lands inside the merge's publish window —
    // the merge must refuse to rebase (a layout change conflicts with
    // everything) and point at the reopen-at-recorded-layout recipe
    val t2 = new BucketedStateTable(spark, s"$dir/state",
      keyCols = Seq("k"), numBuckets = 4, retentionFloorMillis = 60_000L,
      keepCommits = 10, leaseStore = Some(new InMemoryCasStore))
    t.beforePublish = () => {
      t.beforePublish = () => ()
      t2.splitBuckets(2) // 4 -> 8 buckets
    }
    val ex = intercept[java.util.ConcurrentModificationException] {
      t.merge(Seq(("c", 3L)).toDF("k", "v"), keys = Seq("k"))
    }
    assert(ex.getMessage.contains("layout change"), ex.getMessage)

    // the loser reopens at the RECORDED layout and its retry lands
    val conf = spark.sparkContext.hadoopConfiguration
    val layout = StateManifest.snapshot(conf, s"$dir/state").flatMap(_.layout).get
    assert(layout.numBuckets == 8)
    val t8 = BucketedStateTable.fromLayout(spark, s"$dir/state", layout)
    t8.merge(Seq(("c", 3L)).toDF("k", "v"), keys = Seq("k"))
    assert(t8.read().get.as[(String, Long)].collect().toSet ==
      Set(("a", 1L), ("b", 2L), ("c", 3L)))
    // the feed crosses the interleaved split exactly: one net insert
    assert(t8.changesBetween(seedCommit, t8.commits().last)
      .as[(String, String, Long)].collect().toSet ==
      Set(("insert", "c", 3L)))
  }

  test("relayout race: a commit landing inside splitBuckets' publish window withdraws the SPLIT; its retry sees the merge") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    val t = new BucketedStateTable(spark, s"$dir/state",
      keyCols = Seq("k"), numBuckets = 4, retentionFloorMillis = 60_000L,
      keepCommits = 10)
    t.merge(Seq(("a", 1L)).toDF("k", "v"), keys = Seq("k"))
    val seedCommit = t.commits().last

    // ordering 2: a merge lands between the split's snapshot rewrite
    // and its manifest publish — the split's rewrite is STALE (it does
    // not contain z) and must withdraw rather than publish a layout
    // that silently drops the merge
    val t2 = new BucketedStateTable(spark, s"$dir/state",
      keyCols = Seq("k"), numBuckets = 4, retentionFloorMillis = 60_000L,
      keepCommits = 10, leaseStore = Some(new InMemoryCasStore))
    t.beforePublish = () => {
      t.beforePublish = () => ()
      t2.merge(Seq(("z", 5L)).toDF("k", "v"), keys = Seq("k"))
    }
    val ex = intercept[java.util.ConcurrentModificationException] {
      t.splitBuckets(2)
    }
    assert(ex.getMessage.contains("retry"), ex.getMessage)

    // the table is intact at the OLD layout, merge included; the same
    // handle retries the split and the new layout holds everything
    assert(t.read().get.as[(String, Long)].collect().toSet ==
      Set(("a", 1L), ("z", 5L)))
    val t8 = t.splitBuckets(2)
    assert(t8.read().get.as[(String, Long)].collect().toSet ==
      Set(("a", 1L), ("z", 5L)))
    // the feed across (seed -> merge -> failed split -> split) nets to
    // exactly the merge; the splits contribute zero rows
    assert(t8.changesBetween(seedCommit, t8.commits().last)
      .as[(String, String, Long)].collect().toSet ==
      Set(("insert", "z", 5L)))
  }

  test("writer lease: a second writer WAITS for the lease instead of failing, then proceeds") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    val t = new BucketedStateTable(spark, s"$dir/state",
      keyCols = Seq("k"), numBuckets = 4, retentionFloorMillis = 0L,
      leaseStaleMillis = 60_000L, leaseAcquireTimeoutMillis = 60_000L)
    // simulate ANOTHER PROCESS holding the lease (the JVM per-path lock
    // can't see it — only the filesystem lease can); a live peer's
    // lease carries a FRESH stamp, which is what a real process writes
    // at acquisition and every heartbeat
    val lease = new java.io.File(s"$dir/state/_lease")
    lease.getParentFile.mkdirs()
    Files.write(lease.toPath,
      s"other-process#1\n${System.currentTimeMillis()}\n".getBytes("UTF-8"))
    @volatile var committed = false
    val writer = new Thread(() => {
      t.merge(Seq(("a", 1L)).toDF("k", "v"), keys = Seq("k"))
      committed = true
    })
    writer.start()
    Thread.sleep(1500)
    assert(!committed, "writer must wait while a foreign lease is held")
    assert(writer.isAlive)
    Files.delete(lease.toPath) // foreign holder releases
    writer.join(60_000)
    assert(committed, "writer must proceed once the lease frees")
    assert(t.read().get.count() == 1L)
    assert(!lease.exists(), "lease must be released after the commit")
  }

  test("writer lease: a stale lease (crashed holder) is broken and taken over") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    val t = new BucketedStateTable(spark, s"$dir/state",
      keyCols = Seq("k"), numBuckets = 4, retentionFloorMillis = 0L,
      leaseStaleMillis = 500L, leaseAcquireTimeoutMillis = 60_000L)
    // a crashed holder's lease: the stamp (its last heartbeat) is far
    // older than leaseStaleMillis
    val lease = new java.io.File(s"$dir/state/_lease")
    lease.getParentFile.mkdirs()
    Files.write(lease.toPath,
      s"crashed-process#1\n${System.currentTimeMillis() - 10_000}\n"
        .getBytes("UTF-8"))
    val t0 = System.nanoTime()
    t.merge(Seq(("a", 1L)).toDF("k", "v"), keys = Seq("k"))
    assert((System.nanoTime() - t0) / 1e9 < 30.0)
    assert(t.read().get.count() == 1L)
    // the documented at-most-once heartbeat-straggler recreate can race
    // this assert under a loaded host (join(2000) timing out leaves one
    // in-flight refresh landing moments after the release). Releases
    // don't retro-delete it — the residue ages out via the next
    // waiter's stale break — so accept EITHER a clean slot or a
    // residue that names THIS process (never a foreign holder's loss)
    if (lease.exists()) {
      val residue = new String(Files.readAllBytes(lease.toPath), "UTF-8")
      val thisJvm = java.lang.management.ManagementFactory
        .getRuntimeMXBean.getName
      assert(residue.startsWith(thisJvm),
        s"post-release lease residue must be this holder's straggler " +
          s"refresh, found: $residue")
    }
  }

  test("writer lease: heartbeat keeps a slow commit's lease fresh past the staleness window") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    val t = new BucketedStateTable(spark, s"$dir/state",
      keyCols = Seq("k"), numBuckets = 4, retentionFloorMillis = 0L,
      leaseStaleMillis = 1000L, leaseAcquireTimeoutMillis = 60_000L)
    // hold the commit open well past leaseStaleMillis: without the
    // heartbeat the lease mtime would age past staleness and a waiter
    // would break it MID-WRITE (the double-writer corruption)
    val gate = new java.util.concurrent.CountDownLatch(1)
    t.beforePublish = () => gate.await()
    @volatile var done = false
    val writer = new Thread(() => {
      t.merge(Seq(("a", 1L)).toDF("k", "v"), keys = Seq("k"))
      done = true
    })
    writer.start()
    val lease = new java.io.File(s"$dir/state/_lease")
    val deadline = System.currentTimeMillis() + 30_000
    while (!lease.exists() && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    assert(lease.exists(), "holder must have acquired the lease")
    Thread.sleep(2500) // 2.5x the staleness window
    val age = System.currentTimeMillis() - lease.lastModified()
    assert(age < 1000L,
      s"heartbeat must keep a live holder's lease fresh; age=${age}ms")
    gate.countDown()
    writer.join(60_000)
    assert(done, "held commit must complete")
    assert(!lease.exists(), "lease must release after the commit")
    t.beforePublish = () => ()
  }

  test("rebucket: 4 -> 16 under a concurrent reader; stats reflect the new layout; history truncates") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    val t = new BucketedStateTable(spark, s"$dir/state",
      keyCols = Seq("k"), numBuckets = 4, retentionFloorMillis = 60_000L)
    // past the bound (~2 KB a row), so the rebucket writes one file per
    // bucket
    t.merge(StateLayouts.wide((1L to 500L).map(i => (s"k$i", i)).toDF("k", "v")),
      keys = Seq("k"))
    t.merge(Seq(("k1", -1L)).toDF("k", "v"), keys = Seq("k"))
    val reader = t.read().get // resolves the OLD layout's manifest
    val oldCommits = t.commits()

    val t16 = t.rebucket(16)

    // the stale handle refuses instead of hashing into wrong buckets
    intercept[IllegalArgumentException] { t.read() }
    // the concurrent reader's resolved snapshot still reads: data dirs
    // outlive their (truncated) manifests by the retention floor
    assert(reader.count() == 500L)
    // same logical state through the new handle, genuinely re-sharded
    assert(t16.read().get.count() == 500L)
    assert(t16.read().get.filter(col("k") === "k1").head().getLong(1) == -1L)
    val st = t16.stats().collect()
    assert(st.map(_.getAs[Long]("n_rows")).sum == 500L)
    val buckets = st.map(_.getAs[Int]("bucket")).toSet
    assert(buckets.subsetOf((0 until 16).toSet))
    assert(buckets.size > 4, s"500 keys must spread past 4 buckets: $buckets")
    // history truncates at the rebucket point: the current manifest is
    // the rebucket commit, and any old-layout manifest still inside the
    // retention floor (shielding racing readers) refuses to resolve
    // through the new handle instead of lying about the layout
    val newest = t16.commits().last
    assert(!oldCommits.contains(newest))
    // the 60s floor guarantees the old manifests LINGER (an
    // unconditional delete would empty this set and make the refusal
    // loop vacuous — this assertion keeps it load-bearing)
    val lingering = oldCommits.filter(t16.commits().contains)
    assert(lingering.nonEmpty,
      "retention floor must shield pre-rebucket manifests from deletion")
    lingering.foreach { c =>
      intercept[IllegalArgumentException] { t16.readAt(c) }
    }
    // the change feed refuses a diff spanning an ARBITRARY rebucket
    // boundary (incompatible bucket universes, no recorded split
    // mapping) — loudly, with the reseed recipe for stranded consumers
    val feedErr = intercept[IllegalStateException] {
      t16.changesBetween(lingering.head, newest)
    }
    assert(feedErr.getMessage.contains("not a splitBuckets/coalesceBuckets chain") &&
      feedErr.getMessage.contains("initialSnapshot"), feedErr.getMessage)
    // and post-rebucket mutations stay bucket-pruned on the NEW layout
    t16.merge(Seq(("k2", -2L)).toDF("k", "v"), keys = Seq("k"))
    assert(t16.lastCommit.get.bucketsWritten.size == 1)
    assert(t16.read().get.count() == 500L)
  }

  test("splitBuckets: the change feed diffs ACROSS the boundary — snapshot parity, net semantics, pruning intact") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    val t = new BucketedStateTable(spark, s"$dir/state",
      keyCols = Seq("k"), numBuckets = 4, keepCommits = 10,
      retentionFloorMillis = 60_000L)
    t.merge((1L to 400L).map(i => (s"k$i", i)).toDF("k", "v"), keys = Seq("k"))
    val c1 = t.commits().last
    // pre-split activity after the feed base: an update and an insert
    // that will be deleted AFTER the split (net-absent across the
    // boundary — the cross-layout endpoint semantics)
    t.merge(Seq(("k5", -5L), ("kpre", 1L)).toDF("k", "v"), keys = Seq("k"))
    val preSplit = t.commits().last
    val snapC1 = t.readAt(c1).get.as[(String, Long)].collect().toMap

    val t8 = t.splitBuckets(2)
    // the stale handle refuses, same contract as rebucket
    intercept[IllegalArgumentException] { t.read() }
    assert(t8.read().get.count() == 401L)
    // time travel works ACROSS the split (old pointers still resolve;
    // only an arbitrary rebucket truncates history)
    assert(t8.readAt(c1).get.count() == 400L)
    // a range spanning ONLY the split is a pure rewrite: zero net rows
    assert(t8.changesBetween(preSplit, t8.commits().last).count() == 0L)

    // post-split activity: update, insert, deletes (one killing kpre)
    t8.merge(Seq(("k5", 55L), ("kpost", 9L)).toDF("k", "v"), keys = Seq("k"))
    t8.applyDelta(upserts = Seq.empty[(String, Long)].toDF("k", "v"),
      deleteKeys = Seq("k9", "kpre").map(Tuple1(_)).toDF("k"),
      keys = Seq("k"))
    val cEnd = t8.commits().last
    val finalSnap = t8.read().get.as[(String, Long)].collect().toMap

    // parity: the cross-boundary net diff equals the snapshot diff
    val feed = t8.changesBetween(c1, cEnd)
      .as[(String, String, Long)].collect().toSet
    val ins = (finalSnap.keySet -- snapC1.keySet)
      .map(k => ("insert", k, finalSnap(k)))
    val del = (snapC1.keySet -- finalSnap.keySet)
      .map(k => ("delete", k, snapC1(k)))
    val upd = (snapC1.keySet & finalSnap.keySet)
      .filter(k => snapC1(k) != finalSnap(k))
      .flatMap(k => Seq(("update_preimage", k, snapC1(k)),
        ("update_postimage", k, finalSnap(k))))
    assert(feed == (ins ++ del ++ upd),
      s"cross-split diff lost parity: extra=${feed -- (ins ++ del ++ upd)} " +
        s"missing=${(ins ++ del ++ upd) -- feed}")
    assert(!feed.exists(_._2 == "kpre"),
      "a row inserted pre-split and deleted post-split must be net-absent")

    // pruning survives the boundary: on a quiet table, one post-split
    // single-key merge diffs by reading ONLY that key's new bucket and
    // its unique parent — never the other 10 bucket dirs
    val t2 = new BucketedStateTable(spark, s"$dir/state2",
      keyCols = Seq("k"), numBuckets = 4, keepCommits = 10,
      retentionFloorMillis = 60_000L)
    // past the bound (~2 KB a row), so the split writes one file per
    // bucket
    t2.merge(StateLayouts.wide((1L to 400L).map(i => (s"k$i", i)).toDF("k", "v")),
      keys = Seq("k"))
    val qa = t2.commits().last
    val t2w = t2.splitBuckets(2)
    t2w.merge(Seq(("k2", -2L)).toDF("k", "v"), keys = Seq("k"))
    val diff = t2w.changesBetween(qa, t2w.commits().last)
    assert(diff.select("change_type", "k", "v").as[(String, String, Long)].collect().toSet == Set(
      ("update_preimage", "k2", 2L), ("update_postimage", "k2", -2L)))
    val touchedDirs = diff.inputFiles.toSeq
      .map(f => graft.pipeline.StateManifest.bucketOf(f).get)
      .distinct
    assert(touchedDirs.size <= 2,
      s"cross-split diff must read one parent + one child bucket, " +
        s"read __bucket=$touchedDirs")
  }

  test("splitBuckets chains: a diff across TWO boundaries (4 -> 8 -> 16) maps segment-by-segment") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    val t4 = new BucketedStateTable(spark, s"$dir/state",
      keyCols = Seq("k"), numBuckets = 4, keepCommits = 20,
      retentionFloorMillis = 60_000L)
    t4.merge((1L to 300L).map(i => (s"k$i", i)).toDF("k", "v"), keys = Seq("k"))
    val c1 = t4.commits().last
    val snapC1 = t4.read().get.as[(String, Long)].collect().toMap
    // activity in EVERY constant-layout segment of the range
    t4.merge(Seq(("k1", -1L)).toDF("k", "v"), keys = Seq("k"))
    val t8 = t4.splitBuckets(2)
    t8.merge(Seq(("k2", -2L), ("kmid", 1L)).toDF("k", "v"), keys = Seq("k"))
    val t16 = t8.splitBuckets(2)
    t16.applyDelta(upserts = Seq(("k3", -3L)).toDF("k", "v"),
      deleteKeys = Seq(Tuple1("kmid")).toDF("k"), keys = Seq("k"))
    val cEnd = t16.commits().last
    val finalSnap = t16.read().get.as[(String, Long)].collect().toMap

    val feed = t16.changesBetween(c1, cEnd)
      .as[(String, String, Long)].collect().toSet
    val ins = (finalSnap.keySet -- snapC1.keySet)
      .map(k => ("insert", k, finalSnap(k)))
    val del = (snapC1.keySet -- finalSnap.keySet)
      .map(k => ("delete", k, snapC1(k)))
    val upd = (snapC1.keySet & finalSnap.keySet)
      .filter(k => snapC1(k) != finalSnap(k))
      .flatMap(k => Seq(("update_preimage", k, snapC1(k)),
        ("update_postimage", k, finalSnap(k))))
    assert(feed == (ins ++ del ++ upd),
      s"two-boundary diff lost parity: extra=${feed -- (ins ++ del ++ upd)} " +
        s"missing=${(ins ++ del ++ upd) -- feed}")
    // kmid (inserted between the splits, deleted after the second) is
    // net-absent; k1/k2/k3 (one update per segment) all surface
    assert(!feed.exists(_._2 == "kmid"))
    assert(Seq("k1", "k2", "k3").forall(k => feed.exists(_._2 == k)))
  }

  test("coalesceBuckets: the change feed diffs ACROSS the boundary — snapshot parity, net semantics, pruning intact") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    val t = new BucketedStateTable(spark, s"$dir/state",
      keyCols = Seq("k"), numBuckets = 8, keepCommits = 10,
      retentionFloorMillis = 60_000L)
    t.merge((1L to 400L).map(i => (s"k$i", i)).toDF("k", "v"), keys = Seq("k"))
    val c1 = t.commits().last
    // pre-coalesce activity after the feed base, incl. a row deleted
    // AFTER the boundary (net-absent across it)
    t.merge(Seq(("k5", -5L), ("kpre", 1L)).toDF("k", "v"), keys = Seq("k"))
    val preCoalesce = t.commits().last
    val snapC1 = t.readAt(c1).get.as[(String, Long)].collect().toMap

    val t4 = t.coalesceBuckets(2)
    // the stale handle refuses, same contract as split/rebucket
    intercept[IllegalArgumentException] { t.read() }
    assert(t4.read().get.count() == 401L)
    // time travel works ACROSS the coalesce (recorded inverse chain)
    assert(t4.readAt(c1).get.count() == 400L)
    // a range spanning ONLY the coalesce is a pure rewrite: zero net rows
    assert(t4.changesBetween(preCoalesce, t4.commits().last).count() == 0L)

    // post-coalesce activity: update, insert, deletes (one killing kpre)
    t4.merge(Seq(("k5", 55L), ("kpost", 9L)).toDF("k", "v"), keys = Seq("k"))
    t4.applyDelta(upserts = Seq.empty[(String, Long)].toDF("k", "v"),
      deleteKeys = Seq("k9", "kpre").map(Tuple1(_)).toDF("k"),
      keys = Seq("k"))
    val cEnd = t4.commits().last
    val finalSnap = t4.read().get.as[(String, Long)].collect().toMap

    val feed = t4.changesBetween(c1, cEnd)
      .as[(String, String, Long)].collect().toSet
    val ins = (finalSnap.keySet -- snapC1.keySet)
      .map(k => ("insert", k, finalSnap(k)))
    val del = (snapC1.keySet -- finalSnap.keySet)
      .map(k => ("delete", k, snapC1(k)))
    val upd = (snapC1.keySet & finalSnap.keySet)
      .filter(k => snapC1(k) != finalSnap(k))
      .flatMap(k => Seq(("update_preimage", k, snapC1(k)),
        ("update_postimage", k, finalSnap(k))))
    assert(feed == (ins ++ del ++ upd),
      s"cross-coalesce diff lost parity: extra=${feed -- (ins ++ del ++ upd)} " +
        s"missing=${(ins ++ del ++ upd) -- feed}")
    assert(!feed.exists(_._2 == "kpre"),
      "a row inserted pre-coalesce and deleted post-coalesce must be net-absent")

    // pruning survives the boundary DOWNWARD too: a 1-key post-coalesce
    // merge diffs by reading that key's new (parent) bucket plus its
    // f=2 pre-coalesce children — never the other 8 dirs
    val t2 = new BucketedStateTable(spark, s"$dir/state2",
      keyCols = Seq("k"), numBuckets = 8, keepCommits = 10,
      retentionFloorMillis = 60_000L)
    // past the bound (~2 KB a row): one file per bucket (the coalesce to
    // 4 buckets has as many write tasks as buckets)
    t2.merge(StateLayouts.wide((1L to 400L).map(i => (s"k$i", i)).toDF("k", "v")),
      keys = Seq("k"))
    val qa = t2.commits().last
    val t2n = t2.coalesceBuckets(2)
    t2n.merge(Seq(("k2", -2L)).toDF("k", "v"), keys = Seq("k"))
    val diff = t2n.changesBetween(qa, t2n.commits().last)
    assert(diff.select("change_type", "k", "v").as[(String, String, Long)].collect().toSet == Set(
      ("update_preimage", "k2", 2L), ("update_postimage", "k2", -2L)))
    val touchedDirs = diff.inputFiles.toSeq
      .map(f => graft.pipeline.StateManifest.bucketOf(f).get)
      .distinct
    assert(touchedDirs.size <= 3,
      s"cross-coalesce diff must read one parent + its two children, " +
        s"read __bucket=$touchedDirs")

    // refusals: a non-divisor factor, and an arbitrary rebucket still
    // strands the feed with the reseed recipe
    val odd = intercept[IllegalArgumentException] { t4.coalesceBuckets(3) }
    assert(odd.getMessage.contains("divide"), odd.getMessage)
  }

  test("mixed relayout chains: a diff across split AND coalesce boundaries (4 -> 8 -> 4 -> 2) maps segment-by-segment") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    val t4 = new BucketedStateTable(spark, s"$dir/state",
      keyCols = Seq("k"), numBuckets = 4, keepCommits = 30,
      retentionFloorMillis = 60_000L)
    t4.merge((1L to 300L).map(i => (s"k$i", i)).toDF("k", "v"), keys = Seq("k"))
    val c1 = t4.commits().last
    val snapC1 = t4.read().get.as[(String, Long)].collect().toMap
    // activity in EVERY constant-layout segment of the range
    t4.merge(Seq(("k1", -1L)).toDF("k", "v"), keys = Seq("k"))
    val t8 = t4.splitBuckets(2)
    t8.merge(Seq(("k2", -2L), ("kmid", 1L)).toDF("k", "v"), keys = Seq("k"))
    val tBack = t8.coalesceBuckets(2)
    tBack.merge(Seq(("k3", -3L)).toDF("k", "v"), keys = Seq("k"))
    val t2 = tBack.coalesceBuckets(2)
    t2.applyDelta(upserts = Seq(("k4", -4L)).toDF("k", "v"),
      deleteKeys = Seq(Tuple1("kmid")).toDF("k"), keys = Seq("k"))
    val cEnd = t2.commits().last
    val finalSnap = t2.read().get.as[(String, Long)].collect().toMap

    val feed = t2.changesBetween(c1, cEnd)
      .as[(String, String, Long)].collect().toSet
    val ins = (finalSnap.keySet -- snapC1.keySet)
      .map(k => ("insert", k, finalSnap(k)))
    val del = (snapC1.keySet -- finalSnap.keySet)
      .map(k => ("delete", k, snapC1(k)))
    val upd = (snapC1.keySet & finalSnap.keySet)
      .filter(k => snapC1(k) != finalSnap(k))
      .flatMap(k => Seq(("update_preimage", k, snapC1(k)),
        ("update_postimage", k, finalSnap(k))))
    assert(feed == (ins ++ del ++ upd),
      s"mixed-chain diff lost parity: extra=${feed -- (ins ++ del ++ upd)} " +
        s"missing=${(ins ++ del ++ upd) -- feed}")
    // kmid (inserted between the relayouts, deleted after the last) is
    // net-absent; k1..k4 (one update per segment) all surface
    assert(!feed.exists(_._2 == "kmid"))
    assert(Seq("k1", "k2", "k3", "k4").forall(k => feed.exists(_._2 == k)))
    // and time travel resolves through the whole signed chain
    assert(t2.readAt(c1).get.count() == 300L)
  }

  test("relayout race: a commit landing inside rebucket's publish window withdraws the REBUCKET; nothing is lost") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    val t = new BucketedStateTable(spark, s"$dir/state",
      keyCols = Seq("k"), numBuckets = 4, retentionFloorMillis = 60_000L,
      keepCommits = 10)
    t.merge(Seq(("a", 1L)).toDF("k", "v"), keys = Seq("k"))

    // a merge lands between rebucket's snapshot rewrite and its
    // publish: the rewrite does not contain z, so absorbing the merge
    // as basedOn would silently lose it — the rebucket must withdraw
    // (the same fence splitBuckets/coalesceBuckets carry)
    val t2 = new BucketedStateTable(spark, s"$dir/state",
      keyCols = Seq("k"), numBuckets = 4, retentionFloorMillis = 60_000L,
      keepCommits = 10, leaseStore = Some(new InMemoryCasStore))
    t.beforePublish = () => {
      t.beforePublish = () => ()
      t2.merge(Seq(("z", 5L)).toDF("k", "v"), keys = Seq("k"))
    }
    val ex = intercept[java.util.ConcurrentModificationException] {
      t.rebucket(8)
    }
    assert(ex.getMessage.contains("retry"), ex.getMessage)
    assert(t.read().get.as[(String, Long)].collect().toSet ==
      Set(("a", 1L), ("z", 5L)),
      "the interleaved merge must survive the withdrawn rebucket")
    val t8 = t.rebucket(8)
    assert(t8.read().get.as[(String, Long)].collect().toSet ==
      Set(("a", 1L), ("z", 5L)))
  }

  test("a split+coalesce ROUND TRIP inside the range stays bucket-pruned (equal endpoints must not fool the fast path)") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    val t8 = new BucketedStateTable(spark, s"$dir/state",
      keyCols = Seq("k"), numBuckets = 8, keepCommits = 30,
      retentionFloorMillis = 60_000L)
    // past the bound (~2 KB a row), so the seed and both relayouts
    // write one file per bucket
    t8.merge(StateLayouts.wide((1L to 400L).map(i => (s"k$i", i)).toDF("k", "v")),
      keys = Seq("k"))
    val c1 = t8.commits().last
    // 8 -> 16 -> 8: endpoint layouts EQUAL, but both relayouts rewrote
    // every bucket — a plain endpoint pointer-compare would mark ALL
    // buckets changed and read the whole table to net out one key
    val t16 = t8.splitBuckets(2)
    val tBack = t16.coalesceBuckets(2)
    tBack.merge(Seq(("k2", -2L)).toDF("k", "v"), keys = Seq("k"))
    val diff = tBack.changesBetween(c1, tBack.commits().last)
    assert(diff.select("change_type", "k", "v").as[(String, String, Long)].collect().toSet == Set(
      ("update_preimage", "k2", 2L), ("update_postimage", "k2", -2L)))
    val touchedDirs = diff.inputFiles.toSeq
      .map(f => graft.pipeline.StateManifest.bucketOf(f).get)
      .distinct
    assert(touchedDirs.size <= 3,
      s"a round-trip diff must stay pruned to the touched lineage, " +
        s"read __bucket=$touchedDirs")
    // and a range spanning ONLY the round trip nets to zero rows
    assert(tBack.changesBetween(c1, tBack.commits().dropRight(1).last)
      .count() == 0L)
  }

  test("replaceAll swaps the whole contents in one commit; history stays time-travelable") {
    val s = spark
    import s.implicits._
    val t = new BucketedStateTable(spark, s"${tmp()}/state",
      keyCols = Seq("k"), numBuckets = 4, retentionFloorMillis = 60_000L)
    t.merge((1L to 100L).map(i => (s"k$i", i)).toDF("k", "v"), keys = Seq("k"))
    val before = t.commits().last
    t.replaceAll((1L to 10L).map(i => (s"n$i", -i)).toDF("k", "v"))
    // new contents entirely replace the old
    val cur = t.read().get.as[(String, Long)].collect().toSet
    assert(cur == (1L to 10L).map(i => (s"n$i", -i)).toSet)
    // normal commit semantics: the old snapshot still resolves
    assert(t.readAt(before).get.count() == 100L)
    // replacing with nothing empties the table — which reads as
    // Some(empty) under the recorded schema (the trait contract: None
    // is reserved for never-created)
    t.replaceAll(Seq.empty[(String, Long)].toDF("k", "v"))
    assert(t.read().get.count() == 0L)
    assert(t.read().get.columns.toSeq == Seq("k", "v"))
  }

  test("exportTo round-trips the current snapshot into plain columnar files") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    val t = new BucketedStateTable(spark, s"$dir/state",
      keyCols = Seq("k"), numBuckets = 4, retentionFloorMillis = 0L)
    t.merge((1L to 100L).map(i => (s"k$i", i)).toDF("k", "v"), keys = Seq("k"))
    t.merge(Seq(("k1", -1L)).toDF("k", "v"), keys = Seq("k"))
    assert(t.exportTo(s"$dir/export") == 100L)
    val back = spark.read.parquet(s"$dir/export")
      .as[(String, Long)].collect().toSet
    val cur = t.read().get.as[(String, Long)].collect().toSet
    assert(back == cur, "export must equal the merged snapshot")
    assert(back(("k1", -1L)))
    // empty table: no schema to export — no files, zero count
    val e = new BucketedStateTable(spark, s"$dir/empty",
      keyCols = Seq("k"), numBuckets = 4)
    assert(e.exportTo(s"$dir/export-empty") == 0L)
  }

  test("stats: per-bucket rows sum to the table, partial commits show mixed commit ids") {
    val s = spark
    import s.implicits._
    val t = new BucketedStateTable(spark, s"${tmp()}/state",
      keyCols = Seq("k"), numBuckets = 4, retentionFloorMillis = 0L)
    t.merge((1L to 100L).map(i => (i, s"v$i")).toDF("k", "v"), keys = Seq("k"))
    val st1 = t.stats().collect()
    assert(st1.map(_.getAs[Long]("n_rows")).sum == 100L)
    assert(st1.forall(_.getAs[Long]("n_files") >= 1L))
    assert(st1.forall(_.getAs[Long]("total_bytes") > 0L))

    // a one-row merge dirties one bucket: its commit id advances, the
    // untouched buckets keep their old commit in the stats view
    t.merge(Seq((1L, "updated")).toDF("k", "v"), keys = Seq("k"))
    val st2 = t.stats().collect()
    assert(st2.map(_.getAs[Long]("n_rows")).sum == 100L)
    assert(st2.map(_.getAs[Long]("commit")).distinct.length == 2,
      s"expected mixed commits: ${st2.mkString(";")}")
  }

  test("concurrent writers serialize: interleaved merges lose no update") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    def table() = new BucketedStateTable(spark, s"$dir/state",
      keyCols = Seq("k"), numBuckets = 8, retentionFloorMillis = 0L)
    val threads = (0 until 4).map { t =>
      new Thread(() => {
        val mine = table() // distinct instances share the per-path lock
        (0 until 5).foreach { i =>
          mine.merge(Seq((s"k$t-$i", t.toLong)).toDF("k", "v"), keys = Seq("k"))
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val keys = table().read().get.select("k").collect().map(_.getString(0)).toSet
    assert(keys == (for (t <- 0 until 4; i <- 0 until 5) yield s"k$t-$i").toSet)
  }

  test("mergeOnceForBatch skips a replayed batch id per stream scope") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    val t = new BucketedStateTable(spark, s"$dir/state",
      keyCols = Seq("k"), numBuckets = 4, retentionFloorMillis = 0L)
    assert(t.mergeOnceForBatch(0L, "ckptA", Seq(("a", 1L)).toDF("k", "v"), Seq("k")))
    assert(!t.mergeOnceForBatch(0L, "ckptA", Seq(("a", 99L)).toDF("k", "v"), Seq("k")))
    assert(t.mergeOnceForBatch(0L, "ckptB", Seq(("b", 2L)).toDF("k", "v"), Seq("k")))
    assert(t.read().get.as[(String, Long)].collect().toSet
      == Set(("a", 1L), ("b", 2L)))
  }

  // ── the pipelines run unchanged over the bucketed layout ──────────────

  test("e2e: harvest + enrichment over bucketed tables matches the same run over JDBC tables") {
    def run(headers: StateTable, reporting: StateTable, dir: String): Unit = {
      val runs = StateLayouts.runs(spark, s"$dir/runs")
      val p = new HarvestPipeline(spark, headers, runs, "http://h/oai",
        headerFilter = _.filter(
          graft.functions.GraftFunctions.isQucosaId(col("record_identifier"))))
      val fetch = new PageFetcher {
        def apply(uri: String): Either[String, String] =
          Map(
            "resumptionToken=111111111111111" -> fixture("/oai/listIdentifiers.xml"),
            "metadataPrefix" -> fixture("/oai/resumptionToken.xml"))
            .collectFirst { case (k, v) if uri.contains(k) => v }
            .toRight(s"404 for $uri")
      }
      p.runToCompletion(fetch, ts("2024-03-01 10:00:00"), interPageDelayMillis = 0L)

      val mets = Map("qucosa:1044" -> fixture("/mets/qucosa7455-mets.xml"))
      val e = new EnrichmentPipeline(spark, headers, reporting)
      e.runToCompletion(new DocumentFetcher {
        def apply(localId: String): Option[String] = mets.get(localId)
      })
    }

    // the reference side: the same tables in an embedded SQL database
    // (one held connection keeps one DuckDB instance alive for the test)
    import org.apache.spark.sql.types._
    val dirA = tmp()
    val url = s"jdbc:duckdb:$dirA/state.db"
    val cf = new graft.sinks.ConnectionFactory {
      @transient private lazy val anchor = java.sql.DriverManager.getConnection(url)
      def apply(): java.sql.Connection = { anchor; java.sql.DriverManager.getConnection(url) }
    }
    def jdbc(name: String, fields: (String, DataType)*) = {
      val t = new JdbcStateTable(spark, name,
        StructType(StructField("record_identifier", StringType, nullable = false) +:
          fields.map { case (n, d) => StructField(n, d) }),
        Seq("record_identifier"), cf, s"$dirA/scratch/$name", graft.sinks.SqlDialect.DuckDb)
      t.ensureTables()
      t
    }
    val headersA = jdbc("OAIHeader", "datestamp" -> TimestampType,
      "set_spec" -> ArrayType(StringType), "status_is_deleted" -> BooleanType)
    val reportingA = jdbc("ReportingDoc", "mandator" -> StringType,
      "document_type" -> StringType, "distribution_date" -> TimestampType,
      "header_last_modified" -> TimestampType)
    run(headersA, reportingA, dirA)

    val dirB = tmp()
    val headersB = new BucketedStateTable(spark, s"$dirB/headers",
      keyCols = Seq("record_identifier"), numBuckets = 16, retentionFloorMillis = 0L)
    val reportingB = new BucketedStateTable(spark, s"$dirB/reporting",
      keyCols = Seq("record_identifier"), numBuckets = 16, retentionFloorMillis = 0L)
    run(headersB, reportingB, dirB)

    def snap(t: StateTable, like: StateTable): Set[String] =
      t.read().map(_.select(like.read().get.columns.toSeq.map(col): _*)
        .collect().map(_.toString).toSet).getOrElse(Set.empty)
    assert(snap(headersB, headersA) == snap(headersA, headersA))
    assert(snap(reportingB, reportingA) == snap(reportingA, reportingA))
    assert(snap(reportingB, reportingA).nonEmpty)
  }

  // ── condemn-then-reap retention: the floor runs from UNREFERENCE ─────

  test("a cold bucket's data outlives the burst that unreferences it; aged condemnation reaps") {
    val s2 = spark
    import s2.implicits._
    val dir = tmp()
    val floor = 60L * 60 * 1000 // 1 h
    val t = new BucketedStateTable(spark, s"$dir/t",
      keyCols = Seq("k"), numBuckets = 2, keepCommits = 2,
      retentionFloorMillis = floor)
    t.merge(Seq(("a", 1L)).toDF("k", "v"), keys = Seq("k"))
    val root = new org.apache.hadoop.fs.Path(s"$dir/t")
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val c1 = new org.apache.hadoop.fs.Path(root, "data/c00000001")
    assert(fs.exists(c1))
    val reader = t.read().get // snapshot resolved BEFORE the burst

    // backdate every commit artifact 2 h: a creation-time floor would
    // let the burst below delete c1 immediately
    def backdate(p: org.apache.hadoop.fs.Path): Unit = {
      fs.setTimes(p, System.currentTimeMillis() - 2 * floor, -1)
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).foreach(st => backdate(st.getPath))
    }
    backdate(new org.apache.hadoop.fs.Path(root, "data"))
    backdate(new org.apache.hadoop.fs.Path(root, "_commits"))

    // burst: three rewrites of the same key unreference c1 and push
    // manifest 1 beyond keepCommits
    (2 to 4).foreach(i =>
      t.merge(Seq(("a", i.toLong)).toDF("k", "v"), keys = Seq("k")))
    assert(fs.exists(c1),
      "cold data just unreferenced must be CONDEMNED, not deleted — " +
        "the floor protects the reader who resolved it seconds ago")
    assert(reader.collect().map(_.getLong(1)).toSeq == Seq(1L),
      "the pre-burst snapshot must still scan")

    // age the condemnation markers past the floor; subsequent commits'
    // prunes walk the reap chain (manifest first, then its data)
    val condemned = new org.apache.hadoop.fs.Path(root, "_condemned")
    var extra = 5
    while (fs.exists(c1) && extra < 9) {
      if (fs.exists(condemned))
        fs.listStatus(condemned).foreach(st =>
          fs.setTimes(st.getPath, System.currentTimeMillis() - 2 * floor, -1))
      t.merge(Seq(("a", extra.toLong)).toDF("k", "v"), keys = Seq("k"))
      extra += 1
    }
    assert(!fs.exists(c1), "aged condemnation must eventually reap")
  }

  test("release and heartbeat never touch a lease another holder took over") {
    val s2 = spark
    import s2.implicits._
    val dir = tmp()
    val t = new BucketedStateTable(spark, s"$dir/t",
      keyCols = Seq("k"), numBuckets = 2, retentionFloorMillis = 0L)
    val lease = new org.apache.hadoop.fs.Path(s"$dir/t/_lease")
    val fs = lease.getFileSystem(spark.sessionState.newHadoopConf())
    // simulate a stale-break takeover landing mid-commit: a usurper
    // replaces our lease between the data write and the publish
    t.beforePublish = () => {
      fs.delete(lease, false)
      val out = fs.create(lease, true)
      out.write("usurper-holder\n999\n".getBytes("UTF-8"))
      out.close()
    }
    try t.merge(Seq(("a", 1L)).toDF("k", "v"), keys = Seq("k"))
    finally t.beforePublish = () => ()
    // fenced release: the usurper's live lease survives our finally
    assert(fs.exists(lease), "release deleted a lease it no longer held")
    val in = fs.open(lease)
    val holder = try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().next() finally in.close()
    assert(holder == "usurper-holder")
    fs.delete(lease, false) // free the slot for any later mutation
  }

  test("a non-deterministic updates frame fails the commit loudly instead of losing rows") {
    val s2 = spark
    import s2.implicits._
    var fired = false
    var attempt = 0
    while (!fired && attempt < 5) {
      val dir = tmp()
      val t = new BucketedStateTable(spark, s"$dir/t",
        keyCols = Seq("k"), numBuckets = 64, retentionFloorMillis = 0L)
      // now() re-evaluates per QUERY: the dirty-bucket probe and the
      // bucket write see different keys -> different buckets
      val nd = spark.range(1).select(
        concat(lit("k"), unix_micros(now())).as("k"), lit(1L).as("v"))
      try t.merge(nd, keys = Seq("k"))
      catch {
        case e: IllegalArgumentException
            if e.getMessage.contains("non-deterministic") => fired = true
      }
      attempt += 1
    }
    assert(fired,
      s"the written-outside-dirty guard never fired in $attempt attempts")
  }

  test("§7.6 migration round-trip: exportTo → importFrom adopts the snapshot as commit 1, diff-empty, zone maps populated") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    val src = new BucketedStateTable(spark, s"$dir/src",
      keyCols = Seq("k"), numBuckets = 8, retentionFloorMillis = 0L)
    val rows = spark.range(5000)
      .select(concat(lit("k"), col("id")).as("k"), col("id").as("v"),
        (col("id") % 7).cast("int").as("grp"))
    src.merge(rows, keys = Seq("k"))
    // two commits so the export is a real multi-commit snapshot
    src.merge(Seq(("k42", -42L, 0), ("kNEW", 1L, 1)).toDF("k", "v", "grp"),
      keys = Seq("k"))
    val exported = src.exportTo(s"$dir/export")
    assert(exported == 5001L)

    // adopt into a DIFFERENT layout (re-bucketing is the point of the
    // import) with stats retrofit
    val dst = new BucketedStateTable(spark, s"$dir/dst",
      keyCols = Seq("k"), numBuckets = 16, retentionFloorMillis = 0L,
      statsCols = Seq("k", "v"))
    val adopted = dst.importFrom(s"$dir/export", analyzeAfter = true)
    assert(adopted == 5001L)

    // snapshot diff EMPTY both ways (full-tuple)
    val a = src.read().get
    val b = dst.read().get
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "imported snapshot must equal the exported one, tuple for tuple")

    // zone maps populated: stats() answers from decoded manifest zone
    // maps (its fast path marks n_files = -1) for EVERY bucket
    val st = dst.stats().collect()
    assert(st.nonEmpty && st.forall(_.getAs[Long]("n_files") == -1L),
      s"ANALYZE retrofit must leave every bucket zone-mapped, got ${st.mkString(";")}")

    // a second import refuses — the live state must never be replaced
    intercept[java.util.ConcurrentModificationException] {
      dst.importFrom(s"$dir/export")
    }
    // and incremental life continues normally on the adopted table
    dst.merge(Seq(("k42", 999L, 0)).toDF("k", "v", "grp"), keys = Seq("k"))
    assert(dst.read().get.filter(col("k") === "k42")
      .select("v").as[Long].head() == 999L)
  }

  test("importFrom refuses a key-less snapshot, a stats request without statsCols, and an empty export") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    Seq((1L, "x")).toDF("id", "payload").write.parquet(s"$dir/foreign")

    val t = new BucketedStateTable(spark, s"$dir/t",
      keyCols = Seq("k"), numBuckets = 4, retentionFloorMillis = 0L)
    val e1 = intercept[IllegalArgumentException] {
      t.importFrom(s"$dir/foreign")
    }
    assert(e1.getMessage.contains("lacks key column"))

    val e2 = intercept[IllegalArgumentException] {
      t.importFrom(s"$dir/foreign", analyzeAfter = true)
    }
    assert(e2.getMessage.contains("statsCols"))

    // stats eligibility validates BEFORE the creating commit with the
    // exact predicate analyzeStats applies: a snapshot whose only
    // declared stats column is a zone-map-UNSUPPORTED type must refuse
    // with NO commit published (the retry below must not hit the
    // already-committed guard)
    Seq((1L, Seq(1L, 2L))).toDF("k", "vals")
      .write.parquet(s"$dir/foreign-arr")
    val tArr = new BucketedStateTable(spark, s"$dir/t-arr",
      keyCols = Seq("k"), numBuckets = 4, retentionFloorMillis = 0L,
      statsCols = Seq("vals"))
    val e4 = intercept[IllegalArgumentException] {
      tArr.importFrom(s"$dir/foreign-arr", analyzeAfter = true)
    }
    assert(e4.getMessage.contains("zone-map-supported"), e4.getMessage)
    // nothing committed — the same import without the stats pass adopts
    assert(tArr.importFrom(s"$dir/foreign-arr") == 1L)

    // an empty export directory (empty-table exportTo) has no schema
    val empty = new BucketedStateTable(spark, s"$dir/empty",
      keyCols = Seq("k"), numBuckets = 4, retentionFloorMillis = 0L)
    assert(empty.exportTo(s"$dir/export-empty") == 0L)
    val e3 = intercept[IllegalArgumentException] {
      t.importFrom(s"$dir/export-empty")
    }
    assert(e3.getMessage.contains("createExclusive"))
  }
}
