package graft

import java.nio.file.{Files, Path => JPath}

import graft.pipeline.{BucketedStateTable, StateManifest}
import graft.sources.GraftStateCatalog

/** The bucketed state table's manifest codec: the text format is a
  * persistent contract (byte for byte, line order included), legacy
  * manifests keep parsing, and the JVM-wide parsed-manifest cache keeps
  * its identity rules. */
class StateManifestSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft-manifest").toString

  /** A split commit's manifest exactly as the format wrote it before
    * bucket files went flat (bare pointers to `__bucket=N/`
    * directories): table keyed (k, g), bucketed by k, statsCols g,v, 6
    * buckets split by 2 (so bucket ids reach two digits and numeric
    * order shows). */
  private lazy val golden = fixture("/manifests/split-commit.txt")

  /** The same split commit as today's writer writes it for a table past
    * the bound: every bucket pointer names its file and size. */
  private lazy val goldenFiles = fixture("/manifests/split-commit-files.txt")

  /** The same split commit as today's writer writes it for a table small
    * enough to pack: bucket pointers name the file of the write task that
    * held the bucket, with the bucket's share of its bytes. */
  private lazy val goldenPacked = fixture("/manifests/split-commit-packed.txt")

  private def without(text: String, key: String): String =
    text.linesIterator.filterNot(_.startsWith(s"$key=")).mkString("", "\n", "\n")

  test("codec: render(parse(text)) reproduces a written split-commit manifest byte for byte") {
    val m = StateManifest.parse(golden)
    assert(m.render == golden)
    assert(m.commitId == 2L && m.numBuckets.contains(12))
    assert(m.bucketCols.contains(Seq("k")) && m.keyCols.contains(Seq("k", "g")))
    assert(m.keepCommits.contains(5) && m.retentionFloorMillis.contains(0L))
    assert(m.splitFactor.contains(2) && m.splitBasedOn.contains(1L))
    assert(m.statsCols == Seq("g", "v"))
    assert(m.schema.map(_.fieldNames.toSeq).contains(Seq("k", "g", "v")))
    assert(m.buckets == (0 until 12).map(_ -> 2L).toMap)
    assert(m.bucketStats.keySet == (0 until 12).toSet)
    assert(m.zoneStats(10).rows == 3L)
    assert(m.layout.contains(BucketedStateTable.Layout(Seq("k", "g"), Seq("k"),
      12, Some(5), Some(0L), Seq("g", "v"))))
    // the spelling and the order of every line is the contract: the
    // fixture's line keys, in order, are exactly what render emits
    val keys = golden.linesIterator.map(_.takeWhile(_ != '=')).toSeq
    assert(keys == Seq("commit", "numBuckets", "bucketCols", "keyCols",
      "keepCommits", "retentionFloorMillis", "splitFactor", "splitBasedOn",
      "statsCols", "schema") ++ (0 until 12).map(b => s"zmap.$b") ++
      (0 until 12).map(_.toString))
    assert(StateManifest.parse(m.render) == m)
  }

  test("codec: render(parse(text)) reproduces a flat-layout manifest byte for byte") {
    val m = StateManifest.parse(goldenFiles)
    assert(m.render == goldenFiles)
    assert(m.buckets == (0 until 12).map(_ -> 2L).toMap)
    assert(m.files.keySet == (0 until 12).toSet)
    assert(m.files(10) == StateManifest.DataFile("b00010-t2-a12.parquet", 965L))
    // bucket pointers aside, it is the legacy fixture line for line
    assert(m.copy(files = Map.empty).render == golden)
    assert(StateManifest.parse(m.render) == m)
  }

  /** The split commit's manifest of the fixture table, written today,
    * its rows `wide` (past the bound) or not. */
  private def splitCommitWritten(wide: Boolean): String = {
    val s = spark
    import s.implicits._
    val dir = tmp()
    val t = new BucketedStateTable(spark, s"$dir/t", keyCols = Seq("k", "g"),
      numBuckets = 6, keepCommits = 5, retentionFloorMillis = 0L,
      bucketCols = Seq("k"), statsCols = Seq("g", "v"))
    val rows = (0 until 30).map(i => (i.toLong, s"g${i % 3}", i * 10L)).toDF("k", "g", "v")
    t.merge(if (wide) StateLayouts.wide(rows, kb = 8) else rows, keys = Seq("k", "g"))
    t.splitBuckets(2)
    new String(Files.readAllBytes(
      new java.io.File(s"$dir/t/_commits/c00000002.txt").toPath), "UTF-8")
  }

  private def sizeless(text: String) = text.replaceAll("\"b\":\\d+", "\"b\":_")
    .replaceAll("-t\\d+-a\\d+\\.parquet,\\d+", "-t_-a_.parquet,_")

  test("codec: a table written today produces the fixture's lines (zone-map byte sizes aside)") {
    // past the bound: ~8 KB a row in a `pad` column, which the schema
    // line adds; every other line is the fixture's
    val widened = goldenFiles.replace(
      """{"name":"v","type":"long","nullable":true,"metadata":{}}]}""",
      """{"name":"v","type":"long","nullable":true,"metadata":{}},""" +
        """{"name":"pad","type":"string","nullable":true,"metadata":{}}]}""")
    assert(widened != goldenFiles)
    assert(sizeless(splitCommitWritten(wide = true)) == sizeless(widened))
  }

  test("codec: a small table written today produces the packed fixture's lines (zone-map byte sizes aside)") {
    val written = splitCommitWritten(wide = false)
    assert(sizeless(written) == sizeless(goldenPacked))
    // the fixture: several buckets name each file, the shares of the
    // buckets naming a file sum to its size, and apart from the file
    // pointers it is the per-bucket fixture line for line
    val m = StateManifest.parse(goldenPacked)
    assert(m.render == goldenPacked)
    val byFile = m.files.toSeq.groupBy(_._2.name)
    assert(byFile.size <= 4 && byFile.values.forall(_.size > 1))
    def noFiles(text: String) =
      sizeless(StateManifest.parse(text).copy(files = Map.empty).render)
    assert(noFiles(goldenPacked) == noFiles(goldenFiles))
  }

  test("codec: a legacy manifest without schema= parses and its table still reads by footer inference") {
    val legacy = without(golden, "schema")
    val m = StateManifest.parse(legacy)
    assert(m.schemaJson.isEmpty && m.schema.isEmpty)
    assert(m.survivingBuckets(Nil).isEmpty, "no schema: nothing to prune against")
    assert(m.render == legacy)

    val s = spark
    import s.implicits._
    val dir = tmp()
    val t = new BucketedStateTable(spark, s"$dir/t", keyCols = Seq("k"),
      numBuckets = 8, retentionFloorMillis = 0L)
    t.merge((0 until 40).map(i => (s"k$i", i.toLong)).toDF("k", "v"), keys = Seq("k"))
    rewriteHead(s"$dir/t", without(_, "schema"))
    val conf = spark.sparkContext.hadoopConfiguration
    assert(StateManifest.snapshot(conf, s"$dir/t").get.schema.isEmpty)
    assert(spark.read.format("graft-state").load(s"$dir/t").count() == 40L)
    assert(new BucketedStateTable(spark, s"$dir/t", keyCols = Seq("k"),
      numBuckets = 8, retentionFloorMillis = 0L).read().get.count() == 40L)
  }

  test("codec: a legacy manifest without keyCols= has no layout, so SQL writes refuse") {
    val legacy = without(golden, "keyCols")
    assert(StateManifest.parse(legacy).layout.isEmpty)
    assert(StateManifest.parse(legacy).render == legacy)

    val s = spark
    import s.implicits._
    val dir = tmp()
    val t = new BucketedStateTable(spark, s"$dir/t", keyCols = Seq("k"),
      numBuckets = 4, retentionFloorMillis = 0L)
    t.merge(Seq(("a", 1L)).toDF("k", "v"), keys = Seq("k"))
    rewriteHead(s"$dir/t", without(_, "keyCols"))
    spark.conf.set("spark.sql.catalog.graft_legacy", classOf[GraftStateCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_legacy.root", dir)
    try {
      assert(spark.sql("SELECT v FROM graft_legacy.t").collect()
        .map(_.getLong(0)).toSeq == Seq(1L))
      val ex = intercept[Exception] {
        spark.sql("INSERT INTO graft_legacy.t VALUES ('b', 2)")
      }
      assert(ex.getMessage.contains("has no recorded layout (keyCols manifest line)"),
        s"got: ${ex.getMessage}")
    } finally {
      spark.conf.unset("spark.sql.catalog.graft_legacy")
      spark.conf.unset("spark.sql.catalog.graft_legacy.root")
    }
  }

  test("path convention: snapshotPaths and bucketOf invert each other") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    val t = new BucketedStateTable(spark, s"$dir/t", keyCols = Seq("k"),
      numBuckets = 16, retentionFloorMillis = 0L)
    // past the bound (~8 KB a row): one file per bucket
    t.merge(StateLayouts.wide((0 until 50).map(i => (s"k$i", i.toLong)).toDF("k", "v"), kb = 8),
      keys = Seq("k"))
    val conf = spark.sparkContext.hadoopConfiguration
    val m = StateManifest.snapshot(conf, s"$dir/t").get
    val paths = BucketedStateTable.snapshotPaths(conf, s"$dir/t")
    assert(paths.map(p => StateManifest.bucketOf(p).get) == m.buckets.keys.toSeq.sorted)
    // each path is the file the manifest names, at its recorded size (a
    // legacy-layout bucket resolves to its directory: LegacyLayoutSpec)
    assert(paths.map(p => new org.apache.hadoop.fs.Path(p).getName) ==
      m.buckets.keys.toSeq.sorted.map(m.files(_).name))
    assert(paths.forall { p =>
      val f = new java.io.File(new org.apache.hadoop.fs.Path(p).toUri.getPath)
      f.isFile && f.length == m.files(StateManifest.bucketOf(p).get).bytes
    })
    assert(t.read().get.inputFiles.flatMap(StateManifest.bucketOf).toSet ==
      m.buckets.keySet)
  }

  test("path convention: a packed snapshot's paths name each file once, at the sum of its buckets' shares") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    val t = new BucketedStateTable(spark, s"$dir/t", keyCols = Seq("k"),
      numBuckets = 16, retentionFloorMillis = 0L)
    t.merge((0 until 50).map(i => (s"k$i", i.toLong)).toDF("k", "v"), keys = Seq("k"))
    assert(t.lastCommit.get.packed)
    val conf = spark.sparkContext.hadoopConfiguration
    val m = StateManifest.snapshot(conf, s"$dir/t").get
    val paths = BucketedStateTable.snapshotPaths(conf, s"$dir/t")
    val byName = m.files.toSeq.groupBy(_._2.name)
    assert(paths.map(p => new org.apache.hadoop.fs.Path(p).getName).sorted == byName.keys.toSeq.sorted)
    assert(paths.size < m.buckets.size && paths.forall(StateManifest.bucketOf(_).isEmpty))
    assert(paths.forall { p =>
      val f = new java.io.File(new org.apache.hadoop.fs.Path(p).toUri.getPath)
      f.isFile && f.length == byName(f.getName).map(_._2.bytes).sum
    })
    assert(t.read().get.inputFiles.map(p => new org.apache.hadoop.fs.Path(p).getName).toSet ==
      byName.keySet)
  }

  // ── the JVM-wide parsed-manifest cache ───────────────────────────────

  /** A table root holding just `_commits/`, with manifest files written
    * through java.nio (no checksum sidecars, so rewrites read cleanly). */
  private def manifestAt(root: String, id: Long, text: String, mtime: Long): Unit = {
    val f = new java.io.File(f"$root/_commits/c$id%08d.txt")
    f.getParentFile.mkdirs()
    Files.write(f.toPath, text.getBytes("UTF-8"))
    assert(f.setLastModified(mtime))
  }

  private def snap(root: String): StateManifest =
    StateManifest.snapshot(spark.sparkContext.hadoopConfiguration, root).get

  // the same byte length as each other, so only the cache can tell them apart
  private val textA = "commit=1\nnumBuckets=4\n0=1\n"
  private val textB = "commit=1\nnumBuckets=8\n0=1\n"

  test("cache: a settled manifest is served from the cache") {
    val root = tmp()
    val old = System.currentTimeMillis() - 3600 * 1000L
    manifestAt(root, 1, textA, old)
    assert(snap(root).numBuckets.contains(4))
    // same id, length and mtime: a settled manifest can never change,
    // so the cached parse is served without reading the file
    manifestAt(root, 1, textB, old)
    assert(snap(root).numBuckets.contains(4))
  }

  test("cache: a manifest younger than the settle window is re-read") {
    val root = tmp()
    val young = System.currentTimeMillis() - 1000L
    assert(young > System.currentTimeMillis() - StateManifest.SettleMillis)
    manifestAt(root, 1, textA, young)
    assert(snap(root).numBuckets.contains(4))
    manifestAt(root, 1, textB, young)
    assert(snap(root).numBuckets.contains(8))
  }

  test("cache: an id withdrawn and republished with a different length is re-read") {
    val root = tmp()
    val old = System.currentTimeMillis() - 3600 * 1000L
    manifestAt(root, 1, textA, old)
    assert(snap(root).numBuckets.contains(4))
    new java.io.File(f"$root/_commits/c00000001.txt").delete()
    manifestAt(root, 1, "commit=1\nnumBuckets=16\n0=1\n", old)
    assert(snap(root).numBuckets.contains(16))
  }

  test("cache: a failed read is not cached") {
    val root = tmp()
    val old = System.currentTimeMillis() - 3600 * 1000L
    val broken = "garbage!\nnumBuckets=4\n0=1\n"
    assert(broken.length == textA.length)
    manifestAt(root, 1, broken, old)
    intercept[IllegalArgumentException](snap(root))
    manifestAt(root, 1, textA, old)
    assert(snap(root).numBuckets.contains(4))
  }

  /** Rewrite the newest manifest under `root` in place (dropping the
    * local filesystem's checksum sidecar, which would no longer match). */
  private def rewriteHead(root: String, edit: String => String): Unit = {
    val dir = new java.io.File(s"$root/_commits")
    val head: JPath = new java.io.File(dir,
      dir.listFiles().map(_.getName).filter(_.matches("c\\d+\\.txt")).max).toPath
    Files.write(head, edit(new String(Files.readAllBytes(head), "UTF-8")).getBytes("UTF-8"))
    Files.deleteIfExists(head.resolveSibling(s".${head.getFileName}.crc"))
  }
}
