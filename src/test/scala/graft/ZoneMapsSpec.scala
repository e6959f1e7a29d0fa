package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._

import graft.pipeline._

/** Zone maps + bucket pruning: manifest-recorded per-bucket stats must
  * prune exactly (never below the matching set), the driver-side hash
  * must agree with the table's own bucket assignment, and both the
  * library read and the DSv2 scan must plan only surviving buckets. */
class ZoneMapsSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft-zonemap").toString

  private def stat(rows: Long, cols: (String, ZoneMaps.ColStat)*) =
    ZoneMaps.BucketStat(rows, 1000L, cols.toMap)

  private def cs(min: String, max: String, nulls: Long = 0) =
    ZoneMaps.ColStat(Some(min), Some(max), nulls)

  private val schema = org.apache.spark.sql.types.StructType.fromDDL(
    "k STRING, score BIGINT, name STRING, ts TIMESTAMP, d DOUBLE")

  // ── encode/decode ─────────────────────────────────────────────────────

  test("bucket stats survive the manifest JSON roundtrip") {
    val s = stat(42, "score" -> cs("-5", "99"),
      "name" -> ZoneMaps.ColStat(Some("aa\"b\nc"), None, 7),
      "allnull" -> ZoneMaps.ColStat(None, None, 42))
    val enc = ZoneMaps.encode(s)
    assert(!enc.contains("\n"), "manifest lines must stay single-line")
    assert(ZoneMaps.decode(enc).contains(s))
    assert(ZoneMaps.decode("{not json").isEmpty)
    assert(ZoneMaps.decode("""{"x":1}""").isEmpty)
  }

  // ── byte successor (string prefix upper bound) ───────────────────────

  test("byteSucc increments the rightmost non-0xFF byte") {
    assert(ZoneMaps.byteSucc(Array[Byte](1, 2, 3)).get.toSeq == Seq[Byte](1, 2, 4))
    assert(ZoneMaps.byteSucc(Array[Byte](1, -1, -1)).get.toSeq == Seq[Byte](2))
    assert(ZoneMaps.byteSucc(Array[Byte](-1, -1)).isEmpty)
  }

  // ── mayMatch semantics ───────────────────────────────────────────────

  test("range and equality predicates eliminate disjoint buckets only") {
    val b = stat(10, "score" -> cs("100", "200"))
    def may(f: Filter) = ZoneMaps.mayMatch(f, b, schema)
    assert(!may(EqualTo("score", 99L)) && may(EqualTo("score", 100L)) &&
      may(EqualTo("score", 150L)) && !may(EqualTo("score", 201L)))
    assert(!may(GreaterThan("score", 200L)) && may(GreaterThan("score", 199L)))
    assert(!may(GreaterThanOrEqual("score", 201L)) &&
      may(GreaterThanOrEqual("score", 200L)))
    assert(!may(LessThan("score", 100L)) && may(LessThan("score", 101L)))
    assert(!may(LessThanOrEqual("score", 99L)) &&
      may(LessThanOrEqual("score", 100L)))
    assert(may(In("score", Array(5L, 150L))) &&
      !may(In("score", Array(5L, 300L))))
    // conjunction prunes when either side does; disjunction needs both
    assert(!may(And(GreaterThan("score", 500L), IsNotNull("score"))))
    assert(may(Or(GreaterThan("score", 500L), EqualTo("score", 150L))))
    assert(!may(Or(GreaterThan("score", 500L), EqualTo("score", 50L))))
    // unknown column / unsupported shape: conservative
    assert(may(EqualTo("nope", 1L)) && may(Not(EqualTo("score", 1L))))
    // type-mismatched value: conservative, never a crash
    assert(may(EqualTo("score", "not-a-long")))
  }

  test("float bounds round-trip through the shortest float string — 0.1f is not pruned away") {
    // Spark writes float stats as shortest-round-trip strings ("0.1");
    // Double.parseDouble("0.1") != (double) 0.1f, so the bound must be
    // re-parsed as a FLOAT first or a bucket whose max is 0.1f would
    // wrongly prune EqualTo(0.1f) — silent missing rows
    val fschema = org.apache.spark.sql.types.StructType.fromDDL(
      "f FLOAT, d DOUBLE")
    def may(b: ZoneMaps.BucketStat, f: Filter) =
      ZoneMaps.mayMatch(f, b, fschema)
    val b = stat(10, "f" -> cs("0.1", "0.1"))
    assert(may(b, EqualTo("f", 0.1f)),
      "a bucket whose recorded bounds are exactly 0.1f must match x = 0.1f")
    assert(may(b, GreaterThanOrEqual("f", 0.1f)) &&
      may(b, LessThanOrEqual("f", 0.1f)))
    assert(!may(b, GreaterThan("f", 0.1f)) && !may(b, LessThan("f", 0.1f)))
    // the same value as a DOUBLE bound keeps double precision
    val bd = stat(10, "d" -> cs("0.1", "0.1"))
    assert(may(bd, EqualTo("d", 0.1d)) && !may(bd, GreaterThan("d", 0.1d)))
    // a non-dyadic float strictly between bounds still matches
    val wide = stat(10, "f" -> cs("0.05", "0.3"))
    assert(may(wide, EqualTo("f", 0.1f)))
  }

  test("signed zero: -0.0 bounds and predicates behave as Spark's -0.0 = 0.0") {
    val fschema = org.apache.spark.sql.types.StructType.fromDDL(
      "f FLOAT, d DOUBLE")
    def may(b: ZoneMaps.BucketStat, f: Filter) =
      ZoneMaps.mayMatch(f, b, fschema)
    // a recorded "-0.0" bound (written by a pre-normalization manifest)
    // must not prune x = 0.0, and a "0.0" bound must not prune x = -0.0
    assert(may(stat(5, "d" -> cs("-0.0", "-0.0")), EqualTo("d", 0.0d)))
    assert(may(stat(5, "d" -> cs("0.0", "0.0")), EqualTo("d", -0.0d)))
    assert(may(stat(5, "f" -> cs("-0.0", "-0.0")), EqualTo("f", 0.0f)))
    // conjoined equality constraints on a bucket column intersect
    // SEMANTICALLY: x = 0.0 AND x = -0.0 is satisfiable, so hash
    // pruning must not produce a false-empty surviving set
    val hs = org.apache.spark.sql.types.StructType.fromDDL("d DOUBLE")
    val cands = ZoneMaps.hashCandidates(
      Seq(EqualTo("d", 0.0d), EqualTo("d", -0.0d)), hs, Seq("d"), 16)
    assert(cands.forall(_.nonEmpty),
      s"x=0.0 AND x=-0.0 must keep its bucket, got $cands")
    // scale-sensitive BigDecimal.equals must not empty the intersect
    val ds = org.apache.spark.sql.types.StructType.fromDDL("m DECIMAL(10,2)")
    val one = new java.math.BigDecimal("1.0")
    val oneScaled = new java.math.BigDecimal("1.00")
    val dc = ZoneMaps.hashCandidates(
      Seq(EqualTo("m", one), EqualTo("m", oneScaled)), ds, Seq("m"), 16)
    assert(dc.forall(_.nonEmpty),
      s"m=1.0 AND m=1.00 must keep its bucket, got $dc")
  }

  test("null accounting: IsNull, IsNotNull, and all-null buckets") {
    val someNulls = stat(10, "name" -> cs("a", "z", nulls = 3))
    val noNulls = stat(10, "name" -> cs("a", "z", nulls = 0))
    val allNull = stat(10, "name" -> ZoneMaps.ColStat(None, None, 10))
    assert(ZoneMaps.mayMatch(IsNull("name"), someNulls, schema))
    assert(!ZoneMaps.mayMatch(IsNull("name"), noNulls, schema))
    assert(ZoneMaps.mayMatch(IsNotNull("name"), someNulls, schema))
    assert(!ZoneMaps.mayMatch(IsNotNull("name"), allNull, schema))
    // no value predicate survives an all-null bucket
    assert(!ZoneMaps.mayMatch(EqualTo("name", "x"), allNull, schema))
    assert(!ZoneMaps.mayMatch(GreaterThan("name", ""), allNull, schema))
    assert(!ZoneMaps.mayMatch(StringStartsWith("name", "a"), allNull, schema))
  }

  test("string bounds compare in UTF-8 byte order, not UTF-16") {
    // U+10000 (surrogate pair) sorts ABOVE U+FFFD in UTF-8 bytes but
    // BELOW it in UTF-16 code units — a code-unit comparison would
    // wrongly prune the lookup for U+FFFD
    val b = stat(5, "name" -> cs("a", "𐀀"))
    assert("�".compareTo("𐀀") > 0) // the trap exists
    assert(ZoneMaps.mayMatch(EqualTo("name", "�"), b, schema))
  }

  test("prefix predicates bound both ends") {
    val b = stat(5, "name" -> cs("mm", "mz"))
    assert(ZoneMaps.mayMatch(StringStartsWith("name", "m"), b, schema))
    assert(ZoneMaps.mayMatch(StringStartsWith("name", "mz"), b, schema))
    assert(!ZoneMaps.mayMatch(StringStartsWith("name", "n"), b, schema))
    assert(!ZoneMaps.mayMatch(StringStartsWith("name", "l"), b, schema))
  }

  // ── hash pruning agrees with the engine ──────────────────────────────

  test("driver-side bucket hash matches the table's bucket assignment") {
    import org.apache.spark.sql.types._
    val sp = spark
    import sp.implicits._
    val keys = Seq("a", "k123456", "", "Ünïcödé-✓", "𐀀mixed")
    for (n <- Seq(8, 64, 16384)) {
      val engine = keys.toDF("k")
        .select(col("k"), pmod(xxhash64(col("k")), lit(n.toLong))
          .cast("int").as("b"))
        .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
      keys.foreach { k =>
        assert(ZoneMaps.bucketOfValues(Seq(k), Seq(StringType), n)
          .contains(engine(k)), s"key $k at numBuckets=$n")
      }
    }
    // multi-column keys hash the tuple in bucket-column order
    val twoCol = Seq(("g1", 7L), ("g2", 9L))
    val engine2 = twoCol.toDF("g", "i")
      .select(col("g"), col("i"),
        pmod(xxhash64(col("g"), col("i")), lit(32L)).cast("int").as("b"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2)).toMap
    twoCol.foreach { case (g, i) =>
      assert(ZoneMaps.bucketOfValues(Seq(g, i),
        Seq(StringType, LongType), 32).contains(engine2((g, i))))
    }
  }

  test("surviving: equality on all bucket columns pins the hash bucket") {
    import org.apache.spark.sql.types._
    val sch = StructType.fromDDL("grp STRING, id BIGINT, score BIGINT")
    val all = (0 until 16).toSet
    val expected = ZoneMaps.bucketOfValues(Seq("g3"), Seq(StringType), 16).get
    val surv = ZoneMaps.surviving(Seq(EqualTo("grp", "g3")), sch,
      Seq("grp"), 16, Map.empty, all)
    assert(surv == Set(expected))
    // no equality on the bucket column: everything survives (no stats)
    assert(ZoneMaps.surviving(Seq(GreaterThan("score", 5L)), sch,
      Seq("grp"), 16, Map.empty, all) == all)
    // contradictory equalities: provably empty
    assert(ZoneMaps.surviving(
      Seq(EqualTo("grp", "g3"), EqualTo("grp", "g4")), sch,
      Seq("grp"), 16, Map.empty, all).isEmpty)
    // NO recorded bucket columns (legacy manifest): a zero-column
    // "tuple" must never pin a bucket — everything survives
    assert(ZoneMaps.surviving(Seq(EqualTo("grp", "g3")), sch,
      Nil, 16, Map.empty, all) == all)
  }

  // ── table integration ────────────────────────────────────────────────

  /** 16 groups bucketed by grp (bucketCols narrowing), score clustered
    * per group so zone maps have something to prune on; rows of ~2 KB,
    * past the bound, so every bucket is its own file. */
  private def seededTable(dir: String): BucketedStateTable = {
    val t = new BucketedStateTable(spark, s"$dir/state",
      keyCols = Seq("grp", "id"), numBuckets = 16,
      bucketCols = Seq("grp"), statsCols = Seq("score", "ts"),
      retentionFloorMillis = 0L)
    val rows = spark.range(1600).select(
      concat(lit("g"), col("id") % 16).as("grp"),
      col("id").as("id"),
      (col("id") % 16) * lit(100L) + col("id") % 7).toDF("grp", "id", "score")
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("score")))
    t.merge(StateLayouts.wide(rows, key = "id"), keys = Seq("grp", "id"))
    t
  }

  private def touchedBuckets(df: org.apache.spark.sql.DataFrame): Set[Int] =
    df.inputFiles.toSeq
      .map(f => graft.pipeline.StateManifest.bucketOf(f).get).toSet

  test("readWhere zone-prunes a clustered range predicate, exactly") {
    val t = seededTable(tmp())
    val full = t.read().get
    val pruned = t.readWhere(Seq(GreaterThanOrEqual("score", 1400L))).get
    assert(touchedBuckets(pruned).size < touchedBuckets(full).size,
      "the range predicate must eliminate buckets")
    // superset semantics: filtered results match exactly
    assert(pruned.filter(col("score") >= 1400).exceptAll(
      full.filter(col("score") >= 1400)).isEmpty)
    assert(full.filter(col("score") >= 1400).exceptAll(
      pruned.filter(col("score") >= 1400)).isEmpty)
    // timestamps prune through the epoch-micros canonical form
    val tsPruned = t.readWhere(Seq(GreaterThan("ts",
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1700001400L)))))
      .get
    assert(touchedBuckets(tsPruned).size < 16)
    assert(tsPruned.filter(col("ts") >
        timestamp_seconds(lit(1700001400L))).count() ==
      full.filter(col("ts") > timestamp_seconds(lit(1700001400L))).count())
  }

  test("stats() answers from the manifest when every bucket is statted") {
    val t = seededTable(tmp())
    val viaManifest = t.stats().collect()
    assert(viaManifest.nonEmpty && viaManifest.forall(_.getLong(2) == -1L),
      "all buckets statted: the manifest fast path (n_files = -1) answers")
    assert(viaManifest.map(_.getLong(4)).sum == 1600L,
      "manifest row counts must sum to the table")
    assert(viaManifest.forall(_.getLong(3) > 0L), "bytes ride along")
  }

  test("readWhere hash-prunes a point lookup to one bucket") {
    val t = seededTable(tmp())
    val pruned = t.readWhere(Seq(EqualTo("grp", "g5"))).get
    assert(touchedBuckets(pruned).size == 1)
    assert(pruned.filter(col("grp") === "g5").count() == 100)
    // a full-key lookup finds its one row
    val one = t.readWhere(Seq(EqualTo("grp", "g5"), EqualTo("id", 5L))).get
    assert(touchedBuckets(one).size == 1)
    assert(one.filter(col("grp") === "g5" && col("id") === 5L).count() == 1)
    // provably-empty survivor set: typed empty frame, not an error
    val none = t.readWhere(Seq(And(EqualTo("grp", "g5"),
      GreaterThan("score", 100000L)))).get
    assert(none.count() == 0 && none.schema.fieldNames.contains("score"))
  }

  test("a stats-less writer drops the stale zone map of its dirty bucket") {
    val dir = tmp()
    val t = seededTable(dir)
    def zmapBuckets(): Set[Int] = {
      val commits = new java.io.File(s"$dir/state/_commits").listFiles()
        .filter(_.getName.endsWith(".txt")).sortBy(_.getName)
      scala.io.Source.fromFile(commits.last).getLines()
        .filter(_.startsWith("zmap."))
        .map(_.stripPrefix("zmap.").takeWhile(_ != '=').toInt).toSet
    }
    // every NONEMPTY bucket (group hashing leaves some buckets empty)
    // carries a zone map after the seeding commit
    val nonEmpty = touchedBuckets(t.read().get)
    assert(zmapBuckets() == nonEmpty && nonEmpty.nonEmpty)
    // a handle with NO statsCols rewrites one group's bucket
    val plain = new BucketedStateTable(spark, s"$dir/state",
      keyCols = Seq("grp", "id"), numBuckets = 16,
      bucketCols = Seq("grp"), retentionFloorMillis = 0L)
    val one = spark.range(1).select(lit("g5").as("grp"), lit(9999L).as("id"),
      lit(123456L).as("score"),
      timestamp_seconds(lit(1700000000L)).as("ts"))
    plain.merge(one, keys = Seq("grp", "id"))
    val dirty = plain.lastCommit.get.bucketsWritten.toSet
    assert(zmapBuckets() == nonEmpty -- dirty,
      "the rewritten bucket's stale bounds must not survive")
    // pruning now KEEPS the un-statted bucket (conservative) and the
    // new out-of-range row is still found
    val found = t.readWhere(Seq(GreaterThan("score", 100000L))).get
    assert(found.filter(col("score") > 100000L).count() == 1)
  }

  test("zone maps survive a layout split and widenTo") {
    val t = seededTable(tmp())
    val t32 = t.splitBuckets(2)
    val pruned = t32.readWhere(Seq(GreaterThanOrEqual("score", 1400L))).get
    val all = t32.read().get
    assert(touchedBuckets(pruned).size < touchedBuckets(all).size,
      "relayout must rebuild stats, not drop them")
    assert(pruned.filter(col("score") >= 1400).count() ==
      all.filter(col("score") >= 1400).count())
    // widenTo: metadata-only, stats carried verbatim
    val wide = org.apache.spark.sql.types.StructType(
      all.schema.fields :+ org.apache.spark.sql.types.StructField(
        "extra", org.apache.spark.sql.types.StringType, true))
    t32.widenTo(wide)
    val afterWiden = t32.readWhere(Seq(GreaterThanOrEqual("score", 1400L))).get
    assert(touchedBuckets(afterWiden) == touchedBuckets(pruned))
    assert(afterWiden.schema.fieldNames.contains("extra"))
  }

  test("analyzeStats retrofits pruning onto a stats-less table; CALL system.analyze is its SQL face") {
    val dir = tmp()
    // built WITHOUT statsCols: no zmap lines, no pruning
    val plain = new BucketedStateTable(spark, s"$dir/state",
      keyCols = Seq("grp", "id"), numBuckets = 16,
      bucketCols = Seq("grp"), retentionFloorMillis = 0L)
    val rows = spark.range(1600).select(
      concat(lit("g"), col("id") % 16).as("grp"),
      col("id").as("id"),
      (col("id") % 16) * lit(100L) + col("id") % 7).toDF("grp", "id", "score")
    // past the bound (~2 KB a row): one file per bucket
    plain.merge(StateLayouts.wide(rows, key = "id"), keys = Seq("grp", "id"))
    val before = plain.readWhere(Seq(GreaterThanOrEqual("score", 1400L))).get
    val nonEmpty = touchedBuckets(plain.read().get)
    assert(touchedBuckets(before) == nonEmpty,
      "without stats nothing zone-prunes")

    val analyzed = plain.analyzeStats(Seq("score"))
    assert(analyzed == nonEmpty.size,
      s"every populated bucket gains stats, got $analyzed")
    val zeroData = plain.lastCommit.get
    assert(zeroData.bucketsRead.isEmpty && zeroData.bucketsWritten.isEmpty,
      "analyze must publish metadata only")
    val after = plain.readWhere(Seq(GreaterThanOrEqual("score", 1400L))).get
    assert(touchedBuckets(after).size < nonEmpty.size,
      "analyzed bounds must prune")
    assert(after.filter(col("score") >= 1400).count() ==
      plain.read().get.filter(col("score") >= 1400).count())

    // unsupported / absent columns refuse loudly
    val bad = intercept[IllegalArgumentException] {
      plain.analyzeStats(Seq("no_such_col"))
    }
    assert(bad.getMessage.contains("supported stats column"), bad.getMessage)

    // the SQL face over a second stats-less table
    val t2root = s"$dir/state2"
    val t2 = new BucketedStateTable(spark, t2root,
      keyCols = Seq("grp", "id"), numBuckets = 16,
      bucketCols = Seq("grp"), retentionFloorMillis = 0L)
    t2.merge(StateLayouts.wide(rows, key = "id"), keys = Seq("grp", "id"))
    spark.conf.set("spark.sql.catalog.gzanalyze",
      classOf[graft.sources.GraftStateCatalog].getName)
    spark.conf.set("spark.sql.catalog.gzanalyze.root", dir)
    try {
      val out = spark.sql(
        "CALL gzanalyze.system.analyze(table => 'state2', cols => 'score')")
        .collect().head
      assert(out.getString(0) == "state2" && out.getString(1) == "score" &&
        out.getInt(2) > 0)
      val sqlPruned = spark.read.format("graft-state").load(t2root)
        .where(col("score") >= 1400)
      assert(plannedFiles(sqlPruned).size <
        plannedFiles(spark.read.format("graft-state").load(t2root)).size,
        "the DSv2 scan must prune on the analyzed bounds")
      assert(sqlPruned.count() == 200L)
    } finally {
      spark.conf.unset("spark.sql.catalog.gzanalyze")
      spark.conf.unset("spark.sql.catalog.gzanalyze.root")
    }
  }

  test("analyze racing a commit retries; the rewritten bucket's stale bounds never land") {
    val s2 = spark
    import s2.implicits._
    val dir = tmp()
    val t = new BucketedStateTable(spark, s"$dir/state",
      keyCols = Seq("grp", "id"), numBuckets = 16,
      bucketCols = Seq("grp"), retentionFloorMillis = 60_000L)
    val rows = spark.range(1600).select(
      concat(lit("g"), col("id") % 16).as("grp"),
      col("id").as("id"),
      (col("id") % 16) * lit(100L) + col("id") % 7).toDF("grp", "id", "score")
    // past the bound (~2 KB a row): one file per bucket
    t.merge(StateLayouts.wide(rows, key = "id"), keys = Seq("grp", "id"))

    // a second process rewrites g5's bucket INSIDE the analyze's
    // publish window with a score far outside the analyzed bounds —
    // if g5's stale bounds landed anyway, the range probe below would
    // wrongly prune the bucket holding the new row
    val t2 = new BucketedStateTable(spark, s"$dir/state",
      keyCols = Seq("grp", "id"), numBuckets = 16,
      bucketCols = Seq("grp"), retentionFloorMillis = 60_000L,
      leaseStore = Some(new InMemoryCasStore))
    t.beforePublish = () => {
      t.beforePublish = () => ()
      t2.merge(Seq(("g5", 9999L, 777777L)).toDF("grp", "id", "score"),
        keys = Seq("grp", "id"))
    }
    val landed = t.analyzeStats(Seq("score"))
    val racedBucket = t2.lastCommit.get.bucketsWritten.toSet
    val statted = touchedBuckets(t.read().get) -- racedBucket
    assert(landed == statted.size,
      s"the raced bucket's stale bounds must drop: landed $landed of " +
        s"${statted.size} still-valid buckets")
    // the out-of-bounds row in the raced (now un-statted) bucket is
    // FOUND — an un-statted bucket always survives pruning
    val probe = t.readWhere(Seq(GreaterThan("score", 500000L))).get
    assert(probe.filter(col("score") > 500000L).count() == 1L)
    // and the analyzed bounds still prune elsewhere
    val range = t.readWhere(Seq(GreaterThanOrEqual("score", 1400L))).get
    assert(touchedBuckets(range).size < touchedBuckets(t.read().get).size)
  }

  test("analyze racing a relayout: the loser withdraws both ways; bounds only ever describe the surviving layout") {
    val s2 = spark
    import s2.implicits._
    def rows = spark.range(400).select(
      concat(lit("g"), col("id") % 8).as("grp"),
      col("id").as("id"),
      ((col("id") % 8) * lit(100L) + col("id") % 7).as("score"))
        .toDF("grp", "id", "score")
    def newestManifestText(root: String): String = {
      val f = new java.io.File(s"$root/_commits").listFiles()
        .filter(_.getName.matches("c\\d+\\.txt")).maxBy(_.getName)
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    }

    // ── ordering A: the SPLIT lands inside the ANALYZE's publish
    // window. The analyzed bounds describe the dead 4-bucket layout,
    // so the analyze must WITHDRAW (return 0) — never stamp them (or
    // the old numBuckets) onto the split's manifest chain.
    val dirA = tmp()
    val tA = new BucketedStateTable(spark, s"$dirA/state",
      keyCols = Seq("grp", "id"), numBuckets = 4,
      bucketCols = Seq("grp"), retentionFloorMillis = 60_000L)
    tA.merge(rows, keys = Seq("grp", "id"))
    val tA2 = new BucketedStateTable(spark, s"$dirA/state",
      keyCols = Seq("grp", "id"), numBuckets = 4,
      bucketCols = Seq("grp"), retentionFloorMillis = 60_000L,
      leaseStore = Some(new InMemoryCasStore))
    @volatile var split: BucketedStateTable = null
    tA.beforePublish = () => {
      tA.beforePublish = () => ()
      split = tA2.splitBuckets(2)
    }
    assert(tA.analyzeStats(Seq("score")) == 0,
      "an analyze raced by a relayout must withdraw, landing nothing")
    val headA = newestManifestText(s"$dirA/state")
    assert(headA.contains("numBuckets=8"),
      s"the split's layout must survive the race, manifest was:\n$headA")
    assert(!headA.contains("zmap."),
      "no dead-layout bound may reach the surviving manifest")
    assert(split.read().get.count() == 400L,
      "every row must stay readable through the surviving layout")

    // ── ordering B: the ANALYZE lands inside the SPLIT's publish
    // window. The split's snapshot rewrite is now based on a stale
    // head, so the SPLIT withdraws; the analyzed bounds stay on the
    // surviving 4-bucket layout and prune there.
    val dirB = tmp()
    val tB = new BucketedStateTable(spark, s"$dirB/state",
      keyCols = Seq("grp", "id"), numBuckets = 4,
      bucketCols = Seq("grp"), retentionFloorMillis = 60_000L)
    tB.merge(rows, keys = Seq("grp", "id"))
    val tB2 = new BucketedStateTable(spark, s"$dirB/state",
      keyCols = Seq("grp", "id"), numBuckets = 4,
      bucketCols = Seq("grp"), retentionFloorMillis = 60_000L,
      leaseStore = Some(new InMemoryCasStore))
    tB.beforePublish = () => {
      tB.beforePublish = () => ()
      assert(tB2.analyzeStats(Seq("score")) > 0,
        "the interleaved analyze itself must land on the still-live layout")
    }
    intercept[java.util.ConcurrentModificationException] {
      tB.splitBuckets(2)
    }
    val headB = newestManifestText(s"$dirB/state")
    assert(headB.contains("numBuckets=4") && headB.contains("zmap."),
      s"the analyzed 4-bucket layout must survive with its bounds:\n$headB")
    val pruned = tB.readWhere(Seq(GreaterThanOrEqual("score", 600L))).get
    assert(touchedBuckets(pruned).size <
      touchedBuckets(tB.read().get).size,
      "the surviving bounds must prune")
    assert(pruned.filter(col("score") >= 600L).count() ==
      tB.read().get.filter(col("score") >= 600L).count())
    // the same handle retries the split; the new layout carries all rows
    val tB8 = tB.splitBuckets(2)
    assert(tB8.read().get.count() == 400L)
  }

  // ── DSv2 scan integration ────────────────────────────────────────────

  private def plannedFiles(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan
    }.map {
      // the stats decorator wraps the parquet scan — unwrap to reach
      // the planned file set
      case m: graft.sources.ManifestStatsScan => m.inner
      case s => s
    }.flatMap {
      case p: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan =>
        p.fileIndex.inputFiles.toSeq
      case _ => Nil
    }
  }

  test("SQL DML through the catalog maintains the owner's zone maps") {
    val dir = tmp()
    val t = seededTable(dir)
    spark.conf.set("spark.sql.catalog.gzmap",
      classOf[graft.sources.GraftStateCatalog].getName)
    spark.conf.set("spark.sql.catalog.gzmap.root", dir)
    // the handle-less SQL writer reconstructs the layout FROM the
    // manifest — statsCols included — so its rewrite of g5's bucket
    // must REFRESH that bucket's bounds, not drop them
    spark.sql("UPDATE gzmap.state SET score = 999999 WHERE grp = 'g5'")
    val afterUpdate = t.readWhere(Seq(GreaterThan("score", 500000L))).get
    assert(touchedBuckets(afterUpdate).size == 1,
      "the refreshed bounds must confine the new max to g5's bucket")
    assert(afterUpdate.filter(col("score") > 500000L).count() == 100)
    // and a value below every refreshed bound still prunes to nothing
    val below = t.readWhere(Seq(LessThan("score", 0L))).get
    assert(below.count() == 0)
  }

  test("SQL point lookup plans one bucket; range predicate zone-prunes") {
    val dir = tmp()
    seededTable(dir)
    val sql = spark.read.format("graft-state").load(s"$dir/state")
    val allFiles = plannedFiles(sql)
    assert(allFiles.nonEmpty)

    val point = sql.where(col("grp") === "g5")
    val pointFiles = plannedFiles(point)
    assert(pointFiles.forall(graft.pipeline.StateManifest.bucketOf(_).isDefined) &&
      pointFiles.flatMap(graft.pipeline.StateManifest.bucketOf).distinct.size == 1,
      s"point lookup planned ${pointFiles.size} files across buckets")
    assert(point.count() == 100)

    val range = sql.where(col("score") >= 1400)
    assert(plannedFiles(range).size < allFiles.size,
      "zone maps must shrink the planned file set")
    assert(range.count() ==
      sql.count() - sql.where(col("score") < 1400).count())

    // provably empty: planned set empty, result empty, no error
    val none = sql.where(col("grp") === "g5" && col("score") > 100000)
    assert(plannedFiles(none).isEmpty && none.count() == 0)

    // filterless scans never prune (and count-star pushdown sees all)
    assert(sql.count() == 1600)
  }
}
