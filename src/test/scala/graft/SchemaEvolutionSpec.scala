package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.pipeline.BucketedStateTable
import graft.sources.GraftStateCatalog

/** Schema evolution on the bucketed state table: ADD COLUMN must be a
  * pure widening — clean buckets keep their narrower files forever and
  * read back null-filled under the manifest's recorded schema, a
  * metadata-only [[BucketedStateTable.widenTo]] costs zero data I/O
  * regardless of table size (the 100 TB ALTER), time travel keeps each
  * snapshot's contemporary shape, and anything that is not a widening
  * (drop / rename / retype / NOT NULL add) refuses loudly. Mirrors the
  * reference's additive Liquibase-style migrations, where new columns
  * arrive nullable and old rows are never rewritten. */
class SchemaEvolutionSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft-evolve").toString

  private val s = spark
  import s.implicits._

  import org.apache.spark.sql.DataFrame
  private def seedFrame(n: Long): DataFrame =
    spark.range(n).select(concat(lit("k"), col("id")).as("k"), col("id").as("v"))

  test("widening merge rewrites only its dirty buckets; clean buckets read back null-filled") {
    val dir = tmp()
    val t = new BucketedStateTable(spark, s"$dir/state",
      keyCols = Seq("k"), numBuckets = 8, retentionFloorMillis = 0L)
    // past the bound (~2 KB a row): one file per bucket
    t.merge(StateLayouts.wide(seedFrame(200L)), keys = Seq("k"))
    val preWiden = t.commits().last

    // one-key widened batch: adds column w, touches ONE bucket
    val upd = Seq(("k7", 700L, "seven")).toDF("k", "v", "w")
    t.merge(upd, keys = Seq("k"))
    val stats = t.lastCommit.get
    assert(stats.bucketsWritten.size == 1,
      s"a 1-key widening merge must stay bucket-pruned, wrote ${stats.bucketsWritten}")

    val cur = t.read().get
    assert(cur.schema.fieldNames.toSeq == Seq("k", "v", "pad", "w"))
    assert(cur.count() == 200L)
    assert(cur.filter(col("k") === "k7").select("v", "w").collect().toSeq
      .map(r => (r.getLong(0), r.getString(1))) == Seq((700L, "seven")))
    // an untouched row in a CLEAN (never rewritten) bucket is null-filled
    assert(cur.filter(col("w").isNull).count() == 199L)

    // time travel keeps the pre-widening snapshot's contemporary shape
    val old = t.readAt(preWiden).get
    assert(old.schema.fieldNames.toSeq == Seq("k", "v", "pad"))
    assert(old.count() == 200L)
  }

  test("widenTo is a metadata-only commit: zero buckets written, no data dir, 100 TB-invariant") {
    val dir = tmp()
    val t = new BucketedStateTable(spark, s"$dir/state",
      keyCols = Seq("k"), numBuckets = 8, retentionFloorMillis = 0L)
    t.merge(seedFrame(100L), keys = Seq("k"))
    val dataDirsBefore = new java.io.File(s"$dir/state/data").listFiles().length

    t.widenTo(StructType(Seq(
      StructField("k", StringType), StructField("v", LongType),
      StructField("score", DoubleType))))
    val stats = t.lastCommit.get
    assert(stats.bucketsRead.isEmpty && stats.bucketsWritten.isEmpty,
      "widenTo must not read or write any bucket")
    assert(new java.io.File(s"$dir/state/data").listFiles().length == dataDirsBefore,
      "widenTo must not create a data directory")

    val cur = t.read().get
    assert(cur.schema.fieldNames.toSeq == Seq("k", "v", "score"))
    assert(cur.schema("score").nullable, "added columns are forced nullable")
    assert(cur.filter(col("score").isNull).count() == 100L)

    // a later merge under the widened shape backfills normally
    t.merge(Seq(("k3", 3L, 0.5)).toDF("k", "v", "score"), keys = Seq("k"))
    assert(t.read().get.filter(col("score").isNotNull).count() == 1L)

    // widening to the CURRENT shape is a no-op (no empty commit)
    val commits = t.commits()
    t.widenTo(StructType(Seq(
      StructField("k", StringType), StructField("v", LongType),
      StructField("score", DoubleType))))
    assert(t.commits() == commits, "no-op widen must not publish a commit")
  }

  test("narrowing, renames, and type changes refuse loudly") {
    val dir = tmp()
    val t = new BucketedStateTable(spark, s"$dir/state",
      keyCols = Seq("k"), numBuckets = 8, retentionFloorMillis = 0L)
    t.merge(seedFrame(50L), keys = Seq("k"))
    t.widenTo(StructType(Seq(
      StructField("k", StringType), StructField("v", LongType),
      StructField("w", StringType))))

    val retype = intercept[IllegalArgumentException] {
      t.widenTo(StructType(Seq(
        StructField("k", StringType), StructField("v", IntegerType),
        StructField("w", StringType))))
    }
    assert(retype.getMessage.contains("changes column `v`"), retype.getMessage)

    // a SIDEWAYS retype arriving through merge must refuse exactly like
    // widenTo does — it must not ride unionByName's silent coercion into
    // the commit (the manifest would record the coerced type while clean
    // buckets still hold the old physical type). A NARROWER-typed batch
    // (int into long) is no longer a refusal: it upcasts — see the
    // type-widening tests below.
    val retypeMerge = intercept[IllegalArgumentException] {
      t.merge(Seq(("k1", "eleven", "one")).toDF("k", "v", "w"),
        keys = Seq("k"))
    }
    assert(retypeMerge.getMessage.contains("changes column `v`"),
      retypeMerge.getMessage)

    val drop = intercept[IllegalArgumentException] {
      t.widenTo(StructType(Seq(
        StructField("k", StringType), StructField("v", LongType))))
    }
    assert(drop.getMessage.contains("drops column `w`"), drop.getMessage)
  }

  test("a pre-widenTo narrow writer keeps working: known columns update, unknown columns preserve (JDBC-twin contract)") {
    val dir = tmp()
    val t = new BucketedStateTable(spark, s"$dir/state",
      keyCols = Seq("k"), numBuckets = 8, retentionFloorMillis = 0L)
    t.merge(seedFrame(50L), keys = Seq("k"))
    t.widenTo(StructType(Seq(
      StructField("k", StringType), StructField("v", LongType),
      StructField("w", StringType))))
    // backfill w for two keys under the widened shape
    t.merge(Seq(("k1", 1L, "one"), ("k2", 2L, "two")).toDF("k", "v", "w"),
      keys = Seq("k"))

    // a not-yet-redeployed writer still merges the OLD narrow shape —
    // JdbcStateTable.widenTo documents the contract: it updates the
    // columns it knows; columns it doesn't know keep the current row's
    // value (NOT null-overwritten), null for genuinely new keys
    t.merge(Seq(("k1", 111L), ("knew", 999L)).toDF("k", "v"), keys = Seq("k"))
    val cur = t.read().get
    assert(cur.schema.fieldNames.toSeq == Seq("k", "v", "w"),
      "a narrow merge must not narrow the recorded schema")
    val k1 = cur.filter(col("k") === "k1").select("v", "w").collect().head
    assert(k1.getLong(0) == 111L, "the known column must take the update")
    assert(k1.getString(1) == "one",
      "the unknown column must keep the freshly migrated value, not null")
    val knew = cur.filter(col("k") === "knew").select("v", "w").collect().head
    assert(knew.getLong(0) == 999L && knew.isNullAt(1))
    assert(cur.count() == 51L)

    // same contract on the row-level-DML verb (applyDelta upserts)
    t.applyDelta(
      upserts = Seq(("k2", 222L)).toDF("k", "v"),
      deleteKeys = Seq(Tuple1("knew")).toDF("k"), keys = Seq("k"))
    val after = t.read().get
    val k2 = after.filter(col("k") === "k2").select("v", "w").collect().head
    assert(k2.getLong(0) == 222L && k2.getString(1) == "two")
    assert(after.filter(col("k") === "knew").count() == 0L)
    assert(after.schema.fieldNames.toSeq == Seq("k", "v", "w"))

    // a narrow update carrying a SIDEWAYS retype still refuses (an
    // int-into-long batch now upcasts instead — the widening contract)
    val retype = intercept[IllegalArgumentException] {
      t.merge(Seq(("k1", 0.5)).toDF("k", "v"), keys = Seq("k"))
    }
    assert(retype.getMessage.contains("changes column `v`"), retype.getMessage)

    // null-keyed rows preserve too: mergeByKey groups null keys
    // together, so the preserve lookup is null-safe to match
    t.merge(Seq((null.asInstanceOf[String], 7L, "nullw")).toDF("k", "v", "w"),
      keys = Seq("k"))
    t.merge(Seq((null.asInstanceOf[String], 8L)).toDF("k", "v"),
      keys = Seq("k"))
    val nk = t.read().get.filter(col("k").isNull)
      .select("v", "w").collect()
    assert(nk.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((8L, "nullw")),
      "a null-keyed narrow update must keep the widened column")
  }

  test("a narrow merge whose dirty buckets are ALL empty must not narrow the recorded schema") {
    val dir = tmp()
    val t = new BucketedStateTable(spark, s"$dir/state",
      keyCols = Seq("k"), numBuckets = 64, retentionFloorMillis = 0L)
    // one wide row -> exactly one populated bucket; w carries real data
    t.merge(Seq(("k1", 1L, "one")).toDF("k", "v", "w"), keys = Seq("k"))

    // candidate keys hashed the way the table buckets them, one job
    val buckets = (2 to 200).map(i => s"k$i").toDF("k")
      .select(col("k"), pmod(xxhash64(col("k")), lit(64L)).cast("int").as("b"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    val b1 = buckets.getOrElse("k1",
      Seq(("k1", 0)).toDF("k", "z").select(
        pmod(xxhash64(col("k")), lit(64L)).cast("int")).collect().head.getInt(0))
    val elsewhere = buckets.collect {
      case (k, b) if b != b1 => k }.toSeq.sorted

    // a pre-widen NARROW writer whose dirty bucket holds NO data: the
    // empty "current" must take the MANIFEST's recorded wide shape, or
    // the commit records the narrow schema and w vanishes from every
    // subsequent read (the regression the advisor named)
    t.merge(Seq((elsewhere.head, 2L)).toDF("k", "v"), keys = Seq("k"))
    val cur = t.read().get
    assert(cur.schema.fieldNames.toSeq == Seq("k", "v", "w"),
      "an all-empty-bucket narrow merge must not narrow the recorded schema")
    assert(cur.filter(col("k") === "k1").select("w").collect()
      .head.getString(0) == "one",
      "the widened column's data must survive the narrow merge")
    assert(cur.filter(col("k") === elsewhere.head).select("w")
      .collect().head.isNullAt(0))

    // same hole on the row-level-DML verb: narrow upsert + a delete of
    // a key in another empty bucket
    t.applyDelta(
      upserts = Seq((elsewhere(1), 3L)).toDF("k", "v"),
      deleteKeys = Seq(Tuple1(elsewhere(2))).toDF("k"), keys = Seq("k"))
    val after = t.read().get
    assert(after.schema.fieldNames.toSeq == Seq("k", "v", "w"),
      "an all-empty-bucket narrow applyDelta must not narrow the schema")
    assert(after.filter(col("k") === "k1").select("w").collect()
      .head.getString(0) == "one")
  }

  test("a widenTo racing a data commit retries and lands; a data commit racing a widenTo withdraws") {
    val dir = tmp()
    val t = new BucketedStateTable(spark, s"$dir/state",
      keyCols = Seq("k"), numBuckets = 8, keepCommits = 10,
      retentionFloorMillis = 60_000L)
    t.merge(seedFrame(20L), keys = Seq("k"))
    val t2 = new BucketedStateTable(spark, s"$dir/state",
      keyCols = Seq("k"), numBuckets = 8, keepCommits = 10,
      retentionFloorMillis = 60_000L,
      leaseStore = Some(new graft.pipeline.InMemoryCasStore))

    // a foreign DATA commit lands inside the widenTo's publish window:
    // the metadata-only ALTER re-derives pointers from the new head and
    // retries — it must land WITH the interleaved row intact
    t.beforePublish = () => {
      t.beforePublish = () => ()
      t2.merge(Seq(("knew", 999L)).toDF("k", "v"), keys = Seq("k"))
    }
    t.widenTo(StructType(Seq(
      StructField("k", StringType), StructField("v", LongType),
      StructField("w", StringType))))
    val cur = t.read().get
    assert(cur.schema.fieldNames.toSeq == Seq("k", "v", "w"))
    assert(cur.count() == 21L, "the interleaved data commit must survive the ALTER")
    assert(cur.filter(col("k") === "knew").select("v", "w").collect()
      .map(r => (r.getLong(0), r.isNullAt(1))).toSeq == Seq((999L, true)))

    // the INVERSE race: a data commit whose publish races a concurrent
    // widenTo withdraws (republishing its narrower recorded schema
    // would silently undo the ALTER) — and the retry then preserves
    // the newly added column per the narrow-writer contract
    t.beforePublish = () => {
      t.beforePublish = () => ()
      t2.widenTo(StructType(Seq(
        StructField("k", StringType), StructField("v", LongType),
        StructField("w", StringType), StructField("x", LongType))))
    }
    val ex = intercept[java.util.ConcurrentModificationException] {
      t.merge(Seq(("k1", 111L)).toDF("k", "v"), keys = Seq("k"))
    }
    assert(ex.getMessage.contains("retry"), ex.getMessage)
    t.merge(Seq(("k1", 111L)).toDF("k", "v"), keys = Seq("k"))
    val after = t.read().get
    assert(after.schema.fieldNames.toSeq == Seq("k", "v", "w", "x"),
      "the concurrent ALTER must survive the retried data commit")
    assert(after.filter(col("k") === "k1").select("v").collect()
      .head.getLong(0) == 111L)
  }

  test("change feed diffs across a widening boundary with null-column preimages") {
    val dir = tmp()
    val t = new BucketedStateTable(spark, s"$dir/state",
      keyCols = Seq("k"), numBuckets = 8, keepCommits = 10,
      retentionFloorMillis = 0L)
    t.merge(seedFrame(20L), keys = Seq("k"))
    val from = t.commits().last

    t.widenTo(StructType(Seq(
      StructField("k", StringType), StructField("v", LongType),
      StructField("w", StringType))))
    t.merge(Seq(("k5", 5L, "five"), ("k999", 999L, null: String))
      .toDF("k", "v", "w"), keys = Seq("k"))
    val to = t.commits().last

    val ch = t.changesBetween(from, to)
    assert(ch.schema.fieldNames.toSeq == Seq("change_type", "k", "v", "w"))
    val byType = ch.collect().toSeq
      .map(r => (r.getString(0), r.getString(1),
        Option(r.get(3)).map(_.toString).orNull))
      .groupBy(_._1)
    assert(byType("insert").map(_._2) == Seq("k999"))
    // k5's preimage predates the column: null w; postimage carries it
    assert(byType("update_preimage") == Seq(("update_preimage", "k5", null)))
    assert(byType("update_postimage") == Seq(("update_postimage", "k5", "five")))
    // rows in the same (rewritten) bucket whose values did not change
    // must NOT surface as updates just because the schema widened
    assert(!byType.contains("delete"))
    assert(byType("update_preimage").size == 1)

    // widen-then-DRAIN: the to-snapshot is empty, so its RECORDED
    // schema (not the from-side's narrower data) must shape the diff —
    // delete preimages carry the widened column (null for rows that
    // predate it)
    t.applyDelta(
      upserts = Seq.empty[(String, Long, String)].toDF("k", "v", "w"),
      deleteKeys = t.read().get.select("k"), keys = Seq("k"))
    val drained = t.changesBetween(from, t.commits().last)
    assert(drained.schema.fieldNames.toSeq == Seq("change_type", "k", "v", "w"))
    assert(drained.filter(col("change_type") === "delete").count() == 20L)
  }

  test("ParquetStateTable: a widened merge evolves the snapshot; old versions keep their shape; narrow writers preserve") {
    val dir = tmp()
    val t = new graft.pipeline.ParquetStateTable(spark, s"$dir/state",
      retentionFloorMillis = 0L)
    t.merge(seedFrame(30L), keys = Seq("k"))
    val v1 = t.latestVersion.get

    t.merge(Seq(("k3", 33L, "three")).toDF("k", "v", "w"), keys = Seq("k"))
    val cur = t.read().get
    assert(cur.schema.fieldNames.toSeq == Seq("k", "v", "w"))
    assert(cur.count() == 30L)
    assert(cur.filter(col("w").isNull).count() == 29L)
    assert(cur.filter(col("k") === "k3").select("v", "w").collect().toSeq
      .map(r => (r.getLong(0), r.getString(1))) == Seq((33L, "three")))
    // each version dir is a COMPLETE snapshot: the old one keeps its shape
    assert(spark.read.parquet(f"$dir/state/v$v1%08d").schema.fieldNames.toSeq ==
      Seq("k", "v"))

    // a pre-widen narrow writer: known columns update, w preserves
    // (JDBC-twin contract; full contract spec'd on BucketedStateTable)
    t.merge(Seq(("k3", 34L)).toDF("k", "v"), keys = Seq("k"))
    val after = t.read().get
    assert(after.schema.fieldNames.toSeq == Seq("k", "v", "w"))
    assert(after.filter(col("k") === "k3").select("v", "w").collect().toSeq
      .map(r => (r.getLong(0), r.getString(1))) == Seq((34L, "three")))
    // a SIDEWAYS retype still refuses (int-into-long upcasts instead)
    val retype = intercept[IllegalArgumentException] {
      t.merge(Seq(("k1", 0.5)).toDF("k", "v"), keys = Seq("k"))
    }
    assert(retype.getMessage.contains("changes column `v`"), retype.getMessage)
  }

  test("JdbcStateTable: widenTo issues ALTER ADD COLUMN and returns a widened handle; the old handle keeps working") {
    val dir = tmp()
    val url = s"jdbc:duckdb:$dir/state.db"
    val cf = new graft.sinks.ConnectionFactory {
      @transient private lazy val anchor: java.sql.Connection =
        java.sql.DriverManager.getConnection(url)
      def apply(): java.sql.Connection = {
        anchor; java.sql.DriverManager.getConnection(url)
      }
    }
    val narrowSchema = StructType(Seq(
      StructField("k", StringType, nullable = false),
      StructField("v", LongType, nullable = true)))
    val t = new graft.pipeline.JdbcStateTable(spark, "docs", narrowSchema,
      Seq("k"), cf, s"$dir/scratch", graft.sinks.SqlDialect.DuckDb)
    t.ensureTables()
    t.merge(Seq(("a", 1L), ("b", 2L)).toDF("k", "v"), keys2 = Seq("k"))

    val wide = t.widenTo(StructType(narrowSchema.fields ++ Seq(
      StructField("w", StringType, nullable = true))))
    // the widened handle reads old rows null-filled and upserts the new column
    assert(wide.read().get.schema.fieldNames.toSeq == Seq("k", "v", "w"))
    wide.merge(Seq(("b", 20L, "bee")).toDF("k", "v", "w"), keys2 = Seq("k"))
    val rows = wide.read().get.orderBy("k").collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1),
      Option(r.getString(2)).orNull)).toSeq ==
      Seq(("a", 1L, null), ("b", 20L, "bee")))

    // the pre-migration handle keeps its fixed statement shapes: it
    // reads and writes the columns it knows, the database null-fills w
    assert(t.read().get.schema.fieldNames.toSeq == Seq("k", "v"))
    t.merge(Seq(("c", 3L)).toDF("k", "v"), keys2 = Seq("k"))
    assert(wide.read().get.filter(col("k") === "c").collect()
      .map(r => Option(r.getString(2)).orNull).toSeq == Seq(null))

    // same refusal contract as the parquet tables
    val retype = intercept[IllegalArgumentException] {
      t.widenTo(StructType(Seq(
        StructField("k", StringType), StructField("v", IntegerType))))
    }
    assert(retype.getMessage.contains("changes column `v`"), retype.getMessage)
  }

  test("JdbcStateTable: widenTo escapes metadata wildcards — a sibling matching the '_' pattern must not suppress the ALTER") {
    val dir = tmp()
    val url = s"jdbc:duckdb:$dir/state.db"
    val cf = new graft.sinks.ConnectionFactory {
      @transient private lazy val anchor: java.sql.Connection =
        java.sql.DriverManager.getConnection(url)
      def apply(): java.sql.Connection = {
        anchor; java.sql.DriverManager.getConnection(url)
      }
    }
    // decoy: "docXlengths" matches an UNESCAPED JDBC search pattern
    // "doc_lengths" ('_' = any char) and already carries the new
    // column — the unescaped metadata probe saw w as "existing",
    // silently skipped the real table's ALTER, and left the widened
    // handle disagreeing with the physical table
    val raw = cf()
    try raw.createStatement().execute(
      "CREATE TABLE \"docXlengths\" " +
        "(\"k\" VARCHAR, \"v\" BIGINT, \"w\" VARCHAR)")
    finally raw.close()

    val narrowSchema = StructType(Seq(
      StructField("k", StringType, nullable = false),
      StructField("v", LongType, nullable = true)))
    val t = new graft.pipeline.JdbcStateTable(spark, "doc_lengths",
      narrowSchema, Seq("k"), cf, s"$dir/scratch",
      graft.sinks.SqlDialect.DuckDb)
    t.ensureTables()
    t.merge(Seq(("a", 1L)).toDF("k", "v"), keys2 = Seq("k"))

    val wide = t.widenTo(StructType(narrowSchema.fields ++ Seq(
      StructField("w", StringType, nullable = true))))
    // if the ALTER was skipped, this upsert (or the read of w) blows up
    wide.merge(Seq(("a", 10L, "aye")).toDF("k", "v", "w"), keys2 = Seq("k"))
    assert(wide.read().get.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getString(2))).toSeq ==
      Seq(("a", 10L, "aye")))
    // and the already-added fast path stays idempotent under escaping
    // (re-widening to the same shape must not re-issue the ALTER)
    val again = wide.widenTo(StructType(narrowSchema.fields ++ Seq(
      StructField("w", StringType, nullable = true))))
    assert(again.read().get.count() == 1L)
  }

  test("SQL: ALTER TABLE ADD COLUMNS widens; INSERT backfills; guards refuse") {
    val dir = tmp()
    spark.conf.set("spark.sql.catalog.graft_evo",
      classOf[GraftStateCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_evo.root", dir)
    try {
      spark.sql("CREATE TABLE graft_evo.docs (k STRING, v BIGINT) " +
        "TBLPROPERTIES ('keycols'='k', 'numbuckets'='8')")
      spark.sql("INSERT INTO graft_evo.docs VALUES ('a', 1), ('b', 2)")

      spark.sql("ALTER TABLE graft_evo.docs ADD COLUMNS (score DOUBLE, lang STRING)")
      val widened = spark.sql("SELECT * FROM graft_evo.docs ORDER BY k")
      assert(widened.schema.fieldNames.toSeq == Seq("k", "v", "score", "lang"))
      assert(widened.collect().map(r => (r.getString(0), r.isNullAt(2))).toSeq ==
        Seq(("a", true), ("b", true)))

      // the widened INSERT upserts normally; old rows stay null-filled
      spark.sql("INSERT INTO graft_evo.docs VALUES ('b', 20, 0.9, 'en')")
      val rows = spark.sql(
        "SELECT k, v, score, lang FROM graft_evo.docs ORDER BY k").collect()
      assert(rows.map(_.getString(0)).toSeq == Seq("a", "b"))
      assert(rows(0).isNullAt(2) && rows(0).isNullAt(3))
      assert(rows(1).getLong(1) == 20L && rows(1).getDouble(2) == 0.9 &&
        rows(1).getString(3) == "en")

      // UPDATE can then backfill the new column through the delta path
      spark.sql("UPDATE graft_evo.docs SET lang = 'de' WHERE k = 'a'")
      assert(spark.sql("SELECT lang FROM graft_evo.docs WHERE k = 'a'")
        .collect().head.getString(0) == "de")

      val notNull = intercept[Exception] {
        spark.sql("ALTER TABLE graft_evo.docs ADD COLUMNS (req INT NOT NULL)")
      }
      assert(notNull.getMessage.contains("NOT NULL"), notNull.getMessage)
      val dropCol = intercept[Exception] {
        spark.sql("ALTER TABLE graft_evo.docs DROP COLUMN score")
      }
      assert(dropCol.getMessage.contains("full rewrite into a new table"),
        dropCol.getMessage)
    } finally {
      spark.conf.unset("spark.sql.catalog.graft_evo")
      spark.conf.unset("spark.sql.catalog.graft_evo.root")
    }
  }

  // ── type widening (lossless promotions) ───────────────────────────────

  test("widenTo promotes int to long metadata-only; old int files read back upcast") {
    val dir = tmp()
    val t = new BucketedStateTable(spark, s"$dir/state",
      keyCols = Seq("k"), numBuckets = 8, retentionFloorMillis = 0L,
      keepCommits = 10)
    t.merge(spark.range(200L).select(
        concat(lit("k"), col("id")).as("k"), col("id").cast("int").as("v")),
      keys = Seq("k"))
    val preWiden = t.commits().last

    t.widenTo(StructType(Seq(
      StructField("k", StringType), StructField("v", LongType))))
    val stats = t.lastCommit.get
    assert(stats.bucketsRead.isEmpty && stats.bucketsWritten.isEmpty,
      "a promotion must be metadata-only: zero buckets touched")

    // every bucket still holds int32 files; the recorded schema upcasts
    val rd = t.read().get
    assert(rd.schema("v").dataType == LongType)
    assert(rd.count() == 200L &&
      rd.agg(sum(col("v"))).head.getLong(0) == (0L until 200L).sum)

    // a value only a long can hold lands through an ordinary merge and
    // coexists with never-rewritten int buckets
    t.merge(Seq(("k7", 5000000000L)).toDF("k", "v"), keys = Seq("k"))
    val after = t.read().get
    assert(after.filter(col("k") === "k7").head.getLong(1) == 5000000000L)
    assert(after.filter(col("k") === "k123").head.getLong(1) == 123L)

    // a NARROW-typed late writer (pre-promotion int batch) upcasts in
    val narrow = Seq(("k9", 99)).toDF("k", "v")
    assert(narrow.schema("v").dataType == IntegerType)
    t.merge(narrow, keys = Seq("k"))
    assert(t.read().get.filter(col("k") === "k9").head.getLong(1) == 99L)

    // time travel keeps the snapshot's contemporary (narrow) type
    assert(t.readAt(preWiden).get.schema("v").dataType == IntegerType)

    // the change feed diffs ACROSS the promotion boundary: int
    // preimages flow upcast next to long postimages (k7 and k9 both
    // pre-exist in the seed, so both emit as updates)
    val feed = t.changesBetween(preWiden, t.commits().last)
      .orderBy(col("k"), col("change_type")).collect()
    assert(feed.map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq ==
      Seq(("update_postimage", "k7", 5000000000L),
        ("update_preimage", "k7", 7L),
        ("update_postimage", "k9", 99L),
        ("update_preimage", "k9", 9L)))

    // narrowing back refuses
    val narrowBack = intercept[IllegalArgumentException] {
      t.widenTo(StructType(Seq(
        StructField("k", StringType), StructField("v", IntegerType))))
    }
    assert(narrowBack.getMessage.contains("changes column `v`"))
  }

  test("a wider-typed merge promotes the column without an explicit widenTo") {
    val dir = tmp()
    val t = new BucketedStateTable(spark, s"$dir/state",
      keyCols = Seq("k"), numBuckets = 8, retentionFloorMillis = 0L)
    t.merge(spark.range(100L).select(
        concat(lit("k"), col("id")).as("k"), col("id").cast("int").as("v")),
      keys = Seq("k"))
    t.merge(Seq(("k3", 6000000000L)).toDF("k", "v"), keys = Seq("k"))
    val rd = t.read().get
    assert(rd.schema("v").dataType == LongType)
    assert(rd.filter(col("k") === "k3").head.getLong(1) == 6000000000L)
    // clean buckets (still int files) read upcast under the new schema
    assert(rd.filter(col("k") === "k42").head.getLong(1) == 42L)
    // float → double rides the same path
    val f = new BucketedStateTable(spark, s"$dir/fstate",
      keyCols = Seq("k"), numBuckets = 4, retentionFloorMillis = 0L)
    f.merge(Seq(("a", 1.5f), ("b", 2.5f)).toDF("k", "x"), keys = Seq("k"))
    f.merge(Seq(("c", 3.25)).toDF("k", "x"), keys = Seq("k"))
    val fr = f.read().get
    assert(fr.schema("x").dataType == DoubleType)
    assert(fr.filter(col("k") === "a").head.getDouble(1) == 1.5)
  }

  test("bucketing columns never retype: the hash is type-sensitive") {
    val dir = tmp()
    // long-keyed table: bucket placement hashed over LongType values
    val t = new BucketedStateTable(spark, s"$dir/state",
      keyCols = Seq("id"), numBuckets = 8, retentionFloorMillis = 0L)
    t.merge(spark.range(100L).select(col("id"), col("id").as("v")),
      keys = Seq("id"))

    // a NARROWER-typed key batch (int ids) upcasts BEFORE hashing: it
    // must land in the buckets where the long-placed rows live — an
    // update, never a duplicate
    val narrowKeys = Seq((7, -7L)).toDF("id", "v")
    assert(narrowKeys.schema("id").dataType == IntegerType)
    t.merge(narrowKeys, keys = Seq("id"))
    val cur = t.read().get
    assert(cur.count() == 100L, "an int-keyed update must not duplicate")
    assert(cur.filter(col("id") === 7).select("v").head.getLong(0) == -7L)

    // promoting the KEY type refuses in every incremental path
    val intKeyed = new BucketedStateTable(spark, s"$dir/intkeyed",
      keyCols = Seq("id"), numBuckets = 8, retentionFloorMillis = 0L)
    intKeyed.merge(spark.range(50L)
        .select(col("id").cast("int").as("id"), col("id").as("v")),
      keys = Seq("id"))
    val widerKey = intercept[IllegalArgumentException] {
      intKeyed.merge(Seq((5L, 55L)).toDF("id", "v"), keys = Seq("id"))
    }
    assert(widerKey.getMessage.contains("bucketing column `id`"),
      widerKey.getMessage)
    val widenKey = intercept[IllegalArgumentException] {
      intKeyed.widenTo(StructType(Seq(
        StructField("id", LongType), StructField("v", LongType))))
    }
    assert(widenKey.getMessage.contains("cannot retype bucketing column"),
      widenKey.getMessage)
    // the probe side refuses too (a long probe would silently MISS)
    val probe = intercept[IllegalArgumentException] {
      intKeyed.readForKeys(Seq(Tuple1(5L)).toDF("id"),
        like = intKeyed.read().get)
    }
    assert(probe.getMessage.contains("bucketing column `id`"),
      probe.getMessage)
  }

  test("SQL: ALTER COLUMN TYPE widens metadata-only; lossy or narrowing retypes refuse") {
    val dir = tmp()
    spark.conf.set("spark.sql.catalog.graft_tw",
      classOf[GraftStateCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_tw.root", dir)
    try {
      spark.sql("CREATE TABLE graft_tw.m (k STRING, v INT) " +
        "TBLPROPERTIES ('keycols'='k', 'numbuckets'='4')")
      spark.sql("INSERT INTO graft_tw.m VALUES ('a', 1), ('b', 2)")
      spark.sql("ALTER TABLE graft_tw.m ALTER COLUMN v TYPE BIGINT")
      spark.sql("INSERT INTO graft_tw.m VALUES ('c', 5000000000)")
      val rows = spark.sql("SELECT k, v FROM graft_tw.m ORDER BY k").collect()
      assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq ==
        Seq(("a", 1L), ("b", 2L), ("c", 5000000000L)))

      // Spark's own analyzer refuses a narrowing before the catalog
      // even sees it (NOT_SUPPORTED_CHANGE_COLUMN) — either refusal
      // layer is fine, the statement must not land
      val narrow = intercept[Exception] {
        spark.sql("ALTER TABLE graft_tw.m ALTER COLUMN v TYPE INT")
      }
      assert(narrow.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN") ||
        narrow.getMessage.contains("changes column `v`"),
        narrow.getMessage)
      val lossy = intercept[Exception] {
        spark.sql("ALTER TABLE graft_tw.m ALTER COLUMN v TYPE DOUBLE")
      }
      assert(lossy.getMessage.contains("changes column `v`"),
        lossy.getMessage)
    } finally {
      spark.conf.unset("spark.sql.catalog.graft_tw")
      spark.conf.unset("spark.sql.catalog.graft_tw.root")
    }
  }

  test("JdbcStateTable: a widening promotion refuses (column types are the database's)") {
    // the refusal fires before any DDL, so no live connection is needed
    val t = new graft.pipeline.JdbcStateTable(spark, "tw_refuse",
      StructType(Seq(StructField("k", StringType), StructField("v", IntegerType))),
      Seq("k"),
      new graft.sinks.ConnectionFactory {
        def apply(): java.sql.Connection =
          fail("the type-promotion refusal must not touch the database")
      },
      tmp() + "/scratch")
    val ex = intercept[IllegalArgumentException] {
      t.widenTo(StructType(Seq(
        StructField("k", StringType), StructField("v", LongType))))
    }
    assert(ex.getMessage.contains("cannot retype column"), ex.getMessage)
  }
}
