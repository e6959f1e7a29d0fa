package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.pipeline.{BucketedStateTable, StateManifest}
import graft.sources.GraftStateCatalog

/** The SQL-addressable face of [[BucketedStateTable]]: the `graft-state`
  * DSv2 source and the `GraftStateCatalog` must resolve the same
  * manifest snapshot the library reader does, keep a loaded frame on its
  * snapshot while new commits land, push filters/pruning into the
  * underlying parquet scan, and refuse mutation — matching how the
  * reference's users reach its PostgreSQL tables in plain SQL
  * (`createSequencesAndTablesProductionDB.sql:19-89`). */
class GraftStateSourceSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft-statesrc").toString

  private def seeded(dir: String, name: String = "events",
      rows: Long = 1000L): BucketedStateTable = {
    val t = new BucketedStateTable(spark, s"$dir/$name",
      keyCols = Seq("k"), numBuckets = 8, retentionFloorMillis = 0L)
    t.merge(spark.range(rows)
      .select(concat(lit("k"), col("id")).as("k"), col("id").as("v")),
      keys = Seq("k"))
    t
  }

  test("graft-state: format read resolves the same snapshot as the library reader") {
    val dir = tmp()
    val t = seeded(dir)
    val viaSql = spark.read.format("graft-state").load(s"$dir/events")
    assert(viaSql.count() == 1000L)
    assert(viaSql.columns.toSeq == Seq("k", "v"))
    val lib = t.read().get.orderBy("k").collect().toSeq
    assert(viaSql.orderBy("k").collect().toSeq == lib)
  }

  test("graft-state: loading and planning a 64-bucket read starts no Spark job") {
    val dir = tmp()
    val t = new BucketedStateTable(spark, s"$dir/wide", keyCols = Seq("k"),
      numBuckets = 64, retentionFloorMillis = 0L, statsCols = Seq("v"))
    // past the bound (~2 KB a row): one file per bucket
    t.merge(StateLayouts.wide(spark.range(3000)
      .select(concat(lit("k"), col("id")).as("k"), col("id").as("v"))), keys = Seq("k"))
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    val (full, pruned) =
      try {
        val full = spark.read.format("graft-state").load(s"$dir/wide")
        // a zone-pruned scan: only buckets whose v range can hold v < 10
        val pruned = full.where(col("v") < 10)
        def planned(df: org.apache.spark.sql.DataFrame): Seq[String] =
          df.queryExecution.executedPlan.collect {
            case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
          }.flatMap {
            case m: graft.sources.ManifestStatsScan => Some(m.inner)
            case s => Some(s)
          }.flatMap {
            case p: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan =>
              p.fileIndex.inputFiles.toSeq
            case _ => Nil
          }
        val r = (planned(full), planned(pruned))
        BenchMetrics.drainListenerBus(spark.sparkContext)
        r
      } finally spark.sparkContext.removeSparkListener(l)
    // a ParquetTable over 64 paths lists them with a job (past
    // spark.sql.sources.parallelPartitionDiscovery.threshold = 32)
    assert(jobs.get == 0, s"loading and planning started ${jobs.get} jobs")
    assert(full.length == 64)
    assert(pruned.nonEmpty && pruned.length < full.length,
      s"zone pruning planned ${pruned.length} of ${full.length} files")
    assert(spark.read.format("graft-state").load(s"$dir/wide").where(col("v") < 10)
      .count() == 10L)
  }

  test("graft-state: a loaded frame keeps ITS snapshot; a fresh load sees the new commit; commit option time-travels") {
    val dir = tmp()
    val t = seeded(dir, rows = 100L)
    val old = spark.read.format("graft-state").load(s"$dir/events")
    val oldCommit = t.commits().last

    t.merge(Seq(("k5", 999L)).toDF("k", "v"), keys = Seq("k"))

    assert(old.filter(col("k") === "k5").select("v")
      .collect().map(_.getLong(0)).toSeq == Seq(5L),
      "the already-loaded frame must keep its manifest snapshot")
    val fresh = spark.read.format("graft-state").load(s"$dir/events")
    assert(fresh.filter(col("k") === "k5").select("v")
      .collect().map(_.getLong(0)).toSeq == Seq(999L))
    val pinned = spark.read.format("graft-state")
      .option("commit", oldCommit).load(s"$dir/events")
    assert(pinned.filter(col("k") === "k5").select("v")
      .collect().map(_.getLong(0)).toSeq == Seq(5L))
  }

  test("graft-state: SQL time travel — VERSION AS OF, TIMESTAMP AS OF, and the $history metadata table") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    val t = seeded(dir, rows = 100L)
    val c1 = t.commits().last
    t.merge(Seq(("k5", 999L)).toDF("k", "v"), keys = Seq("k"))
    val c2 = t.commits().last

    spark.conf.set("spark.sql.catalog.graft_tt",
      classOf[GraftStateCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_tt.root", dir)
    try {
      assert(spark.sql(
        s"SELECT v FROM graft_tt.events VERSION AS OF $c1 WHERE k = 'k5'")
        .collect().map(_.getLong(0)).toSeq == Seq(5L))
      assert(spark.sql(
        s"SELECT v FROM graft_tt.events VERSION AS OF $c2 WHERE k = 'k5'")
        .collect().map(_.getLong(0)).toSeq == Seq(999L))
      val badVersion = intercept[Exception] {
        spark.sql("SELECT * FROM graft_tt.events VERSION AS OF 999").collect()
      }
      assert(badVersion.getMessage.contains("not retained"),
        badVersion.getMessage)

      // $history lists the retained commit log as rows
      val hist = spark.sql(
        "SELECT commit_id, n_buckets FROM graft_tt.`events$history` " +
          "ORDER BY commit_id").collect()
      assert(hist.map(_.getLong(0)).toSeq == t.commits(),
        s"history must list the retained commits, got ${hist.toSeq}")
      assert(hist.forall(_.getInt(1) > 0))

      // TIMESTAMP AS OF resolves through the manifests' publish times:
      // 'now' resolves to the newest commit; a timestamp before the
      // oldest retained commit refuses
      assert(spark.sql(
        "SELECT v FROM graft_tt.events TIMESTAMP AS OF current_timestamp() " +
          "WHERE k = 'k5'").collect().map(_.getLong(0)).toSeq == Seq(999L))
      val tooOld = intercept[Exception] {
        spark.sql("SELECT * FROM graft_tt.events " +
          "TIMESTAMP AS OF TIMESTAMP '2000-01-01 00:00:00'").collect()
      }
      assert(tooOld.getMessage.contains("predates the oldest retained"),
        tooOld.getMessage)
    } finally {
      spark.conf.unset("spark.sql.catalog.graft_tt")
      spark.conf.unset("spark.sql.catalog.graft_tt.root")
    }
  }

  test("graft-state: filters and column pruning reach the parquet scan") {
    val dir = tmp()
    seeded(dir)
    val plan = spark.read.format("graft-state").load(s"$dir/events")
      .filter(col("k") === "k42").select("v")
      .queryExecution.executedPlan.toString
    // key columns are declared NON-NULL (they are the row identity, and
    // the row-level rewrite requires it), so Catalyst elides the
    // IsNotNull guard — only the equality reaches the scan
    assert(plan.contains("PushedFilters: [EqualTo(k,k42)]"),
      s"filter must push into the parquet scan:\n$plan")
    assert(plan.contains("ReadSchema: struct<k:string,v:bigint>"),
      s"scan must prune to the referenced columns:\n$plan")
  }

  test("graft-state: catalog makes state tables plain-SQL addressable; layout-changing DDL refuses") {
    val dir = tmp()
    seeded(dir, "oai_headers", rows = 500L)
    seeded(dir, "reporting_docs", rows = 50L)
    spark.conf.set("spark.sql.catalog.graft_state",
      classOf[GraftStateCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_state.root", dir)
    try {
      assert(spark.sql("SELECT count(*) AS n FROM graft_state.oai_headers")
        .collect().head.getLong(0) == 500L)
      assert(spark.sql(
        "SELECT v FROM graft_state.reporting_docs WHERE k = 'k7'")
        .collect().map(_.getLong(0)).toSeq == Seq(7L))
      val names = spark.sql("SHOW TABLES IN graft_state")
        .select("tableName").collect().map(_.getString(0)).toSet
      assert(names == Set("oai_headers", "reporting_docs"))
      // layout-changing DDL stays refused (ADD COLUMNS is now supported
      // — SchemaEvolutionSpec owns that surface; DROP/CREATE live in
      // the lifecycle test below)
      val ex = intercept[Exception] {
        spark.sql("ALTER TABLE graft_state.oai_headers RENAME COLUMN k TO key")
      }
      assert(ex.getMessage.contains("full rewrite into a new table"), s"got: ${ex.getMessage}")
      // mutate through the library; a NEW statement sees the commit
      val t = new BucketedStateTable(spark, s"$dir/oai_headers",
        keyCols = Seq("k"), numBuckets = 8, retentionFloorMillis = 0L)
      t.merge(Seq(("brand-new", 1L)).toDF("k", "v"), keys = Seq("k"))
      assert(spark.sql("SELECT count(*) AS n FROM graft_state.oai_headers")
        .collect().head.getLong(0) == 501L)
    } finally {
      spark.conf.unset("spark.sql.catalog.graft_state")
      spark.conf.unset("spark.sql.catalog.graft_state.root")
    }
  }

  test("graft-state: a committed-but-EMPTY (drained) table reads as zero rows under its recorded schema") {
    val dir = tmp()
    val t = seeded(dir, "queue", rows = 50L)
    val preDrain = t.commits().last
    t.deleteWhereUnmodified(t.read().get) // drain the queue completely
    assert(t.read().get.count() == 0L,
      "library reader: drained reads as Some(empty) — the trait contract")

    // the DSv2 face must agree with tableExists (true), not throw:
    // SELECT count(*) over a drained state table answers 0
    val df = spark.read.format("graft-state").load(s"$dir/queue")
    assert(df.columns.toSeq == Seq("k", "v"))
    assert(df.schema("v").dataType == org.apache.spark.sql.types.LongType)
    assert(df.count() == 0L)
    // and a filtered projection plans over the empty scan fine
    assert(df.filter(col("k") === "k1").select("v").count() == 0L)

    // time travel still resolves the pre-drain snapshot's data
    assert(spark.read.format("graft-state")
      .option("commit", preDrain).load(s"$dir/queue").count() == 50L)

    // the catalog face agrees end-to-end (a FRESH catalog name: the
    // session's CatalogManager caches loaded catalogs by name, so the
    // other test's graft_state instance would keep ITS root)
    spark.conf.set("spark.sql.catalog.graft_drained",
      classOf[GraftStateCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_drained.root", dir)
    try
      assert(spark.sql("SELECT count(*) AS n FROM graft_drained.queue")
        .collect().head.getLong(0) == 0L)
    finally {
      spark.conf.unset("spark.sql.catalog.graft_drained")
      spark.conf.unset("spark.sql.catalog.graft_drained.root")
    }
  }

  test("graft-state: INSERT INTO upserts through the commit protocol; SQL and library writers interleave without lost updates") {
    val dir = tmp()
    val t = seeded(dir, "sqlw", rows = 100L)
    spark.conf.set("spark.sql.catalog.graft_sqlw",
      classOf[GraftStateCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_sqlw.root", dir)
    try {
      // a fresh key appends, an existing key UPDATES — INSERT INTO a
      // state table is a keyed MERGE, exactly the library semantics
      spark.sql(
        "INSERT INTO graft_sqlw.sqlw VALUES ('fresh', 1000), ('k5', 555)")
      val lib = t.read().get
      assert(lib.count() == 101L)
      assert(lib.filter(col("k") === "fresh").select("v")
        .collect().map(_.getLong(0)).toSeq == Seq(1000L))
      assert(lib.filter(col("k") === "k5").select("v")
        .collect().map(_.getLong(0)).toSeq == Seq(555L))
      // a new SQL statement resolves the post-insert snapshot
      assert(spark.sql("SELECT count(*) AS n FROM graft_sqlw.sqlw")
        .collect().head.getLong(0) == 101L)
      // the write went through the commit protocol: one new manifest,
      // not loose parquet appended into bucket directories
      assert(t.lastCommit.nonEmpty || t.commits().size >= 2)

      // INSERT OVERWRITE is refused (no truncate capability)
      val ex = intercept[Exception] {
        spark.sql("INSERT OVERWRITE graft_sqlw.sqlw VALUES ('x', CAST(1 AS BIGINT))")
      }
      assert(ex.getMessage.toLowerCase.contains("overwrite") ||
        ex.getMessage.contains("TRUNCATE"), s"got: ${ex.getMessage}")

      // concurrent SQL + library writers: the shared per-path JVM lock
      // and optimistic manifest publish must lose NOTHING
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val sqlThread = new Thread(() =>
        try (0 until 4).foreach { i =>
          spark.sql(s"INSERT INTO graft_sqlw.sqlw VALUES ('s$i', ${2000 + i})")
        } catch { case e: Throwable => errs.add(e) })
      val libThread = new Thread(() =>
        try (0 until 4).foreach { i =>
          t.merge(Seq((s"m$i", 3000L + i)).toDF("k", "v"), keys = Seq("k"))
        } catch { case e: Throwable => errs.add(e) })
      sqlThread.start(); libThread.start()
      sqlThread.join(120000); libThread.join(120000)
      assert(errs.isEmpty, s"writer failed: ${errs.peek()}")
      val after = t.read().get
      assert(after.count() == 109L)
      assert(after.filter(col("k").startsWith("s")).count() == 4L)
      assert(after.filter(col("k").startsWith("m")).count() == 4L)
    } finally {
      spark.conf.unset("spark.sql.catalog.graft_sqlw")
      spark.conf.unset("spark.sql.catalog.graft_sqlw.root")
    }
  }

  test("graft-state: DELETE FROM removes matching rows through the delete verb; full drain reads as empty") {
    val dir = tmp()
    val t = seeded(dir, "events", rows = 100L)
    spark.conf.set("spark.sql.catalog.graft_del",
      classOf[GraftStateCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_del.root", dir)
    try {
      // simple predicate
      spark.sql("DELETE FROM graft_del.events WHERE v < 10")
      assert(t.read().get.count() == 90L)
      // compound predicate with string + range legs
      spark.sql("DELETE FROM graft_del.events WHERE k = 'k50' OR v >= 95")
      val after = t.read().get
      assert(after.count() == 84L)
      assert(after.filter(col("k") === "k50").count() == 0L)
      assert(after.filter(col("v") >= 95).count() == 0L)
      assert(after.filter(col("v") === 42).count() == 1L)
      // the deletes were commits, not file surgery: history advanced
      assert(t.commits().size >= 2)
      // IN-list predicate
      spark.sql("DELETE FROM graft_del.events WHERE k IN ('k11', 'k12')")
      assert(t.read().get.count() == 82L)
      // TRUNCATE rides the same delete verb (SupportsDelete default)
      spark.sql("TRUNCATE TABLE graft_del.events")
      assert(t.read().get.count() == 0L, "TRUNCATE must drain the table")
      spark.sql("INSERT INTO graft_del.events VALUES ('again', CAST(1 AS BIGINT))")
      assert(t.read().get.count() == 1L)
      // unconditional DELETE drains; the drained table still reads
      spark.sql("DELETE FROM graft_del.events")
      assert(t.read().get.count() == 0L)
      assert(spark.sql("SELECT count(*) AS n FROM graft_del.events")
        .collect().head.getLong(0) == 0L)
      // and a drained table accepts INSERT again (resurrection via SQL)
      spark.sql("INSERT INTO graft_del.events VALUES ('back', CAST(7 AS BIGINT))")
      assert(t.read().get.count() == 1L)
    } finally {
      spark.conf.unset("spark.sql.catalog.graft_del")
      spark.conf.unset("spark.sql.catalog.graft_del.root")
    }
  }

  test("graft-state: a SQL write honors the owner's recorded retention policy") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    // owner keeps 5 commits with NO time floor — the policy the SQL
    // surface must adopt instead of its own defaults (a default
    // keepCommits=3 handle would destroy history the owner retains)
    val t = new BucketedStateTable(spark, s"$dir/hist",
      keyCols = Seq("k"), numBuckets = 4, keepCommits = 5,
      retentionFloorMillis = 0L)
    (0 until 6).foreach { i =>
      t.merge(Seq((s"k$i", i.toLong)).toDF("k", "v"), keys = Seq("k"))
    }
    assert(t.commits().size == 5)
    // backdate every manifest: any handle pruning by its own 10-minute
    // default floor would now really delete
    val fsRoot = new org.apache.hadoop.fs.Path(s"$dir/hist/_commits")
    val fs = fsRoot.getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(fsRoot).foreach(st =>
      fs.setTimes(st.getPath, System.currentTimeMillis() - 3600_000L, -1))

    spark.conf.set("spark.sql.catalog.graft_hist",
      classOf[GraftStateCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_hist.root", dir)
    try spark.sql("INSERT INTO graft_hist.hist VALUES ('sql', CAST(99 AS BIGINT))")
    finally {
      spark.conf.unset("spark.sql.catalog.graft_hist")
      spark.conf.unset("spark.sql.catalog.graft_hist.root")
    }
    // the SQL commit pruned by the OWNER's policy: newest 5 retained,
    // and the oldest of them still time-travels
    val retained = t.commits()
    assert(retained.size == 5, s"retained $retained")
    assert(t.readAt(retained.head).isDefined)
    assert(t.read().get.count() == 7L) // 6 keys + the SQL row
  }

  test("graft-state: a DELETE condition outside the filter algebra runs through the row-level delta path") {
    // pre-r15 this was REFUSED; the delta write makes it work: the scan
    // finds matching rows, their keys ferry back, one atomic commit
    val dir = tmp()
    val t = seeded(dir, "events", rows = 20L)
    spark.conf.set("spark.sql.catalog.graft_del2",
      classOf[GraftStateCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_del2.root", dir)
    try {
      val commitsBefore = t.commits().size
      spark.sql("DELETE FROM graft_del2.events WHERE v % 2 = 0")
      val after = t.read().get
      assert(after.count() == 10L)
      assert(after.filter(col("v") % 2 === 0).count() == 0L,
        "every even-v row must be gone")
      assert(t.commits().size == commitsBefore + 1,
        "one statement = one atomic commit")
    } finally {
      spark.conf.unset("spark.sql.catalog.graft_del2")
      spark.conf.unset("spark.sql.catalog.graft_del2.root")
    }
  }

  test("graft-state: UPDATE ... SET routes through the delta write; key-changing SET included") {
    val dir = tmp()
    val t = seeded(dir, "upd", rows = 100L)
    spark.conf.set("spark.sql.catalog.graft_upd",
      classOf[GraftStateCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_upd.root", dir)
    try {
      val commitsBefore = t.commits().size
      spark.sql(
        "UPDATE graft_upd.upd SET v = v + 1000 WHERE k IN ('k3', 'k7')")
      val after = t.read().get
      assert(after.count() == 100L, "UPDATE must not change cardinality")
      def vOf(k: String): Seq[Long] = after.filter(col("k") === k)
        .select("v").collect().map(_.getLong(0)).toSeq
      assert(vOf("k3") == Seq(1003L) && vOf("k7") == Seq(1007L))
      assert(vOf("k5") == Seq(5L), "untouched rows keep their values")
      assert(t.commits().size == commitsBefore + 1,
        "one statement = one atomic commit")

      // updating the KEY relocates the row (delete old id + upsert new
      // row — the delta pair the writer emits for every update)
      spark.sql("UPDATE graft_upd.upd SET k = 'k3moved' WHERE k = 'k3'")
      val moved = t.read().get
      assert(moved.count() == 100L)
      assert(moved.filter(col("k") === "k3").count() == 0L)
      assert(moved.filter(col("k") === "k3moved").select("v")
        .collect().map(_.getLong(0)).toSeq == Seq(1003L))
    } finally {
      spark.conf.unset("spark.sql.catalog.graft_upd")
      spark.conf.unset("spark.sql.catalog.graft_upd.root")
    }
  }

  test("graft-state: MERGE INTO updates, deletes, and inserts by key in ONE atomic commit") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    val t = seeded(dir, "mrg", rows = 10L)
    spark.conf.set("spark.sql.catalog.graft_mrg",
      classOf[GraftStateCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_mrg.root", dir)
    try {
      Seq(("k1", 100L), ("k2", -1L), ("brandnew", 500L))
        .toDF("k", "v").createOrReplaceTempView("mrg_src")
      val commitsBefore = t.commits().size
      spark.sql(
        """MERGE INTO graft_mrg.mrg t USING mrg_src s ON t.k = s.k
          |WHEN MATCHED AND s.v < 0 THEN DELETE
          |WHEN MATCHED THEN UPDATE SET v = s.v
          |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)
          |""".stripMargin)
      val after = t.read().get
      assert(after.count() == 10L, "10 - 1 delete + 1 insert")
      def vOf(k: String): Seq[Long] = after.filter(col("k") === k)
        .select("v").collect().map(_.getLong(0)).toSeq
      assert(vOf("k1") == Seq(100L), "WHEN MATCHED UPDATE")
      assert(after.filter(col("k") === "k2").count() == 0L,
        "WHEN MATCHED DELETE")
      assert(vOf("brandnew") == Seq(500L), "WHEN NOT MATCHED INSERT")
      assert(vOf("k5") == Seq(5L), "untouched rows survive")
      assert(t.commits().size == commitsBefore + 1,
        "the whole MERGE statement is one commit")

      // MERGE statements and concurrent library merges interleave
      // without lost updates — same lock + lease + optimistic publish
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val sqlThread = new Thread(() =>
        try (0 until 3).foreach { i =>
          spark.sql(
            s"""MERGE INTO graft_mrg.mrg t
               |USING (SELECT 'sq$i' AS k, ${7000 + i}L AS v) s ON t.k = s.k
               |WHEN MATCHED THEN UPDATE SET v = s.v
               |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)
               |""".stripMargin)
        } catch { case e: Throwable => errs.add(e) })
      val libThread = new Thread(() =>
        try (0 until 3).foreach { i =>
          t.merge(Seq((s"lm$i", 8000L + i)).toDF("k", "v"), keys = Seq("k"))
        } catch { case e: Throwable => errs.add(e) })
      sqlThread.start(); libThread.start()
      sqlThread.join(120000); libThread.join(120000)
      assert(errs.isEmpty, s"writer failed: ${errs.peek()}")
      val merged = t.read().get
      assert(merged.filter(col("k").startsWith("sq")).count() == 3L)
      assert(merged.filter(col("k").startsWith("lm")).count() == 3L)
    } finally {
      spark.conf.unset("spark.sql.catalog.graft_mrg")
      spark.conf.unset("spark.sql.catalog.graft_mrg.root")
    }
  }

  test("graft-state: writeStream sink merges micro-batches exact-once and converges on checkpoint restart") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val root = tmp()
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Long)]
    def startQ() = in.toDF().toDF("k", "v").writeStream
      .format("graft-state-sink")
      .option("path", s"$root/sink")
      .option("keyCols", "k")
      .option("numBuckets", "4")
      .option("checkpointLocation", s"$root/ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
      .start()
    val q = startQ()
    try {
      in.addData("a" -> 1L, "b" -> 2L); q.processAllAvailable()
      in.addData("a" -> 10L, "c" -> 3L); q.processAllAvailable()
    } finally q.stop()
    val t = new BucketedStateTable(spark, s"$root/sink",
      keyCols = Seq("k"), numBuckets = 4)
    def state(): Map[String, Long] = t.read().get.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // cross-batch merge: batch 2 updated a, inserted c
    assert(state() == Map("a" -> 10L, "b" -> 2L, "c" -> 3L))

    // at-least-once replay of a committed batch id in the sink's scope
    // (= the checkpoint location) is marker-skipped, not re-merged
    t.mergeOnceForBatch(1L, s"$root/ck",
      Seq("a" -> 999L).toDF("k", "v"), keys = Seq("k"))
    assert(state() == Map("a" -> 10L, "b" -> 2L, "c" -> 3L),
      "replayed batch id must be a no-op")

    // restart from the SAME checkpoint: nothing re-merges, new data flows
    val q2 = startQ()
    try {
      q2.processAllAvailable()
      assert(state() == Map("a" -> 10L, "b" -> 2L, "c" -> 3L))
      in.addData("d" -> 4L); q2.processAllAvailable()
      assert(state() == Map("a" -> 10L, "b" -> 2L, "c" -> 3L, "d" -> 4L))
    } finally q2.stop()
  }

  test("graft-state: full SQL lifecycle — CREATE TABLE, bucket transform, CTAS, DROP") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    spark.conf.set("spark.sql.catalog.graft_ddl",
      classOf[GraftStateCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_ddl.root", dir)
    try {
      // CREATE with keycols property: born as a committed EMPTY
      // snapshot every face resolves — SELECT, INSERT, MERGE all work
      spark.sql("CREATE TABLE graft_ddl.fresh (k STRING, v BIGINT) " +
        "TBLPROPERTIES ('keycols'='k', 'numbuckets'='4')")
      assert(spark.sql("SELECT count(*) AS n FROM graft_ddl.fresh")
        .collect().head.getLong(0) == 0L)
      spark.sql("INSERT INTO graft_ddl.fresh VALUES ('a', 1), ('b', 2)")
      // INSERT INTO a state table is a keyed merge: the second statement
      // UPDATES 'a' (update-beats-state), no duplicate row appears
      spark.sql("INSERT INTO graft_ddl.fresh VALUES ('a', 10)")
      assert(spark.sql("SELECT count(*) AS n FROM graft_ddl.fresh")
        .collect().head.getLong(0) == 2L)
      val lib = new BucketedStateTable(spark, s"$dir/fresh",
        keyCols = Seq("k"), numBuckets = 4)
      assert(lib.read().get.count() == 2L, "library face sees the SQL-created table")

      // PARTITIONED BY (bucket(n, col)) is the SQL spelling of the layout
      spark.sql("CREATE TABLE graft_ddl.bucketed (term STRING, doc_id BIGINT, tf BIGINT) " +
        "PARTITIONED BY (bucket(8, term)) TBLPROPERTIES ('keycols'='term,doc_id')")
      spark.sql("INSERT INTO graft_ddl.bucketed VALUES ('x', 1, 3)")
      assert(spark.sql("SELECT tf FROM graft_ddl.bucketed WHERE term = 'x'")
        .collect().map(_.getLong(0)).toSeq == Seq(3L))

      // CTAS: createTable from the query schema + INSERT-as-merge write
      spark.sql("CREATE TABLE graft_ddl.derived TBLPROPERTIES ('keycols'='k') " +
        "AS SELECT k, v * 10 AS v10 FROM graft_ddl.fresh")
      assert(spark.sql("SELECT sum(v10) AS s FROM graft_ddl.derived")
        .collect().head.getLong(0) == 120L)

      // guards: missing keycols; duplicate create; non-bucket partitioning
      val noKeys = intercept[Exception] {
        spark.sql("CREATE TABLE graft_ddl.nokeys (k STRING, v BIGINT)")
      }
      assert(noKeys.getMessage.contains("keycols"), s"got: ${noKeys.getMessage}")
      val dup = intercept[Exception] {
        spark.sql("CREATE TABLE graft_ddl.fresh (k STRING) TBLPROPERTIES ('keycols'='k')")
      }
      assert(dup.getMessage.toUpperCase.contains("EXISTS"), s"got: ${dup.getMessage}")

      // DROP removes the directory; the guarded path refuses to touch a
      // non-state directory (surfaces as Spark's standard error)
      spark.sql("DROP TABLE graft_ddl.fresh")
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/fresh")))
      val gone = intercept[Exception] {
        spark.sql("SELECT count(*) FROM graft_ddl.fresh")
      }
      assert(gone.getMessage.contains("fresh"), s"got: ${gone.getMessage}")
      // re-create after drop works (no stale state)
      spark.sql("CREATE TABLE graft_ddl.fresh (k STRING, n BIGINT) " +
        "TBLPROPERTIES ('keycols'='k')")
      assert(spark.sql("SELECT count(*) AS n FROM graft_ddl.fresh")
        .collect().head.getLong(0) == 0L)
    } finally {
      spark.conf.unset("spark.sql.catalog.graft_ddl")
      spark.conf.unset("spark.sql.catalog.graft_ddl.root")
    }
  }

  test("graft-state sink: missing replay scope fails fast — no table-path fallback") {
    // a user relying on the SESSION conf checkpoint dir gets a resolved
    // location the sink never sees in its parameters; falling back to
    // scope=path would make two queries (or a fresh-checkpoint restart)
    // share a scope and silently drop new batches as replays
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val root = tmp()
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Long)]
    spark.conf.set("spark.sql.streaming.checkpointLocation", s"$root/session-ck")
    try {
      val ex = intercept[Exception] {
        in.toDF().toDF("k", "v").writeStream
          .format("graft-state-sink")
          .option("path", s"$root/sink")
          .option("keyCols", "k")
          .start()
      }
      def chain(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: chain(t.getCause)
      assert(chain(ex).exists(t =>
        Option(t.getMessage).exists(_.contains("explicit replay scope"))),
        s"got: ${ex.getMessage}")
    } finally spark.conf.unset("spark.sql.streaming.checkpointLocation")
  }

  test("graft-state: an uncommitted table refuses with a clear message") {
    val dir = tmp()
    val ex = intercept[IllegalArgumentException] {
      spark.read.format("graft-state").load(s"$dir/empty").count()
    }
    assert(ex.getMessage.contains("no committed snapshot"))
  }

  private implicit class SeqToDf(s: Seq[(String, Long)]) {
    def toDF(c1: String, c2: String): org.apache.spark.sql.DataFrame =
      spark.createDataFrame(s).toDF(c1, c2)
  }

  test("SQL: CALL system.split_buckets/rebucket relayout in place; the feed diffs across the SQL split") {
    val dir = tmp()
    // keepCommits must cover the whole split+coalesce chain so the feed
    // base stays retained (fromLayout reconstructs this policy from the
    // manifest for every CALL)
    val t = new BucketedStateTable(spark, s"$dir/docs",
      keyCols = Seq("k"), numBuckets = 8, keepCommits = 10,
      retentionFloorMillis = 0L)
    t.merge(spark.range(200L)
      .select(concat(lit("k"), col("id")).as("k"), col("id").as("v")),
      keys = Seq("k"))
    val c1 = t.commits().last
    spark.conf.set("spark.sql.catalog.graft_proc",
      classOf[GraftStateCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_proc.root", dir)
    try {
      // CALL returns one summary row and the relayout is live at once
      val split = spark.sql(
        "CALL graft_proc.system.split_buckets(table => 'docs', factor => 2)")
        .collect()
      assert(split.map(r => (r.getString(0), r.getInt(1), r.getInt(2)))
        .toSeq == Seq(("docs", 8, 16)))
      assert(spark.sql("SELECT count(*) FROM graft_proc.docs")
        .head().getLong(0) == 200L)

      // post-split SQL write, then a cross-boundary library diff: the
      // SQL-driven split preserves change-feed continuity
      spark.sql("INSERT INTO graft_proc.docs VALUES ('k3', -3)")
      val layout = StateManifest.snapshot(
        spark.sessionState.newHadoopConf(), s"$dir/docs").flatMap(_.layout).get
      assert(layout.numBuckets == 16)
      val t16 = BucketedStateTable.fromLayout(spark, s"$dir/docs", layout)
      val feed = t16.changesBetween(c1, t16.commits().last).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      assert(feed == Set(("update_preimage", "k3", 3L),
        ("update_postimage", "k3", -3L)), feed.toString)

      // the SQL inverse: coalesce back down — and the library feed
      // still diffs the whole split+coalesce chain exactly
      val co = spark.sql(
        "CALL graft_proc.system.coalesce_buckets(table => 'docs', factor => 2)")
        .collect()
      assert(co.map(r => (r.getString(0), r.getInt(1), r.getInt(2)))
        .toSeq == Seq(("docs", 16, 8)))
      val layout8 = StateManifest.snapshot(
        spark.sessionState.newHadoopConf(), s"$dir/docs").flatMap(_.layout).get
      assert(layout8.numBuckets == 8)
      val t8 = BucketedStateTable.fromLayout(spark, s"$dir/docs", layout8)
      val feed2 = t8.changesBetween(c1, t8.commits().last).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      assert(feed2 == Set(("update_preimage", "k3", 3L),
        ("update_postimage", "k3", -3L)), feed2.toString)

      // the arbitrary relayout verb works too (and, per its contract,
      // strands the feed — that refusal is spec'd in
      // BucketedStateTableSpec)
      val re = spark.sql(
        "CALL graft_proc.system.rebucket(table => 'docs', num_buckets => 4)")
        .collect()
      assert(re.map(r => (r.getInt(1), r.getInt(2))).toSeq == Seq((8, 4)))
      assert(spark.sql("SELECT count(*) FROM graft_proc.docs")
        .head().getLong(0) == 200L)

      // unknown procedures refuse (Spark wraps as FAILED_TO_LOAD_ROUTINE;
      // the catalog's inventory message rides the cause chain)
      val bad = intercept[Exception] {
        spark.sql("CALL graft_proc.system.nope(table => 'docs')").collect()
      }
      val msgs = Iterator.iterate(bad: Throwable)(_.getCause)
        .takeWhile(_ != null).map(m => Option(m.getMessage).getOrElse(""))
        .mkString(" | ")
      assert(msgs.contains("nope"), msgs)

      // a traversal attempt in the table argument refuses up front
      val esc = intercept[Exception] {
        spark.sql("CALL graft_proc.system.rebucket(" +
          "table => '../outside', num_buckets => 2)").collect()
      }
      val escMsgs = Iterator.iterate(esc: Throwable)(_.getCause)
        .takeWhile(_ != null).map(m => Option(m.getMessage).getOrElse(""))
        .mkString(" | ")
      assert(escMsgs.contains("under the catalog root"), escMsgs)

      // SHOW PROCEDURES surfaces the inventory (listProcedures)
      val shown = spark.sql("SHOW PROCEDURES IN graft_proc.system")
        .collect().map(_.mkString("|")).mkString(";")
      assert(shown.contains("split_buckets") &&
        shown.contains("coalesce_buckets") && shown.contains("rebucket") &&
        shown.contains("analyze") && shown.contains("export"), shown)

      // export: the migration bridge as a CALL — one consistent
      // parquet snapshot plus a (table, path, rows) summary row
      val out = s"$dir/exported"
      val exp = spark.sql(
        s"CALL graft_proc.system.export(table => 'docs', path => '$out')")
        .collect()
      assert(exp.map(r => (r.getString(0), r.getLong(2))).toSeq ==
        Seq(("docs", 200L)))
      assert(spark.read.parquet(out).count() == 200L)
    } finally {
      spark.conf.unset("spark.sql.catalog.graft_proc")
      spark.conf.unset("spark.sql.catalog.graft_proc.root")
    }
  }

  test("splitBuckets on an EMPTY (drained) table publishes the layout change; the feed spans it") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    val t = new BucketedStateTable(spark, s"$dir/state",
      keyCols = Seq("k"), numBuckets = 4, keepCommits = 10,
      retentionFloorMillis = 0L)
    t.merge(Seq(("a", 1L)).toDF("k", "v"), keys = Seq("k"))
    val c1 = t.commits().last
    // drain, then split while empty
    t.applyDelta(upserts = Seq.empty[(String, Long)].toDF("k", "v"),
      deleteKeys = Seq(Tuple1("a")).toDF("k"), keys = Seq("k"))
    val t8 = t.splitBuckets(2)
    assert(t8.read().get.count() == 0L,
      "a drained table reads as zero rows after the split")
    // refill under the new layout; the cross-boundary diff nets out
    t8.merge(Seq(("b", 2L)).toDF("k", "v"), keys = Seq("k"))
    val feed = t8.changesBetween(c1, t8.commits().last).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(feed == Set(("delete", "a", 1L), ("insert", "b", 2L)), feed)
  }
}
