package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.operators.StateOps

/** State-operator semantics, mirroring the reference's PostgreSQL
  * integration tests (`PostgrePersistenceServiceTestIT.java`) as local
  * Spark round-trips (SURVEY.md §5c). */
class StateOpsSpec extends SparkSpec {

  import testImplicits._
  private object testImplicits {
    val s = spark
    import s.implicits._
    def headers(rows: (String, String, Boolean)*) =
      rows.toSeq.map { case (id, d, del) =>
        (id, Timestamp.valueOf(d), del)
      }.toDF("record_identifier", "datestamp", "status_is_deleted")
    def runs(rows: (Long, String)*) =
      rows.toSeq.map { case (id, t) => (id, Timestamp.valueOf(t)) }
        .toDF("id", "timestamp_of_run")
  }

  test("U1: merge inserts new keys and updates existing ones (upsert test, IT:364-415)") {
    val state = headers(
      ("qucosa:1", "2020-01-01 00:00:00", false),
      ("qucosa:2", "2020-01-02 00:00:00", false))
    val updates = headers(
      ("qucosa:2", "2021-06-01 00:00:00", true),  // update
      ("qucosa:3", "2021-06-02 00:00:00", false)) // insert
    val merged = StateOps.mergeByKey(state, updates, Seq("record_identifier"))
      .orderBy("record_identifier").collect()
    assert(merged.length == 3)
    assert(merged(1).getTimestamp(1) == Timestamp.valueOf("2021-06-01 00:00:00"))
    assert(merged(1).getBoolean(2))
    assert(merged(2).getString(0) == "qucosa:3")
  }

  test("U1: within one update batch the highest version wins (insertion order, A3)") {
    val s = spark
    import s.implicits._
    val state = Seq.empty[(String, Long, String)]
      .toDF("k", "batch_seq", "v")
    val updates = Seq(("a", 1L, "first"), ("a", 2L, "second"), ("b", 1L, "only"))
      .toDF("k", "batch_seq", "v")
    val merged = StateOps.mergeByKey(state, updates, Seq("k"), Seq("batch_seq"))
      .orderBy("k").collect()
    assert(merged.map(r => (r.getString(0), r.getString(2))).toSeq ==
      Seq(("a", "second"), ("b", "only")))
  }

  test("D1: delete-if-unmodified spares re-upserted rows and reports them (IT:417-494)") {
    val state = headers(
      ("qucosa:1", "2020-01-01 00:00:00", false),
      ("qucosa:2", "2020-01-02 00:00:00", false), // re-harvested since read:
      ("qucosa:3", "2020-01-03 00:00:00", false))
    // consumer read qucosa:2 with the OLD datestamp
    val processed = headers(
      ("qucosa:1", "2020-01-01 00:00:00", false),
      ("qucosa:2", "2019-12-31 00:00:00", false))
    val res = StateOps.deleteIfUnmodified(state, processed)
    assert(res.newState.orderBy("record_identifier").collect()
      .map(_.getString(0)).toSeq == Seq("qucosa:2", "qucosa:3"))
    assert(res.notRemoved.collect().map(_.getString(0)).toSeq == Seq("qucosa:2"))
  }

  test("D2: retention keeps the newest row even when expired (IT:230-321)") {
    val df = runs((1L, "2020-01-01 00:00:00"), (2L, "2020-01-02 00:00:00"),
      (3L, "2020-01-03 00:00:00"))
    // cutoff after everything: only the max-id row survives
    val kept = StateOps.retentionKeepLatest(df, "id", "timestamp_of_run",
      lit("2021-01-01 00:00:00").cast("timestamp")).collect()
    assert(kept.map(_.getLong(0)).toSeq == Seq(3L))
    // cutoff in between: newer rows + the latest survive
    val kept2 = StateOps.retentionKeepLatest(df, "id", "timestamp_of_run",
      lit("2020-01-01 12:00:00").cast("timestamp"))
      .orderBy("id").collect()
    assert(kept2.map(_.getLong(0)).toSeq == Seq(2L, 3L))
  }

  test("D2 on driver-held rows keeps exactly the rows the frame form keeps") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", LongType), StructField("ts", TimestampType),
      StructField("tag", StringType)))
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val rows = Seq(
      Row(1L, t("2020-01-01 00:00:00"), "expired"),
      Row(2L, t("2020-01-02 00:00:00"), "at the cutoff"),
      Row(3L, t("2020-01-02 00:00:00.000001"), "just after"),
      Row(4L, null, "null ts"),
      Row(null, t("2020-01-01 00:00:00"), "null id, expired"),
      Row(null, t("2020-01-03 00:00:00"), "null id, fresh"),
      Row(5L, t("2019-01-01 00:00:00"), "max id, expired"),
      Row(5L, t("2019-01-02 00:00:00"), "max id twin"))
    val cutoff = t("2020-01-02 00:00:00")
    val frame = StateOps.retentionKeepLatest(
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema), "id", "ts",
      lit(cutoff)).collect().map(_.getString(2)).toSet
    val local = StateOps.retentionKeepLatestRows(rows, schema, "id", "ts", cutoff)
      .map(_.getString(2)).toSet
    assert(local == frame)
    assert(local == Set("just after", "null ts", "null id, fresh", "max id, expired",
      "max id twin"))
  }

  test("A1: top-1 follows insertion sequence, not timestamp (IT:194-221)") {
    // out-of-order timestamps: the highest ID wins even with an older ts
    val df = runs((1L, "2020-06-01 00:00:00"), (2L, "2020-01-01 00:00:00"))
    val top = StateOps.top1BySeq(df, "id").collect()
    assert(top.length == 1 && top(0).getLong(0) == 2L)
  }

  test("U3: appendWithSeq continues the sequence after the current max") {
    val state = runs((1L, "2020-01-01 00:00:00"), (2L, "2020-01-02 00:00:00"))
    val fresh = runs((0L, "2020-01-04 00:00:00"), (0L, "2020-01-03 00:00:00"))
    val out = StateOps.appendWithSeq(state, fresh, "id", Seq("timestamp_of_run"))
      .orderBy("id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L))
    // appended rows numbered in orderCols order
    assert(out(2).getTimestamp(1) == Timestamp.valueOf("2020-01-03 00:00:00"))
  }

  test("L1: limitBatch caps the batch") {
    val df = Tables.orders(spark, sf0001)
    assert(StateOps.limitBatch(df, 100).count() == 100)
  }

  test("D1 tuple match is NULL-safe: a row with a NULL column still deletes against its own copy") {
    val s2 = spark
    import s2.implicits._
    // a header whose datestamp failed parsing carries NULL — with plain
    // equality it could never match its processed copy and would be
    // re-drained forever (the JDBC twin already uses IS NOT DISTINCT
    // FROM; the DataFrame path must agree)
    val state = Seq(("a", Some(1L), "x"), ("b", None, "y"), ("c", Some(3L), "z"))
      .toDF("k", "seq", "v")
    val processed = Seq(("b", None: Option[Long], "y"), ("c", Some(3L), "z"))
      .toDF("k", "seq", "v")
    val r = StateOps.deleteIfUnmodified(state, processed)
    assert(r.newState.select("k").collect().map(_.getString(0)).toSeq == Seq("a"))
    assert(r.notRemoved.count() == 0L)
    // and a MODIFIED null-carrying row still survives (late-update guard)
    val late = StateOps.deleteIfUnmodified(state,
      Seq(("b", None: Option[Long], "CHANGED")).toDF("k", "seq", "v"))
    assert(late.newState.count() == 3L)
    assert(late.notRemoved.count() == 1L)
  }

  test("IVM: maintainSumCount from a change feed matches a from-scratch aggregate") {
    val s = spark
    import s.implicits._
    val oldRows = Seq(("k1", "a", 10L), ("k2", "a", 20L),
      ("k3", "b", 30L), ("k4", "b", 40L)).toDF("k", "g", "v")
    val newRows = Seq(("k1", "a", 10L), ("k2", "c", 25L),
      ("k5", "a", 5L)).toDF("k", "g", "v")
    // the CDC diff old→new: insert k5, drain group b entirely, and a
    // group-MOVING update (k2: a→c) whose two images must transfer the
    // row between groups
    val changes = Seq(
      ("insert", "k5", "a", 5L),
      ("delete", "k3", "b", 30L), ("delete", "k4", "b", 40L),
      ("update_preimage", "k2", "a", 20L),
      ("update_postimage", "k2", "c", 25L)
    ).toDF("change_type", "k", "g", "v")

    def canon(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, Long, Long)].collect().toSet

    val agg0 = StateOps.aggregateShape(oldRows, Seq("g"), "v")
    val maintained = StateOps.maintainSumCount(agg0, changes, Seq("g"), "v")
    assert(canon(maintained) ==
      canon(StateOps.aggregateShape(newRows, Seq("g"), "v")))
    assert(canon(maintained) == Set(("a", 2L, 15L), ("c", 1L, 25L)),
      "group b drained, k2's mass moved a→c")

    // bootstrap: an empty view + an all-inserts feed IS the aggregate
    val empty = agg0.limit(0)
    val seedFeed = newRows.select(lit("insert").as("change_type"),
      col("k"), col("g"), col("v"))
    assert(canon(StateOps.maintainSumCount(empty, seedFeed, Seq("g"), "v")) ==
      canon(StateOps.aggregateShape(newRows, Seq("g"), "v")))

    // and feeds compose: applying a second diff continues the view
    val changes2 = Seq(("delete", "k5", "a", 5L)).toDF("change_type", "k", "g", "v")
    assert(canon(StateOps.maintainSumCount(maintained, changes2, Seq("g"), "v")) ==
      Set(("a", 1L, 10L), ("c", 1L, 25L)))
  }

  test("group/key columns whose NAMES contain dots resolve as columns, not nested-field paths") {
    // the aliased null-safe joins build conditions as col("__agg.<c>");
    // unquoted, a dotted name parses as a nested path and mis-resolves
    val s = spark
    import s.implicits._
    val rows = Seq(("a", 10L), ("a", 20L), ("b", 5L))
      .toDF("dim.group", "val.v")
    val agg0 = StateOps.aggregateShape(rows, Seq("dim.group"), "val.v")
    val changes = Seq(
      ("insert", "b", 7L), ("delete", "a", 10L)
    ).toDF("change_type", "dim.group", "val.v")
    val maintained =
      StateOps.maintainSumCount(agg0, changes, Seq("dim.group"), "val.v")
    assert(maintained.as[(String, Long, Long)].collect().toSet ==
      Set(("a", 1L, 20L), ("b", 2L, 12L)))

    // deleteIfUnmodified's null-safe anti-join takes the same path
    val state = Seq(("a", 1L), ("b", 2L)).toDF("id.key", "seq.n")
    val res = StateOps.deleteIfUnmodified(state,
      Seq(("a", 1L)).toDF("id.key", "seq.n"))
    assert(res.newState.as[(String, Long)].collect().toSet == Set(("b", 2L)))
    assert(res.notRemoved.count() == 0L)

    // the remaining pure transforms accept dotted payload names too —
    // the contract the BucketedStateTable layout guard leans on
    val merged = StateOps.mergeByKey(
      state, Seq(("a", 9L)).toDF("id.key", "seq.n"),
      keys = Seq("id.key"), versionCols = Seq("seq.n"))
    assert(merged.as[(String, Long)].collect().toSet ==
      Set(("a", 9L), ("b", 2L)))
    assert(StateOps.dedupLastWriteWins(
      state.unionByName(Seq(("a", 5L)).toDF("id.key", "seq.n")),
      Seq("id.key"), Seq("seq.n"))
      .as[(String, Long)].collect().toSet == Set(("a", 5L), ("b", 2L)))
    assert(StateOps.top1BySeq(state, "seq.n")
      .as[(String, Long)].head() == ("b", 2L))
    val withTs = Seq(("a", 1L, java.sql.Timestamp.valueOf("2020-01-01 00:00:00")),
      ("b", 2L, java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
      .toDF("id.key", "seq.n", "ts.at")
    assert(StateOps.retentionKeepLatest(withTs, "seq.n", "ts.at",
        lit("2025-01-01").cast("timestamp"))
      .select(col("`id.key`")).as[String].collect().toSet == Set("b"))
    val appended = StateOps.appendWithSeq(
      withTs.limit(0).select(col("`id.key`"), col("`seq.n`")),
      Seq(("z", 0L)).toDF("id.key", "seq.n"), "seq.n", Seq("id.key"))
    assert(appended.as[(String, Long)].collect().toSeq == Seq(("z", 1L)))
  }

  test("BucketedStateTable refuses quote- or manifest-hazardous LAYOUT column names at construction") {
    val dir = java.nio.file.Files.createTempDirectory("graft-layout-guard").toString
    for (bad <- Seq("dim.group", "a,b", "tick`", "nl\ncol")) {
      val e = intercept[IllegalArgumentException] {
        new graft.pipeline.BucketedStateTable(spark, s"$dir/t",
          keyCols = Seq(bad), numBuckets = 4, retentionFloorMillis = 0L)
      }
      assert(e.getMessage.contains("layout column"), s"$bad: ${e.getMessage}")
    }
    // payload columns with dots ride fine through a real table
    val s = spark
    import s.implicits._
    val t = new graft.pipeline.BucketedStateTable(spark, s"$dir/ok",
      keyCols = Seq("k"), numBuckets = 4, retentionFloorMillis = 0L)
    t.merge(Seq(("a", 1L)).toDF("k", "pay.load"), keys = Seq("k"))
    assert(t.read().get.select(col("`pay.load`")).as[Long].head() == 1L)
  }
}
