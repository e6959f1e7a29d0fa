package graft

import java.nio.file.Files
import java.sql.{Connection, DriverManager, Timestamp}

import org.apache.spark.sql.types._

import graft.pipeline.{DocumentFetcher, EnrichmentPipeline, JdbcStateTable, QueuedHeader}
import graft.sinks.{ConnectionFactory, SqlDialect}

/** [[JdbcStateTable]] against a real database (DuckDB over JDBC): the
  * StateTable contract (merge / read / conditional delete / exact-once
  * batch markers) and the ENTIRE enrichment pipeline e2e with its state
  * held in the database — the reference's actual deployment shape
  * (PostgreSQL-hosted state, `PostgrePersistenceService.java`), run
  * through the same trait the parquet-backed tables implement. */
class JdbcStateTableSpec extends SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private val headerSchema = StructType(Seq(
    StructField("record_identifier", StringType, nullable = false),
    StructField("datestamp", TimestampType, nullable = true),
    StructField("set_spec", ArrayType(StringType, containsNull = true), nullable = true),
    StructField("status_is_deleted", BooleanType, nullable = true)))

  private val reportingSchema = StructType(Seq(
    StructField("record_identifier", StringType, nullable = false),
    StructField("mandator", StringType, nullable = true),
    StructField("document_type", StringType, nullable = true),
    StructField("distribution_date", TimestampType, nullable = true),
    StructField("header_last_modified", TimestampType, nullable = true)))

  private def mkTables(): (JdbcStateTable, JdbcStateTable, String) = {
    val dir = Files.createTempDirectory("graft-jdbcstate").toString
    val url = s"jdbc:duckdb:$dir/state.db"
    // anchor connection: embedded DuckDB shuts the database instance
    // down when the last connection closes, and an instance
    // shutdown/reopen between two state operations can lose the other
    // lifecycle's WAL (observed: a merge wiping the OTHER table) — one
    // held connection pins a single instance for the test's lifetime
    val cf = new ConnectionFactory {
      @transient private lazy val anchor: Connection =
        DriverManager.getConnection(url)
      def apply(): Connection = { anchor; DriverManager.getConnection(url) }
    }
    val headers = new JdbcStateTable(spark, "OAIHeader", headerSchema,
      Seq("record_identifier"), cf, s"$dir/scratch/headers", SqlDialect.DuckDb)
    val reporting = new JdbcStateTable(spark, "ReportingDoc", reportingSchema,
      Seq("record_identifier"), cf, s"$dir/scratch/reporting", SqlDialect.DuckDb)
    headers.ensureTables()
    reporting.ensureTables()
    (headers, reporting, dir)
  }

  test("jdbc state: merge inserts then updates; read round-trips arrays and timestamps") {
    val (headers, _, _) = mkTables()
    val s = spark
    import s.implicits._

    // ensureTables ran -> the table exists, empty: Some(empty), matching
    // the file-backed tables once a version is committed
    assert(headers.read().exists(_.isEmpty))

    headers.merge(Seq(
      QueuedHeader("a", ts("2024-01-01 01:00:00"), Seq("s1", "s,2\"q"), false),
      QueuedHeader("b", ts("2024-01-01 02:00:00"), Nil, true)
    ).toDF(), Seq("record_identifier"))

    headers.merge(Seq(
      QueuedHeader("a", ts("2024-02-02 02:00:00"), Seq("s3"), true)
    ).toDF(), Seq("record_identifier"))

    val got = headers.read().get.orderBy("record_identifier").collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getSeq[String](2), r.getBoolean(3)))
    assert(got.toSeq == Seq(
      ("a", ts("2024-02-02 02:00:00"), Seq("s3"), true),
      ("b", ts("2024-01-01 02:00:00"), Seq.empty[String], true)))
  }

  test("jdbc state: versionCols pick the winner among duplicate keys in one batch") {
    val (headers, _, _) = mkTables()
    val s = spark
    import s.implicits._
    headers.merge(Seq(
      QueuedHeader("k", ts("2024-01-05 00:00:00"), Nil, true),
      QueuedHeader("k", ts("2024-01-09 00:00:00"), Nil, false),
      QueuedHeader("k", ts("2024-01-01 00:00:00"), Nil, true)
    ).toDF(), Seq("record_identifier"), versionCols = Seq("datestamp"))
    val got = headers.read().get.collect()
    assert(got.length == 1)
    assert(got(0).getTimestamp(1) == ts("2024-01-09 00:00:00"))
    assert(!got(0).getBoolean(3))
  }

  test("jdbc state: deleteWhereUnmodified removes matches, reports changed rows (ST5)") {
    val (headers, _, _) = mkTables()
    val s = spark
    import s.implicits._
    val v1a = QueuedHeader("a", ts("2024-01-01 01:00:00"), Nil, false)
    val v1b = QueuedHeader("b", ts("2024-01-01 02:00:00"), Nil, false)
    headers.merge(Seq(v1a, v1b).toDF(), Seq("record_identifier"))
    // 'b' re-harvested mid-flight
    headers.merge(Seq(
      QueuedHeader("b", ts("2024-06-06 06:00:00"), Nil, false)
    ).toDF(), Seq("record_identifier"))

    val notRemoved = headers.deleteWhereUnmodified(Seq(v1a, v1b).toDF())
    assert(notRemoved == 1L) // b's tuple changed; a was removed
    val left = headers.read().get.collect()
    assert(left.map(_.getString(0)).toSeq == Seq("b"))
    assert(left(0).getTimestamp(1) == ts("2024-06-06 06:00:00"))
  }

  test("jdbc state: mergeOnceForBatch commits marker atomically with the merge") {
    val (headers, _, _) = mkTables()
    val s = spark
    import s.implicits._
    val batch = Seq(QueuedHeader("x", ts("2024-01-01 00:00:00"), Nil, false)).toDF()

    assert(headers.mergeOnceForBatch(0L, "ckpt-A", batch, Seq("record_identifier")))
    // replay of the same batch id: swallowed
    assert(!headers.mergeOnceForBatch(0L, "ckpt-A", batch, Seq("record_identifier")))
    // a DIFFERENT stream scope (fresh checkpoint) is not swallowed
    assert(headers.mergeOnceForBatch(0L, "ckpt-B", batch, Seq("record_identifier")))
    assert(headers.read().get.count() == 1L)
  }

  test("jdbc state: enrichment pipeline e2e — database-backed queue and reporting") {
    val (headers, reporting, _) = mkTables()
    val s = spark
    import s.implicits._

    headers.merge(Seq(
      QueuedHeader("oai:example.org:qucosa:7455", ts("2024-01-01 01:00:00"), Nil, false),
      QueuedHeader("oai:example.org:qucosa:13", ts("2024-01-01 02:00:00"), Nil, false),
      QueuedHeader("oai:example.org:qucosa:31789", ts("2024-01-01 03:00:00"), Nil, false),
      QueuedHeader("oai:example.org:qucosa:31790", ts("2024-01-01 04:00:00"), Nil, false)
    ).toDF(), Seq("record_identifier"))

    val mets = Map(
      "qucosa:7455" -> fixture("/mets/qucosa7455-mets.xml"),
      "qucosa:13" -> fixture("/mets/qucosa13-mets.xml"),
      "qucosa:31789" -> fixture("/mets/qucosa31789-mets.xml"),
      "qucosa:31790" -> fixture("/mets/qucosa31790-mets.xml"))
    val fetch = new DocumentFetcher {
      def apply(localId: String): Option[String] = mets.get(localId)
    }

    val e = new EnrichmentPipeline(spark, headers, reporting)
    val summary = e.runOnce(fetch)

    assert(summary.processed == 4L)
    assert(summary.reported == 3L) // 31789 rejected (no mandator)
    assert(summary.rejected == 1L)
    assert(summary.notRemoved == 0L)
    assert(headers.read().exists(_.isEmpty)) // queue cleared in the database

    val rows = reporting.read().get.orderBy("record_identifier")
      .collect().map(r => (
        r.getAs[String]("record_identifier"),
        r.getAs[String]("mandator"),
        r.getAs[String]("document_type"),
        r.getAs[Timestamp]("distribution_date"),
        r.getAs[Timestamp]("header_last_modified")))
    assert(rows.toSeq == Seq(
      ("oai:example.org:qucosa:13", "SLUB", "issue",
        ts("2008-08-04 00:00:00"), ts("2024-01-01 02:00:00")),
      ("oai:example.org:qucosa:31790", "slub", "article",
        ts("2016-10-10 09:27:33"), ts("2024-01-01 04:00:00")),
      ("oai:example.org:qucosa:7455", "slub", "in_book",
        ts("2016-05-24 10:33:56"), ts("2024-01-01 01:00:00"))))
  }

  test("jdbc state: enrichment ST5 e2e — mid-flight re-harvest survives in the database") {
    val (headers, reporting, _) = mkTables()
    val s = spark
    import s.implicits._

    headers.merge(Seq(
      QueuedHeader("oai:example.org:qucosa:7455", ts("2024-01-01 01:00:00"), Nil, false)
    ).toDF(), Seq("record_identifier"))

    val mets = Map("qucosa:7455" -> fixture("/mets/qucosa7455-mets.xml"))
    val e = new EnrichmentPipeline(spark, headers, reporting)
    val pb = e.processBatch(new DocumentFetcher {
      def apply(localId: String): Option[String] = mets.get(localId)
    }).get

    // harvester lands a newer datestamp while the batch is in flight
    headers.merge(Seq(
      QueuedHeader("oai:example.org:qucosa:7455", ts("2024-05-05 05:00:00"), Nil, false)
    ).toDF(), Seq("record_identifier"))

    val summary = e.commit(pb)
    assert(summary.processed == 1L)
    assert(summary.notRemoved == 1L)
    // the NEW version still queued for re-processing
    val left = headers.read().get.collect()
    assert(left.length == 1)
    assert(left(0).getAs[Timestamp]("datestamp") == ts("2024-05-05 05:00:00"))
  }

  test("jdbc state: harvest pipeline e2e — paged OAI run merges headers into the database") {
    val (headers, _, dir) = mkTables()
    val runs = StateLayouts.runs(spark, s"$dir/runs")
    val p = new graft.pipeline.HarvestPipeline(spark, headers, runs, "http://h/oai",
      headerFilter = _.filter(graft.functions.GraftFunctions.isQucosaId(
        org.apache.spark.sql.functions.col("record_identifier"))))
    val fetch = new graft.pipeline.PageFetcher {
      def apply(uri: String): Either[String, String] =
        Map(
          "resumptionToken=111111111111111" -> fixture("/oai/listIdentifiers.xml"),
          "metadataPrefix" -> fixture("/oai/resumptionToken.xml"))
          .collectFirst { case (k, v) if uri.contains(k) => v }
          .toRight(s"404 for $uri")
    }
    val summaries = p.runToCompletion(fetch, ts("2024-03-01 10:00:00"), interPageDelayMillis = 0L)
    assert(summaries.map(_.succeeded) == Seq(true, true))

    // the SAME golden end state the parquet-backed harvest test pins —
    // including the 1044 cross-page merge and the array round-trip
    val hs = headers.read().get.orderBy("record_identifier").collect()
    assert(hs.length == 2)
    assert(hs(0).getAs[String]("record_identifier") == "oai:example.org:qucosa:1044")
    assert(!hs(0).getAs[Boolean]("status_is_deleted"))
    assert(hs(1).getAs[String]("record_identifier") == "oai:example.org:qucosa:1234")
    assert(hs(1).getAs[Boolean]("status_is_deleted"))
    assert(hs(1).getAs[scala.collection.Seq[String]]("set_spec").toSeq
      == Seq("test:11", "test:22"))
  }

  test("jdbc state: streaming crash-replay is EXACT-once — the replayed batch does not re-merge") {
    val (headers, _, dir) = mkTables()
    val pages = s"$dir/pages"
    Files.createDirectories(java.nio.file.Paths.get(pages))
    Files.writeString(java.nio.file.Paths.get(pages, "p1.xml"),
      fixture("/oai/resumptionToken.xml"))
    val qucosaFilter: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      _.filter(graft.functions.GraftFunctions.isQucosaId(
        org.apache.spark.sql.functions.col("record_identifier")))

    // one harvest run on the shared checkpoint; with `crash` it fails
    // after the body's merge commits, before the engine commits the batch
    def harvest(crash: Boolean = false) =
      graft.streaming.ForeachBatch.start(
          graft.streaming.HarvestStream.pages(spark, pages), s"$dir/ckpt") {
        (b, id) =>
          graft.streaming.HarvestStream.processBatch(b, id, headers,
            s"$dir/ckpt", qucosaFilter)
          if (crash) throw new RuntimeException("injected crash")
      }

    // run 1: drains page 1 into the DATABASE-backed state
    harvest().awaitTermination()
    assert(headers.read().get.count() == 1L)

    // page 2 arrives; the stream CRASHES in the worst window — the
    // merge + marker transaction committed, the engine batch did not
    Files.writeString(java.nio.file.Paths.get(pages, "p2.xml"),
      fixture("/oai/listIdentifiers.xml"))
    val q2 = harvest(crash = true)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.awaitTermination()
    }
    assert(headers.read().get.count() == 2L) // merge landed pre-crash

    // out-of-band sentinel: if the replay RE-MERGED, the upsert would
    // overwrite this value — its survival proves the in-transaction
    // marker made the replay a true no-op (exact-once, not merely
    // idempotent-at-least-once)
    val sentinel = ts("1999-01-01 00:00:00")
    val c = java.sql.DriverManager.getConnection(s"jdbc:duckdb:$dir/state.db")
    try {
      val up = c.prepareStatement(
        """UPDATE "OAIHeader" SET "datestamp" = ?""")
      up.setTimestamp(1, sentinel)
      assert(up.executeUpdate() == 2)
    } finally c.close()

    // healthy restart on the same checkpoint: the engine replays the
    // uncommitted batch; the database marker suppresses the merge
    harvest().awaitTermination()
    val after = headers.read().get.collect()
    assert(after.length == 2)
    assert(after.forall(_.getAs[Timestamp]("datestamp") == sentinel),
      s"replayed batch re-merged over the sentinel: ${after.toSeq}")
  }

  test("jdbc state: a mis-sized batch fails loudly instead of flooding the driver") {
    val dir = Files.createTempDirectory("graft-jdbcstate-cap").toString
    val url = s"jdbc:duckdb:$dir/state.db"
    val cf = new ConnectionFactory {
      def apply(): Connection = DriverManager.getConnection(url)
    }
    val tiny = new JdbcStateTable(spark, "OAIHeader", headerSchema,
      Seq("record_identifier"), cf, s"$dir/scratch", SqlDialect.DuckDb,
      maxDriverRows = 2)
    tiny.ensureTables()
    val s = spark
    import s.implicits._
    val e = intercept[IllegalArgumentException] {
      tiny.merge((1 to 5).map(i =>
        QueuedHeader(s"r$i", ts("2024-01-01 00:00:00"), Nil, false)).toDF(),
        Seq("record_identifier"))
    }
    assert(e.getMessage.contains("maxDriverRows"))
  }

  test("jdbc state: BINARY keys dedup by CONTENT, not reference — duplicate byte keys keep-last instead of colliding") {
    // Row.get on a BinaryType column yields Array[Byte] (referential
    // equals/hashCode): pre-fix, two rows with the same byte key both
    // survived the driver-side keep-last dedup and collided as a
    // duplicate insert on the delete+insert dialect; and the
    // deterministic lock-order sort keyed on String.valueOf rendered
    // an identity hash (JVM-run-dependent order)
    val dir = Files.createTempDirectory("graft-jdbc-binkey").toString
    val url = s"jdbc:duckdb:$dir/bin.db"
    val cf = new ConnectionFactory {
      @transient private lazy val anchor: Connection =
        DriverManager.getConnection(url)
      def apply(): Connection = { anchor; DriverManager.getConnection(url) }
    }
    val schema = StructType(Seq(
      StructField("fingerprint", BinaryType, nullable = false),
      StructField("label", StringType, nullable = true)))
    val t = new JdbcStateTable(spark, "BinKeyed", schema,
      Seq("fingerprint"), cf, s"$dir/scratch", SqlDialect.DuckDb)
    t.ensureTables()

    val s = spark
    import s.implicits._
    val k1 = Array[Byte](1, 2, 3)
    val k2 = Array[Byte](9, 9)
    // the two k1 copies are DISTINCT Array instances with equal content
    val batch = Seq(
      (k1.clone(), "first"), (k2, "other"), (k1.clone(), "last"))
      .toDF("fingerprint", "label")
    t.merge(batch, Seq("fingerprint"))

    val got = t.read().get.as[(Array[Byte], String)].collect()
      .map { case (k, v) => (k.toSeq, v) }.toMap
    assert(got.size == 2, s"duplicate binary keys must keep-last, got $got")
    assert(got(k1.toSeq) == "last", "within one batch the LAST copy wins")
    assert(got(k2.toSeq) == "other")

    // a second merge on the same byte key must UPDATE, not collide
    t.merge(Seq((k1.clone(), "updated")).toDF("fingerprint", "label"),
      Seq("fingerprint"))
    val after = t.read().get.as[(Array[Byte], String)].collect()
      .map { case (k, v) => (k.toSeq, v) }.toMap
    assert(after(k1.toSeq) == "updated" && after.size == 2)
  }
}
