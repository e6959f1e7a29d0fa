package graft

import java.nio.file.Files
import java.sql.{Connection, DriverManager, Timestamp}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.pipeline._
import graft.sinks.{ConnectionFactory, SqlDialect}

/** `deleteWhereUnmodified` means the same on every [[StateTable]]: the
  * bucketed and JDBC tables return the same not-removed count and leave
  * the same rows, for a driver-local and a file-backed `processed`
  * frame, with adaptive execution on and off. */
class DeleteParitySpec extends SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private val schema = StructType(Seq(
    StructField("record_identifier", StringType, nullable = false),
    StructField("datestamp", TimestampType, nullable = true),
    StructField("set_spec", ArrayType(StringType, containsNull = true), nullable = true),
    StructField("status_is_deleted", BooleanType, nullable = true)))

  private type Header = (String, Timestamp, Seq[String], Boolean)

  private val a: Header = ("oai:x:qucosa:1", ts("2024-01-01 01:00:00"), Seq("s1"), false)
  private val b: Header = ("oai:x:qucosa:2", ts("2024-01-01 02:00:00"), Nil, false)
  private val nullDate: Header = ("oai:x:qucosa:3", null, Seq("s2"), true)
  private val reharvested: Header = ("oai:x:qucosa:4", ts("2024-06-01 00:00:00"), Seq("s1", "s2"), false)
  private val state = Seq(a, b, nullDate, reharvested)

  private def rows(hs: Seq[Header]): java.util.List[Row] =
    java.util.Arrays.asList(hs.map { case (id, d, sets, del) => Row(id, d, sets, del) }: _*)

  private def local(hs: Seq[Header]): DataFrame = spark.createDataFrame(rows(hs), schema)

  private def fileBacked(hs: Seq[Header]): DataFrame = {
    val p = Files.createTempDirectory("graft-parity-processed").resolve("p").toString
    local(hs).write.parquet(p)
    spark.read.parquet(p)
  }

  private def tables(): Seq[(String, StateTable)] = {
    val dir = Files.createTempDirectory("graft-parity").toString
    val bucketed = new BucketedStateTable(spark, s"$dir/bucketed",
      Seq("record_identifier"), numBuckets = 8)
    val url = s"jdbc:duckdb:$dir/state.db"
    // one held connection keeps one embedded DuckDB instance alive for
    // the test (see JdbcStateTableSpec)
    val cf = new ConnectionFactory {
      @transient private lazy val anchor: Connection = DriverManager.getConnection(url)
      def apply(): Connection = { anchor; DriverManager.getConnection(url) }
    }
    val jdbc = new JdbcStateTable(spark, "OAIHeader", schema,
      Seq("record_identifier"), cf, s"$dir/scratch", SqlDialect.DuckDb)
    jdbc.ensureTables()
    val tables = Seq("bucketed" -> bucketed, "jdbc" -> jdbc)
    tables.foreach(_._2.merge(local(state), Seq("record_identifier")))
    tables
  }

  private def remaining(t: StateTable): Seq[Header] =
    t.read().get.select(schema.fieldNames.map(org.apache.spark.sql.functions.col): _*)
      .collect().map(r => (r.getString(0), r.getTimestamp(1),
        r.getSeq[String](2).toSeq, r.getBoolean(3))).toSeq.sortBy(_._1)

  /** Deletes `processed` from a fresh copy of [[state]] in every table,
    * for both frame kinds and both AQE settings, and checks the count
    * and the rows left. */
  private def parity(processed: Seq[Header], notRemoved: Long, left: Seq[Header]): Unit =
    for {
      aqe <- Seq("true", "false")
      (kind, frame) <- Seq[(String, Seq[Header] => DataFrame)](
        "driver-local" -> local, "file-backed" -> fileBacked)
    } {
      val prior = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      try tables().foreach { case (name, t) =>
        val what = s"$name, $kind processed, AQE $aqe"
        assert(t.deleteWhereUnmodified(frame(processed)) == notRemoved, what)
        assert(remaining(t) == left.sortBy(_._1), what)
      } finally spark.conf.set("spark.sql.adaptive.enabled", prior)
    }

  private val absent: Header = ("oai:x:qucosa:9", ts("2024-01-01 09:00:00"), Nil, false)

  test("duplicate processed tuples count with multiplicity, matched or not") {
    parity(Seq(a, a, absent, absent), notRemoved = 2, left = Seq(b, nullDate, reharvested))
  }

  test("a tuple with a null column matches its stored copy") {
    parity(Seq(nullDate), notRemoved = 0, left = Seq(a, b, reharvested))
  }

  test("an ST5 re-harvested row survives and is counted") {
    val drained = reharvested.copy(_2 = ts("2024-01-01 04:00:00"))
    parity(Seq(drained, b), notRemoved = 1, left = Seq(a, nullDate, reharvested))
  }

  test("a processed key absent from the table is counted and changes nothing") {
    parity(Seq(absent), notRemoved = 1, left = state)
  }

  test("a fully matched batch empties the table") {
    parity(state, notRemoved = 0, left = Nil)
  }
}
