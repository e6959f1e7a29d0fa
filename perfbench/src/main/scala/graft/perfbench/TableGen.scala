package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Generates the TPC-H-ish star schema plus the `events`, `documents` and
  * `embeddings` tables the query keys read, in the shapes `graft.Tables`
  * loads. Every value is a pure function of the row id and a fixed salt
  * (no `rand()`, no dependence on partitioning), so the same scale factor
  * writes the same table contents on every machine and every core count,
  * which is what lets recorded output fingerprints be checked. */
object TableGen {

  val Names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  private val Vocab = Seq("a", "the", "spark", "window", "merge", "table",
    "column", "vector", "stream", "value", "data", "small", "join",
    "filter", "big", "group", "hash", "customer", "sort", "order", "slow",
    "line", "part", "fast", "row", "agg", "key", "query", "scan", "batch")

  /** Uniform double in [0, 1) from the row id and a salt. */
  private def u(salt: Int, extra: Column*): Column =
    shiftrightunsigned(xxhash64((col("id") +: extra :+ lit(salt)): _*), 11)
      .cast("double") / lit(9007199254740992.0)

  private def pick(salt: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*),
      (floor(u(salt) * values.size) + 1).cast("int"))

  private def intIn(salt: Int, lo: Long, n: Long): Column =
    (floor(u(salt) * n) + lo).cast("long")

  private def day(base: String, salt: Int, spanDays: Int): Column =
    to_timestamp(date_add(lit(base).cast("date"),
      floor(u(salt) * spanDays).cast("int")))

  private def range(spark: SparkSession, n: Long): DataFrame =
    spark.range(0L, n, 1L, 4).toDF()

  /** Bumped whenever the generated contents change, so a cache written
    * by an older generator is never read. */
  val Version = 1

  private def n(sf: Double, base: Double): Long = math.max(1L, math.round(base * sf))

  /** The tables for `sf` under `cacheRoot`, generated first if absent.
    * Generation writes to a temporary directory renamed into place, so a
    * run killed mid-write leaves no half-written cache. `generated`
    * receives the seconds spent generating. */
  def cached(spark: SparkSession, cacheRoot: String, sf: Double,
      generated: Double => Unit): String = {
    val dir = new java.io.File(cacheRoot, s"tables-v$Version-sf$sf")
    if (!dir.isDirectory) {
      val t0 = System.nanoTime()
      val tmp = new java.io.File(cacheRoot, s"${dir.getName}.tmp-${ProcessHandle.current.pid}")
      write(spark, tmp.getPath, sf)
      if (!tmp.renameTo(dir) && !dir.isDirectory)
        throw new java.io.IOException(s"could not move $tmp to $dir")
      generated((System.nanoTime() - t0) / 1e9)
    }
    dir.getPath
  }

  /** Writes every table under `dir` as `<name>.parquet`. */
  def write(spark: SparkSession, dir: String, sf: Double): Unit = {
    def n(base: Double): Long = TableGen.n(sf, base)
    val nCust = n(150000)
    val nSupp = n(10000)
    val nPart = n(200000)
    val nOrders = n(1500000)
    val nDocs = n(50000)
    val tables: Seq[(String, DataFrame)] = Seq(
      "region" -> range(spark, 5).select(col("id").cast("int").as("r_regionkey"),
        element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
          "MIDDLE EAST").map(lit): _*), (col("id") + 1).cast("int")).as("r_name")),
      "nation" -> range(spark, 25).select(col("id").cast("int").as("n_nationkey"),
        concat(lit("NATION_"), col("id")).as("n_name"),
        (col("id") % 5).cast("int").as("n_regionkey")),
      "customer" -> range(spark, nCust).select(col("id").as("c_custkey"),
        format_string("Customer#%09d", col("id")).as("c_name"),
        intIn(1, 0, 25).cast("int").as("c_nationkey"),
        round(u(2) * 10999.98 - 999.99, 2).as("c_acctbal"),
        pick(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
          "MACHINERY")).as("c_mktsegment")),
      "supplier" -> range(spark, nSupp).select(col("id").as("s_suppkey"),
        format_string("Supplier#%09d", col("id")).as("s_name"),
        intIn(4, 0, 25).cast("int").as("s_nationkey"),
        round(u(5) * 10999.98 - 999.99, 2).as("s_acctbal")),
      "part" -> range(spark, nPart).select(col("id").as("p_partkey"),
        concat_ws(" ", pick(6, Seq("small", "large", "red", "blue", "hot",
          "cold", "old", "new")), pick(7, Seq("ring", "widget", "bolt", "rod",
          "plate", "gear", "gizmo", "anvil"))).as("p_name"),
        concat(lit("Brand#"), intIn(8, 1, 25)).as("p_brand"),
        pick(9, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
          "STANDARD")).as("p_type"),
        intIn(10, 1, 50).cast("int").as("p_size"),
        round(lit(900.0) + (col("id") % 1000) * 0.1, 2).as("p_retailprice")),
      "orders" -> range(spark, nOrders).select(col("id").as("o_orderkey"),
        intIn(11, 0, nCust).as("o_custkey"),
        pick(12, Seq("F", "O", "P")).as("o_orderstatus"),
        round(u(13) * 499000.0 + 1000.0, 2).as("o_totalprice"),
        day("1995-01-01", 14, 2405).as("o_orderdate"),
        pick(15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
          "5-LOW")).as("o_orderpriority")),
      "lineitem" -> range(spark, nOrders * 4).select(
        intIn(16, 0, nOrders).as("l_orderkey"),
        intIn(17, 0, nPart).as("l_partkey"),
        intIn(18, 0, nSupp).as("l_suppkey"),
        intIn(19, 1, 7).cast("int").as("l_linenumber"),
        intIn(20, 1, 50).cast("double").as("l_quantity"),
        round(u(21) * 104100.0 + 900.0, 2).as("l_extendedprice"),
        (intIn(22, 0, 11) / 100.0).as("l_discount"),
        (intIn(23, 0, 9) / 100.0).as("l_tax"),
        pick(24, Seq("A", "N", "R")).as("l_returnflag"),
        pick(25, Seq("F", "O")).as("l_linestatus"),
        day("1995-01-02", 26, 2498).as("l_shipdate")),
      "events" -> {
        val nEvents = n(1000000)
        val spanMicros = 30L * 86400L * 1000000L
        range(spark, nEvents).select(col("id").as("event_id"),
          timestamp_micros(lit(1704067200000000L) +
            floor((col("id") + u(27)) * (spanMicros.toDouble / nEvents))
              .cast("long")).as("ts"),
          intIn(28, 0, n(15000)).as("user_id"),
          pick(29, Seq("click", "view", "purchase", "signup", "error"))
            .as("event_type"),
          round(-log(lit(1.0) - u(30)) * 50.0 + 0.01, 2).as("value"),
          format_string("{\"k\": %d}", intIn(31, 0, 100)).as("props"))
      },
      "documents" -> {
        // about one document in twenty repeats an earlier document's text
        // with a trailing "dup" token: the near-duplicates the dedup keys
        // are built to find
        val words = array(Vocab.map(lit): _*)
        val len = intIn(32, 10, 91).cast("int")
        val own = concat_ws(" ", transform(sequence(lit(1), len), i =>
          element_at(words, (floor(shiftrightunsigned(xxhash64(col("id"), i,
            lit(33)), 11).cast("double") / 9007199254740992.0 * Vocab.size)
            + 1).cast("int"))))
        val base = range(spark, nDocs).select(col("id"), own.as("own"))
        val src = base.select(col("id").as("src_id"), col("own").as("src_text"))
        val dupOf = greatest(col("id") - intIn(34, 1, 20), lit(0L))
        base.withColumn("dup_of", when(u(35) < 0.05 && col("id") > 0, dupOf))
          .join(src, col("dup_of") === col("src_id"), "left")
          .select(col("id").as("doc_id"),
            coalesce(concat(col("src_text"), lit(" dup")), col("own")).as("text"),
            pick(36, Seq("en", "en", "en", "zh", "es", "de", "fr")).as("lang"),
            concat(lit("src"), col("id") % 20).as("source"))
          .withColumn("n_chars", length(col("text")).cast("long"))
      },
      "embeddings" -> {
        val dim = 64
        val nVec = n(50000)
        val label = intIn(37, 0, 10)
        val raw = transform(sequence(lit(0), lit(dim - 1)), j =>
          (shiftrightunsigned(xxhash64(col("id"), j, lit(38)), 11)
            .cast("double") / 9007199254740992.0 - 0.5) * 0.6 +
          (shiftrightunsigned(xxhash64(col("label"), j, lit(39)), 11)
            .cast("double") / 9007199254740992.0 - 0.5))
        range(spark, nVec).withColumn("label", label)
          .withColumn("raw", raw)
          .withColumn("norm", sqrt(aggregate(col("raw"), lit(0.0),
            (acc, x) => acc + x * x)))
          .select(col("id").as("vec_id"),
            transform(col("raw"), x => (x / col("norm")).cast("float"))
              .as("embedding"),
            col("label").cast("int").as("label"))
      })
    // one file per table in key order; timestamps are written without a
    // zone (parquet isAdjustedToUTC=false), the shape of the reference
    // data, which graft.Tables reads back as session-UTC timestamps
    tables.foreach { case (name, df) =>
      val ntz = df.schema.fields.map { f =>
        if (f.dataType == org.apache.spark.sql.types.TimestampType)
          col(f.name).cast("timestamp_ntz").as(f.name)
        else col(f.name)
      }
      df.select(ntz.toSeq: _*).repartition(1)
        .sortWithinPartitions(df.columns.map(col).toSeq: _*)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
  }
}
