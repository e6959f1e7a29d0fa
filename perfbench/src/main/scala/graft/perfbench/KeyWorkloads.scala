package graft.perfbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** An order-independent fingerprint of a query output: the row count,
  * the sum of per-row hashes of a canonical text form (so row order does
  * not matter), and the schema. Doubles are canonicalized to 12
  * significant digits so last-bit differences from aggregation order do
  * not count as a change. */
final case class Fingerprint(rows: Long, hash: String, schema: String)

object Fingerprint {
  private def canon(v: Any): String = v match {
    case null                       => "∅"
    case d: Double                  => canonDouble(d)
    case f: Float                   => canonDouble(f.toDouble)
    case t: java.sql.Timestamp      => s"ts${t.getTime}.${t.getNanos}"
    case b: Array[Byte]             => b.map("%02x".format(_)).mkString("0x", "", "")
    case r: Row                     => r.toSeq.map(canon).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted
        .mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case bd: java.math.BigDecimal   => bd.stripTrailingZeros.toPlainString
    case other                      => other.toString
  }

  private def canonDouble(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d)
      .round(new java.math.MathContext(12)).stripTrailingZeros.toString

  private def rowHash(r: Row): Long = {
    val s = canon(r)
    (MurmurHash3.stringHash(s, 0x5eed).toLong << 32) ^
      (MurmurHash3.stringHash(s, 0x1f00d).toLong & 0xffffffffL)
  }

  def of(schema: StructType, rows: Array[Row]): Fingerprint =
    Fingerprint(rows.length.toLong,
      java.lang.Long.toHexString(rows.iterator.map(rowHash).sum),
      schema.simpleString)

  /** Why `got` does not match the recorded `want`; None when it does.
    * A key recorded as nondeterministic is held to its row count and
    * schema only. */
  def mismatch(key: String, got: Fingerprint, want: Fingerprint,
      deterministic: Boolean): Option[String] =
    if (got.schema != want.schema)
      Some(s"$key schema ${got.schema}, recorded ${want.schema}")
    else if (got.rows != want.rows)
      Some(s"$key returned ${got.rows} rows, recorded ${want.rows}")
    else if (deterministic && got.hash != want.hash)
      Some(s"$key output hash ${got.hash}, recorded ${want.hash}")
    else None
}

/** Recorded fingerprints: per key, for one generated data set. */
final case class Recorded(scaleFactor: Double, keys: Map[String, Fingerprint],
    nondeterministic: Set[String])

object Recorded {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def load(path: String): Recorded = {
    val root = mapper.readTree(new java.io.File(path))
    val keys = root.get("keys").properties().iterator()
    val b = Map.newBuilder[String, Fingerprint]
    while (keys.hasNext) {
      val e = keys.next()
      val v = e.getValue
      b += e.getKey -> Fingerprint(v.get("rows").asLong(), v.get("hash").asText(),
        v.get("schema").asText())
    }
    val nd = root.get("nondeterministic").elements()
    val n = Set.newBuilder[String]
    while (nd.hasNext) n += nd.next().asText()
    Recorded(root.get("scale_factor").asDouble(), b.result(), n.result())
  }

  def json(r: Recorded): String = {
    val keys = r.keys.toSeq.sortBy(_._1).map { case (k, f) =>
      s"""    "$k": {"rows": ${f.rows}, "hash": "${f.hash}", "schema": ${mapper.writeValueAsString(f.schema)}}"""
    }.mkString(",\n")
    val nd = r.nondeterministic.toSeq.sorted.map(k => s""""$k"""").mkString(", ")
    s"""{
       |  "scale_factor": ${r.scaleFactor},
       |  "nondeterministic": [$nd],
       |  "keys": {
       |$keys
       |  }
       |}
       |""".stripMargin
  }
}

/** `query_mix`: a closed loop over read-only `SparkEntry.queries` keys on
  * generated tables. One op is one key: the key's function as span
  * `key.build`, then collecting its result as `key.probe`. Keys run in
  * sweep-major passes whose order the seed permutes; a measurement stops
  * only at a pass boundary. Every op's output is checked against the
  * recorded fingerprint. */
final class KeyLoop(ctx: Ctx, val keys: Seq[String], recorded: Recorded,
    dataCache: String) extends Workload(ctx) {
  require(keys.forall(recorded.keys.contains),
    s"no recorded fingerprint for ${keys.filterNot(recorded.keys.contains).mkString(", ")}")
  private val fns = graft.SparkEntry.queries
  require(keys.forall(fns.contains),
    s"unknown keys ${keys.filterNot(fns.contains).mkString(", ")}")

  def name = "query_mix"
  def itemsName = "keys"
  def tracedOps: Int = keys.size
  private var dir: String = _
  private var pass = 0
  private var order: Seq[String] = Nil
  private var issued = 0

  private var generatedS = 0.0
  override def untimedS: Double = generatedS

  /** The tables depend on the scale factor only, so they are generated
    * once per checkout into `dataCache` (outside the set-up timing). */
  override def prepare(): Unit =
    if (dir == null)
      dir = TableGen.cached(ctx.spark, dataCache, recorded.scaleFactor,
        s => generatedS += s)

  /** Opens each table's parquet footer through the engine's loader. */
  def setup(): Unit = {
    prepare()
    TableGen.Names.foreach { t =>
      require(graft.Tables.load(ctx.spark, dir, t).schema.nonEmpty, s"table $t has no columns")
    }
  }

  def warmup(): Unit = keys.foreach(k => runKey(k))

  override def unitOps: Int = keys.size
  /** One pass per 10 s run: a warm pass takes about 8 s on a 4-core
    * host. */
  def nominalUnitS: Double = 10.0

  def nextOp(): OpRec = {
    if (issued % keys.size == 0) {
      pass += 1
      order = new scala.util.Random(ctx.seed * 7919L + pass).shuffle(keys)
    }
    val key = order(issued % keys.size)
    issued += 1
    runKey(key)
  }

  private def runKey(key: String): OpRec = {
    graft.Tables.dropCachedLeftovers(ctx.spark)
    var out: (StructType, Array[Row]) = null
    val rec = runOp(key) {
      val df: DataFrame = ctx.tracer("key.build")(fns(key)(ctx.spark, dir))
      out = ctx.tracer("key.probe")((df.schema, df.collect()))
      1L
    }
    check(rec) {
      Fingerprint.mismatch(key, Fingerprint.of(out._1, out._2),
        recorded.keys(key), !recorded.nondeterministic.contains(key)).toSeq
    }
  }

  def namedMetrics(ops: Seq[OpRec], p50: Double, tail: Double,
      perS: Double): Seq[(String, Double)] = {
    val passes = ops.grouped(keys.size).filter(_.size == keys.size)
      .map(_.map(_.wallS).sum).toSeq
    Seq("query_s_p50" -> p50, "query_s_tail" -> tail) ++
      (if (passes.nonEmpty) Seq("query_pass_s" -> Ledger.median(passes))
       else Nil)
  }
}

object KeyLoop {
  /** Scale factor of the generated tables the fingerprints are recorded
    * on. */
  val ScaleFactor = 0.01

  /** Read-only keys, none of which writes a state table: a TPC-H
    * aggregate (q1) and multi-way join (q9), the pipeline's projections,
    * filter and delete-if-unmodified anti-join, a window, an as-of join
    * and the `graft_*` kernel paths. One key per kind keeps a run inside
    * the benchmark's time budget. */
  val QueryMix: Seq[String] = Seq(
    "q1_pricing_summary", "q9_product_type_profit", "p1_xml_headers_project",
    "s2_mets_enrichment", "f1_filter_qucosa_id", "d1_delete_if_unmodified",
    "window_ranks", "join_asof", "corpus_gopher_rules", "dedup_minhash_lsh",
    "text_tfidf_topk")

  /** Records fingerprints: every key twice, in two orders; a key whose
    * two outputs differ is recorded as nondeterministic. */
  def record(spark: SparkSession, dir: String, sf: Double,
      keys: Seq[String]): Recorded = {
    val fns = graft.SparkEntry.queries
    def run(k: String): Fingerprint = {
      graft.Tables.dropCachedLeftovers(spark)
      val df = fns(k)(spark, dir)
      Fingerprint.of(df.schema, df.collect())
    }
    val first = keys.map(k => k -> run(k)).toMap
    val second = keys.reverse.map(k => k -> run(k)).toMap
    Recorded(sf, first, keys.filter(k => first(k) != second(k)).toSet)
  }
}
