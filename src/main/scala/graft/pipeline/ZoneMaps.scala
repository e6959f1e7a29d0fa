package graft.pipeline

import scala.util.control.NonFatal

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Bucket-level zone maps for [[BucketedStateTable]]: per-bucket
  * `(row count, bytes, per-column min/max/null-count)` recorded in the
  * manifest at commit time and consulted at PLAN time to skip whole
  * buckets a pushed-down predicate cannot match — the manifest-level
  * complement of the parquet row-group stats already produced by the
  * per-bucket key sort at write time. Two independent pruning legs:
  *
  *  - '''Hash pruning''' — an equality (or IN) constraint on EVERY
  *    bucketing column pins the row's bucket by re-evaluating the
  *    table's own bucket hash (`pmod(xxhash64(cols), numBuckets)`)
  *    driver-side over the literal values. Distribution-free: a point
  *    lookup on a 16,384-bucket table plans ONE bucket directory
  *    instead of 16,384, whatever the data looks like.
  *  - '''Zone pruning''' — range/equality/null predicates on columns
  *    the owner opted into (`statsCols`) drop buckets whose recorded
  *    min/max/null-count excludes the predicate. Pays off exactly when
  *    values CLUSTER by bucket (multi-tenant keys bucketed by tenant,
  *    monotone ingest stamps in sparsely-rewritten buckets); on a
  *    column uncorrelated with the bucket key every bucket spans the
  *    full range and nothing prunes — which is correct, just not
  *    faster.
  *
  * Everything here is CONSERVATIVE: any unsupported filter shape,
  * type mismatch, missing stat, decode failure, or evaluation error
  * keeps the bucket. Pruning may only ever shrink the planned set to a
  * superset of the matching buckets, never below it.
  *
  * Stat values are stored as canonical STRINGS (timestamps as epoch
  * micros, dates as epoch days, decimals as plain text, strings raw
  * and only when ≤ [[ZoneMaps.MaxStatString]] chars) so the manifest
  * stays a line-oriented text file and parsing needs no schema
  * gymnastics. String comparisons are UNSIGNED UTF-8 BYTE order via
  * [[UTF8String]] — Spark's own binary collation — never
  * `java.lang.String.compareTo` (UTF-16 code-unit order diverges
  * beyond the BMP). Only default-collation strings record stats.
  */
object ZoneMaps {

  /** Longest string bound stored in a manifest. A bound longer than
    * this is OMITTED (not truncated: a truncated max would be a lower
    * value than the true max — an invalid upper bound). */
  val MaxStatString = 96

  /** Most (bucket-col value) combinations hash pruning will expand an
    * IN-list cross-product into before giving up. */
  val MaxHashCombos = 1024

  /** One column's bounds within one bucket. `min`/`max` absent +
    * `nulls == rows` means every value is null; absent for any other
    * reason (over-long string, unsupported at write time) means
    * unknown — the consumers distinguish via the enclosing
    * [[BucketStat.rows]]. */
  case class ColStat(min: Option[String], max: Option[String], nulls: Long)

  /** One bucket's recorded stats. `cols` only holds entries for
    * columns that were in `statsCols` when the bucket was last
    * rewritten — a bucket rewritten by a handle with a different
    * policy simply has different (or no) entries, and pruning treats
    * absence as "may match". */
  case class BucketStat(rows: Long, bytes: Long, cols: Map[String, ColStat])

  /** Is `dt` a type zone stats are recorded and compared for? */
  def supported(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case FloatType | DoubleType => true
    case _: DecimalType => true
    case s: StringType => s == StringType // UTF8_BINARY collation only
    case TimestampType | DateType => true
    case BooleanType => true
    case _ => false
  }

  /** One bucket's zone map computed row by row as its file is written,
    * so a commit needs no second pass over what it wrote. `cols` are
    * `(name, ordinal, type)` of the eligible columns in the written
    * rows. Bounds follow Spark's own `min`/`max` ordering (NaN above
    * every number, -0.0 equal to 0.0, strings in UTF-8 byte order) and
    * are recorded in the canonical forms the stats aggregation of
    * [[BucketedStateTable.analyzeStats]] produces: timestamps as epoch
    * micros, dates as epoch days, floats with -0.0 folded into 0.0,
    * everything else as Spark's cast to string. */
  private[pipeline] final class Collector(cols: Seq[(String, Int, DataType)]) {
    private val ordinals = cols.map(_._2).toArray
    private val types = cols.map(_._3).toArray
    private val orderings: Array[Ordering[Any]] =
      types.map(org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering)
    private val mins = new Array[Any](cols.size)
    private val maxs = new Array[Any](cols.size)
    private val nulls = new Array[Long](cols.size)
    private var rows = 0L

    def add(row: InternalRow): Unit = {
      rows += 1
      var i = 0
      while (i < ordinals.length) {
        if (row.isNullAt(ordinals(i))) nulls(i) += 1
        else {
          val v = row.get(ordinals(i), types(i))
          if (mins(i) == null || orderings(i).lt(v, mins(i))) mins(i) = InternalRow.copyValue(v)
          if (maxs(i) == null || orderings(i).gt(v, maxs(i))) maxs(i) = InternalRow.copyValue(v)
        }
        i += 1
      }
    }

    def result(bytes: Long): BucketStat =
      BucketStat(rows, bytes, cols.zipWithIndex.map { case ((name, _, dt), i) =>
        def bound(v: Any) = Option(v).map(canonical(dt, _)).filter(s =>
          dt != StringType || s.length <= MaxStatString)
        name -> ColStat(bound(mins(i)), bound(maxs(i)), nulls(i))
      }.toMap)
  }

  /** The recorded form of a non-null internal value `v` of type `dt`. */
  private def canonical(dt: DataType, v: Any): String = {
    import org.apache.spark.sql.catalyst.expressions.{Add, Cast}
    dt match {
      case TimestampType | DateType => v.toString
      case FloatType | DoubleType =>
        Cast(Add(Literal(v, dt), Literal.default(dt)), StringType).eval().toString
      case _ => Cast(Literal(v, dt), StringType).eval().toString
    }
  }

  // ---- manifest encoding ---------------------------------------------

  /** One-line JSON for one bucket's stats: `{"n":…,"b":…,"c":{col:
    * {"min":…,"max":…,"u":…}}}`. Bounds are JSON strings; jackson
    * escapes control characters, so the result never contains a
    * newline and survives the manifest's line protocol. */
  def encode(s: BucketStat): String = {
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods
    val cols = s.cols.toSeq.sortBy(_._1).map { case (name, c) =>
      name -> (("u" -> c.nulls) ~
        ("min" -> c.min) ~ ("max" -> c.max))
    }
    JsonMethods.compact(JsonMethods.render(
      ("n" -> s.rows) ~ ("b" -> s.bytes) ~
        ("c" -> org.json4s.JObject(cols.toList))))
  }

  /** Inverse of [[encode]]; None on any malformed payload (an old or
    * hand-edited manifest must degrade to no-pruning, not fail the
    * read). */
  def decode(json: String): Option[BucketStat] = try {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val v = JsonMethods.parse(json)
    def num(j: JValue): Option[Long] = j match {
      case JInt(i) => Some(i.toLong)
      case JLong(l) => Some(l)
      case _ => None
    }
    def str(j: JValue): Option[String] = j match {
      case JString(s) => Some(s)
      case _ => None
    }
    for {
      n <- num(v \ "n")
      b <- num(v \ "b")
    } yield BucketStat(n, b, (v \ "c") match {
      case JObject(fields) => fields.flatMap { case (name, c) =>
        num(c \ "u").map(u =>
          name -> ColStat(str(c \ "min"), str(c \ "max"), u))
      }.toMap
      case _ => Map.empty
    })
  } catch { case NonFatal(_) => None }

  // ---- comparison ----------------------------------------------------

  /** Compare a stored canonical bound against a predicate value in the
    * value's CATALYST-INTERNAL form (what `Literal.create(v, dt).eval()`
    * yields). None = not comparable (treat as may-match). */
  private def cmp(dt: DataType, bound: String, v: Any): Option[Int] = try {
    dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        Some(java.lang.Long.compare(bound.toLong,
          v.asInstanceOf[Number].longValue))
      case FloatType =>
        // parse as FLOAT first: the bound is Spark's shortest-round-trip
        // float string ("0.1"), and Double.parseDouble("0.1") is a
        // DIFFERENT double than (double) 0.1f — widening after the
        // float parse makes the bound round-trip to the exact stored
        // value instead of wrongly excluding it. `+ 0.0` collapses
        // -0.0 to 0.0 on both sides (Spark predicates treat them
        // equal; Double.compare does not).
        Some(java.lang.Double.compare(
          java.lang.Float.parseFloat(bound).toDouble + 0.0,
          v.asInstanceOf[Number].doubleValue + 0.0))
      case DoubleType =>
        // java.lang.Double.compare orders NaN greatest — Spark's own
        // float ordering, so a NaN bound behaves like the engine would
        Some(java.lang.Double.compare(bound.toDouble + 0.0,
          v.asInstanceOf[Number].doubleValue + 0.0))
      case _: DecimalType =>
        Some(new java.math.BigDecimal(bound)
          .compareTo(v.asInstanceOf[Decimal].toJavaBigDecimal))
      case s: StringType if s == StringType =>
        Some(UTF8String.fromString(bound)
          .compareTo(v.asInstanceOf[UTF8String]))
      case TimestampType =>
        Some(java.lang.Long.compare(bound.toLong, v.asInstanceOf[Long]))
      case DateType =>
        Some(java.lang.Long.compare(bound.toLong,
          v.asInstanceOf[Int].toLong))
      case BooleanType =>
        Some(java.lang.Boolean.compare(bound.toBoolean,
          v.asInstanceOf[Boolean]))
      case _ => None
    }
  } catch { case NonFatal(_) => None }

  /** External filter value → catalyst-internal form under `dt`; None on
    * any mismatch (conservative). */
  private def internal(v: Any, dt: DataType): Option[Any] =
    if (v == null) None
    else try Option(Literal.create(v, dt).eval(InternalRow.empty))
    catch { case NonFatal(_) => None }

  // ---- zone pruning ----------------------------------------------------

  /** May any row of a bucket with stats `bs` satisfy `f`? Unknown
    * columns, shapes, or types answer true. `schema` supplies column
    * types (filters carry none). */
  def mayMatch(f: Filter, bs: BucketStat, schema: StructType): Boolean = {
    def colType(name: String): Option[DataType] =
      schema.fields.find(_.name == name).map(_.dataType)
    def stat(name: String): Option[(DataType, ColStat)] =
      for { dt <- colType(name); c <- bs.cols.get(name) } yield (dt, c)
    def allNull(c: ColStat): Boolean = c.nulls == bs.rows

    // bound 'cmp' value, None-safe on both sides; absent bound = unbounded
    def lower(dt: DataType, c: ColStat, v: Any): Option[Int] =
      c.min.flatMap(cmp(dt, _, v))
    def upper(dt: DataType, c: ColStat, v: Any): Option[Int] =
      c.max.flatMap(cmp(dt, _, v))

    def valuePredicate(name: String, v: Any)(
        keep: (DataType, ColStat, Any) => Boolean): Boolean =
      stat(name) match {
        case None => true
        case Some((dt, c)) =>
          if (allNull(c)) false // no non-null value exists to satisfy it
          else internal(v, dt) match {
            case None => true
            case Some(iv) => keep(dt, c, iv)
          }
      }

    f match {
      case And(l, r) => mayMatch(l, bs, schema) && mayMatch(r, bs, schema)
      case Or(l, r) => mayMatch(l, bs, schema) || mayMatch(r, bs, schema)
      case EqualTo(a, v) if v != null =>
        valuePredicate(a, v) { (dt, c, iv) =>
          lower(dt, c, iv).forall(_ <= 0) && upper(dt, c, iv).forall(_ >= 0)
        }
      case EqualNullSafe(a, v) =>
        if (v == null) mayMatch(IsNull(a), bs, schema)
        else mayMatch(EqualTo(a, v), bs, schema)
      case In(a, vs) if vs != null =>
        vs.filter(_ != null)
          .exists(v => mayMatch(EqualTo(a, v), bs, schema)) ||
          vs.isEmpty || vs.forall(_ == null) // degenerate: stay conservative
      case GreaterThan(a, v) if v != null =>
        valuePredicate(a, v)((dt, c, iv) => upper(dt, c, iv).forall(_ > 0))
      case GreaterThanOrEqual(a, v) if v != null =>
        valuePredicate(a, v)((dt, c, iv) => upper(dt, c, iv).forall(_ >= 0))
      case LessThan(a, v) if v != null =>
        valuePredicate(a, v)((dt, c, iv) => lower(dt, c, iv).forall(_ < 0))
      case LessThanOrEqual(a, v) if v != null =>
        valuePredicate(a, v)((dt, c, iv) => lower(dt, c, iv).forall(_ <= 0))
      case IsNull(a) =>
        bs.cols.get(a).forall(_.nulls > 0)
      case IsNotNull(a) =>
        bs.cols.get(a).forall(c => !allNull(c))
      case StringStartsWith(a, p) if p != null =>
        valuePredicate(a, p) { (dt, c, iv) =>
          // s startsWith p  ⇒  p <= s < succ(p) in UTF-8 byte order
          upper(dt, c, iv).forall(_ >= 0) && {
            byteSucc(p.getBytes("UTF-8")) match {
              case None => true // p is all 0xFF: no finite upper bound
              case Some(succ) =>
                c.min.forall { mn =>
                  UTF8String.fromString(mn)
                    .compareTo(UTF8String.fromBytes(succ)) < 0
                }
            }
          }
        }
      case _ => true
    }
  }

  /** Smallest byte string strictly greater than every string with
    * prefix `p`: rightmost non-0xFF byte incremented, tail dropped. */
  private[graft] def byteSucc(p: Array[Byte]): Option[Array[Byte]] = {
    var i = p.length - 1
    while (i >= 0 && p(i) == -1) i -= 1
    if (i < 0) None
    else {
      val out = java.util.Arrays.copyOf(p, i + 1)
      out(i) = (out(i) + 1).toByte
      Some(out)
    }
  }

  // ---- hash pruning ----------------------------------------------------

  /** The table's own bucket assignment, re-evaluated driver-side over
    * literal values in bucket-column order: MUST stay in lockstep with
    * `BucketedStateTable.bucketOf` (`pmod(xxhash64(cols),
    * numBuckets)`; `functions.xxhash64` seeds 42). None on any
    * evaluation or type problem. */
  def bucketOfValues(values: Seq[Any], types: Seq[DataType],
      numBuckets: Int): Option[Int] = try {
    val lits = values.zip(types).map { case (v, t) => Literal.create(v, t) }
    Option(new XxHash64(lits, 42L).eval(InternalRow.empty)).map { h =>
      val m = h.asInstanceOf[Long] % numBuckets
      (if (m < 0) m + numBuckets else m).toInt
    }
  } catch { case NonFatal(_) => None }

  /** Value equality as SPARK PREDICATES judge it: -0.0 = 0.0 for
    * floats/doubles, decimals by numeric value regardless of scale;
    * everything else by plain equality. Used to intersect conjoined
    * equality constraints on one bucket column. */
  private def semEq(a: Any, b: Any): Boolean = (a, b) match {
    case (x: java.lang.Float, y: java.lang.Float) =>
      java.lang.Double.compare(x.toDouble + 0.0, y.toDouble + 0.0) == 0
    case (x: java.lang.Double, y: java.lang.Double) =>
      java.lang.Double.compare(x + 0.0, y + 0.0) == 0
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) =>
      x.compareTo(y) == 0
    case (x: scala.math.BigDecimal, y: scala.math.BigDecimal) =>
      x.compare(y) == 0
    case _ => a == b
  }

  /** Buckets that can hold a row satisfying the conjunction of
    * `filters`, via equality constraints covering EVERY bucket column;
    * None when the filters don't pin all of them (or the combination
    * count explodes past [[MaxHashCombos]]). */
  def hashCandidates(filters: Seq[Filter], schema: StructType,
      bucketCols: Seq[String], numBuckets: Int): Option[Set[Int]] = {
    // no recorded bucket columns (a manifest predating the layout
    // lines): there is NO key to pin — a zero-column "tuple" would
    // hash the bare seed and wrongly pin one arbitrary bucket
    if (bucketCols.isEmpty) return None
    // top-level conjunction, Ands flattened
    def conj(f: Filter): Seq[Filter] = f match {
      case And(l, r) => conj(l) ++ conj(r)
      case other => Seq(other)
    }
    val flat = filters.flatMap(conj)
    val types = bucketCols.map(c =>
      schema.fields.find(_.name == c).map(_.dataType))
    if (types.exists(_.isEmpty)) return None
    val valueSets: Seq[Option[Seq[Any]]] = bucketCols.map { bc =>
      val vss = flat.collect {
        case EqualTo(a, v) if a == bc && v != null => Seq(v)
        case EqualNullSafe(a, v) if a == bc && v != null => Seq(v)
        case In(a, vs) if a == bc && vs != null && vs.nonEmpty &&
            vs.forall(_ != null) => vs.toSeq
      }
      // several equality constraints on one column conjoin: intersect
      // SEMANTICALLY (compareTo == 0), not by boxed equals — boxed
      // -0.0 != 0.0 and scale-sensitive BigDecimal.equals would turn
      // x = 0.0 AND x = -0.0 into a false-EMPTY surviving set, i.e.
      // silently dropped rows
      if (vss.isEmpty) None
      else Some(vss.reduce((x, y) => x.filter(xv => y.exists(semEq(xv, _)))))
    }
    if (valueSets.exists(_.isEmpty)) return None
    val sets = valueSets.map(_.get)
    if (sets.map(_.size.toLong).product > MaxHashCombos) return None
    val combos = sets.foldLeft(Seq(Seq.empty[Any])) { (acc, vs) =>
      acc.flatMap(prefix => vs.map(prefix :+ _))
    }
    val buckets = combos.map(c =>
      bucketOfValues(c, types.map(_.get), numBuckets))
    if (buckets.exists(_.isEmpty)) None else Some(buckets.flatten.toSet)
  }

  // ---- the composed planner entry -------------------------------------

  /** The buckets of `allBuckets` a scan constrained by `filters` must
    * read: hash narrowing first (when the filters pin the full bucket
    * key), then per-bucket zone elimination. Always a subset of
    * `allBuckets`, always a superset of the buckets holding matching
    * rows. */
  def surviving(filters: Seq[Filter], schema: StructType,
      bucketCols: Seq[String], numBuckets: Int,
      stats: Map[Int, BucketStat], allBuckets: Set[Int]): Set[Int] = {
    if (filters.isEmpty) return allBuckets
    val hashed = hashCandidates(filters, schema, bucketCols, numBuckets)
      .map(allBuckets.intersect).getOrElse(allBuckets)
    hashed.filter { b =>
      stats.get(b).forall(bs =>
        filters.forall(f => mayMatch(f, bs, schema)))
    }
  }
}
