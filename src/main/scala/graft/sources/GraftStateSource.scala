package graft.sources

import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, NoSuchNamespaceException}
import org.apache.spark.sql.connector.catalog.{Identifier, SupportsRead, SupportsRowLevelOperations, SupportsWrite, Table, TableCapability, TableCatalog, TableChange, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Transform}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, SupportsDelta, V1Write, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.sources.{DataSourceRegister, Filter, InsertableRelation}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.pipeline.{BucketedStateTable, ListedFileIndex, StateManifest}

/** DSv2 batch source over a [[graft.pipeline.BucketedStateTable]]
  * snapshot — the SQL-addressable face of the engine's big-state layout,
  * matching how the reference's users reach its tables in plain SQL
  * (`createSequencesAndTablesProductionDB.sql:19-89` defines them for
  * ad-hoc querying, not just the service).
  *
  * {{{
  * spark.read.format("graft-state").load("/state/oai_headers")
  * spark.read.format("graft-state").option("commit", 3).load(root)  // time travel
  * }}}
  *
  * Resolution happens ONCE at table load: the newest manifest (or the
  * `commit` option's) maps each bucket to the commit directory holding
  * its current rows, and the scan is a plain parquet scan of exactly
  * those directories — [[graft.pipeline.BucketedStateTable.read]]'s
  * one-consistent-snapshot semantics, now with the full DSv2 scan
  * machinery attached: filter pushdown, column pruning, and partition
  * coalescing all ride the built-in parquet path ([[ParquetTable]] is
  * the delegate), so `SELECT count(*)` or a keyed lookup over SQL plans
  * exactly like the library call would.
  *
  * Mutations: `INSERT INTO` (and `df.write.format("graft-state")
  * .mode("append")`) routes through the [[graft.pipeline.StateTable]]
  * commit protocol as a keyed MERGE — see [[GraftStateSqlTable]]. DDL
  * and overwrite stay refused: the protocol (write lock, lease,
  * manifest rename) is what MAKES the snapshot this source resolves
  * consistent. */
class GraftStateSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-state"

  // One resolve per load: Spark calls inferSchema then getTable on the
  // SAME provider instance; caching the resolved table between them
  // keeps schema and data paths from straddling a commit that lands in
  // the gap (the one-consistent-snapshot guarantee at load time).
  @volatile private var cached: (String, GraftStateSqlTable) = _

  private def cacheKey(o: CaseInsensitiveStringMap): String =
    o.get("path") + "#commit=" + Option(o.get("commit")).getOrElse("")

  private def resolveCached(o: CaseInsensitiveStringMap): GraftStateSqlTable = {
    val k = cacheKey(o)
    val c = cached
    if (c != null && c._1 == k) c._2
    else {
      val t = GraftStateSource.resolve(o)
      cached = (k, t)
      t
    }
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    resolveCached(options).schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    resolveCached(new CaseInsensitiveStringMap(properties))

  override def supportsExternalMetadata(): Boolean = false
}

object GraftStateSource {
  /** Manifest-resolved snapshot as a parquet-backed DSv2 table with the
    * merge-routed SQL write surface attached. */
  private[sources] def resolve(options: CaseInsensitiveStringMap): GraftStateSqlTable = {
    val path = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "graft-state needs a path: spark.read.format(\"graft-state\").load(<table root>)"))
    val commit = Option(options.get("commit")).map(_.toLong)
    val snap = StateManifest.snapshot(
      SparkSession.active.sessionState.newHadoopConf(), path, commit)
    sqlTable(path, commit, snap, options)
  }

  /** The DSv2 table over ONE resolved manifest: data paths, recorded
    * schema, and zone maps all come from the SAME [[StateManifest]] —
    * a commit landing between two separate manifest reads could
    * otherwise hand the scan a different snapshot than the pruning
    * metadata describes (the load-time pinning guarantee). */
  private[sources] def sqlTable(path: String, commit: Option[Long],
      snap: Option[StateManifest],
      options: CaseInsensitiveStringMap): GraftStateSqlTable = {
    // The manifest's RECORDED schema (when present) is authoritative,
    // files or no files: a committed-but-EMPTY snapshot (a fully
    // drained queue) is a real table with zero rows, and after a
    // widening merge / ALTER ADD COLUMNS the clean buckets still hold
    // files under the narrower pre-widening shape — footer sampling
    // would present whichever file it lands on, while the recorded
    // schema null-fills the missing columns deterministically. The
    // error is reserved for the truly-never-committed (or
    // pre-schema-manifest, which falls back to footer inference) case.
    val z = snap.getOrElse(
      throw new IllegalArgumentException(
        s"graft-state table at $path has no committed snapshot" +
          commit.map(c => s" readable at commit $c").getOrElse("")))
    if (z.buckets.isEmpty && z.schema.isEmpty)
      throw new IllegalArgumentException(
        s"graft-state table at $path has no committed snapshot" +
          commit.map(c => s" readable at commit $c").getOrElse(""))
    new GraftStateSqlTable(path,
      manifestTable(s"graft-state `$path`", options, path, z, z.buckets.keys),
      z)
  }

  /** A [[ParquetTable]] over the `buckets` of snapshot `z` whose file
    * index comes from the manifest's file pointers
    * ([[ListedFileIndex.partitionAware]]): loading and planning the
    * scan list nothing, where a `ParquetTable` over paths lists them
    * with a Spark job past 32 buckets. */
  private[sources] def manifestTable(name: String,
      options: CaseInsensitiveStringMap, path: String, z: StateManifest,
      buckets: Iterable[Int]): ParquetTable = {
    import scala.jdk.CollectionConverters._
    val spark = SparkSession.active
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    val opts = options.asCaseSensitiveMap.asScala.toMap
    // one root per file, however many buckets name it; a file holding
    // buckets outside `buckets` adds rows the scan's residual filters
    // drop (a pruned set is a superset of the matching buckets)
    val roots = BucketedStateTable.filesOf(fs, z.locations(new Path(path), buckets))
      .map(f => fs.makeQualified(f.root) -> f.files.toArray)
    new ParquetTable(name, spark, options, roots.map(_._1.toString),
        userSpecifiedSchema = z.schema,
        fallbackFileFormat = classOf[ParquetFileFormat]) {
      override lazy val fileIndex: PartitioningAwareFileIndex =
        ListedFileIndex.partitionAware(spark, roots, z.schema, opts)
    }
  }
}

/** The DSv2 face of one bucketed state table: scans delegate to the
  * resolved snapshot's [[ParquetTable]] (pushdown/pruning ride the
  * stock parquet path untouched), and the WRITE surface routes through
  * [[graft.pipeline.BucketedStateTable.merge]] — `INSERT INTO` a state
  * table is an UPSERT on the table's recorded merge key, executed under
  * the full commit protocol (JVM lock, lease, optimistic manifest
  * publish), so SQL writers and library writers interleave without lost
  * updates and every SQL write is one atomic commit.
  *
  * The write is a [[V1Write]]: the planner hands the whole batch
  * DataFrame to the driver-side [[InsertableRelation]], which is
  * exactly the seam `merge` wants — the merge itself then shuffles and
  * rewrites only the dirty buckets distributed, nothing is collected.
  * `INSERT OVERWRITE` is refused (no TRUNCATE capability): replacing
  * contents has a library verb (`replaceAll`) with its own semantics.
  *
  * `DELETE FROM graft_state.t WHERE ...` is supported for conditions
  * expressible as source filters (comparisons, IN, IS [NOT] NULL,
  * string prefix/suffix/contains, AND/OR/NOT): the matching rows of the
  * CURRENT snapshot route through
  * [[graft.pipeline.BucketedStateTable.deleteWhereUnmodified]] — the
  * full-tuple-match delete verb, bucket-pruned to the affected buckets,
  * one atomic commit, and carrying the verb's late-update guard (a row
  * a concurrent writer modified between the snapshot read and the
  * commit survives, exactly the reference's modified-since-read
  * semantics). A condition outside the filter algebra no longer
  * refuses: it runs through the row-level delta path below.
  *
  * `UPDATE ... SET` and ANSI `MERGE INTO ... WHEN MATCHED UPDATE /
  * DELETE, WHEN NOT MATCHED INSERT` are supported via Spark's
  * delta-based row-level rewrite ([[newRowLevelOperationBuilder]]):
  * the merge key is the row identity, only the TOUCHED rows reach the
  * write, and the whole statement lands as ONE atomic bucket-pruned
  * commit through [[graft.pipeline.BucketedStateTable.applyDelta]] —
  * completing SQL-DML parity with the reference's INSERT ON CONFLICT /
  * UPDATE / DELETE surface (`PostgrePersistenceService.java:218-280`).
  *
  * NOT exposed: a direct parquet append into the bucket directories
  * (what the delegate's own write surface would do) — that would
  * bypass the manifest and corrupt the layout, which is why this
  * wrapper exists instead of returning the delegate. */
class GraftStateSqlTable(
    private[sources] val rootPath: String,
    delegate: ParquetTable,
    // the LOAD-TIME manifest — pinned, so every scan of this table
    // instance prunes against, and its schema marks the key columns of,
    // exactly the snapshot the delegate's paths came from, commits since
    // load notwithstanding
    private[sources] val snapshot: StateManifest)
    extends Table
    with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with SupportsRowLevelOperations {

  override def name(): String = delegate.name

  // Merge-key columns are the ROW IDENTITY — declared non-null so the
  // row-level rewrite accepts them as rowId attributes
  // (NULLABLE_ROW_ID_ATTRIBUTES otherwise); the commit protocol never
  // admits a null key. Tables whose manifests predate the layout lines
  // keep the delegate schema (and refuse row-level DML with the
  // no-recorded-layout message).
  private lazy val layoutKeyCols: Set[String] =
    snapshot.layout.map(_.keyCols.toSet).getOrElse(Set.empty)

  override def schema(): StructType =
    StructType(delegate.schema.fields.map(f =>
      if (layoutKeyCols.contains(f.name)) f.copy(nullable = false) else f))

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE)

  /** Scans interpose manifest-level BUCKET PRUNING between Spark's
    * filter pushdown and the delegate parquet scan: pushed predicates
    * are checked against the manifest's bucket hash (a point lookup on
    * the full bucket key plans ONE bucket) and recorded zone maps
    * ([[graft.pipeline.ZoneMaps]]) before any file listing happens —
    * then the surviving buckets ride the stock parquet path (footer
    * row-group stats, column pruning, partition coalescing) exactly as
    * before. Pruning is a SUPERSET read and the residual filters stay
    * post-scan, so results are identical; only the planned file set
    * shrinks. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftZonePrunedScanBuilder(rootPath, snapshot, options, delegate)

  /** The library-side table this SQL surface mutates through, laid out
    * exactly as the manifest records — ONE manifest read per statement.
    * Retention policy comes from the manifest too: a SQL write must
    * never prune history the owning handle was configured to keep, so
    * manifests that predate the policy lines get a never-prune handle
    * (cleanup stays with the library writers that know the policy). */
  /** The recorded layout, or the ONE no-recorded-layout refusal every
    * SQL write path shares (INSERT and the row-level delta rewrite must
    * never drift in wording or contract). */
  private[sources] def layoutOrRefuse(
      conf: org.apache.hadoop.conf.Configuration): BucketedStateTable.Layout =
    StateManifest.snapshot(conf, rootPath).flatMap(_.layout).getOrElse(
      throw new UnsupportedOperationException(
        s"graft-state table at $rootPath has no recorded layout " +
          "(keyCols manifest line) — its manifests predate the " +
          "SQL write surface; one library merge() refreshes it"))

  private[sources] def stateTable(
      spark: SparkSession): (BucketedStateTable, BucketedStateTable.Layout) = {
    val layout = layoutOrRefuse(spark.sessionState.newHadoopConf())
    val t = BucketedStateTable.fromLayout(spark, rootPath, layout)
    (t, layout)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit = {
              require(!overwrite,
                s"graft-state table at $rootPath accepts INSERT INTO " +
                  "(append-as-merge) only; replace contents through the " +
                  "library's replaceAll")
              val spark = data.sparkSession
              val (t, layout) = stateTable(spark)
              // positional column mapping, like every SQL INSERT; the
              // analyzer already cast the query to the table schema
              t.merge(data.toDF(schema().fieldNames.toSeq: _*),
                keys = layout.keyCols)
            }
          }
      }
    }

  /** Row-level SQL DML — `UPDATE ... SET`, `MERGE INTO`, and DELETEs
    * whose condition falls outside the pushable filter algebra — via
    * Spark's DELTA-based rewrite ([[SupportsDelta]]): the merge key IS
    * the row identity, so the planner ships only the TOUCHED rows
    * (operation, key, new row) to the write, and
    * [[graft.pipeline.BucketedStateTable.applyDelta]] applies them as
    * one atomic bucket-pruned commit under the full protocol. Simple
    * DELETEs still collapse to the metadata path
    * (`OptimizeMetadataOnlyDeleteFromTable` converts back to
    * [[deleteWhere]] when every filter is pushable), keeping their
    * scan-free shape. The touched rows cross the driver in commit
    * messages under the same bounded-batch contract as the streaming
    * sink (1M rows) — state-table DML is batch-sized by contract;
    * corpus-scale rewrites belong to the library verbs. */
  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder =
    () => new GraftStateDeltaOperation(this, info.command)

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(f => GraftStateSqlTable.filterColumn(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val spark = SparkSession.active
    val (t, _) = stateTable(spark)
    t.read().foreach { current =>
      val cond = filters.toSeq.flatMap(GraftStateSqlTable.filterColumn)
        .reduceOption(_ && _)
        .getOrElse(org.apache.spark.sql.functions.lit(true))
      // SQL DELETE removes rows where the condition IS TRUE; filter()
      // keeps exactly those (null condition rows survive), and the
      // full-tuple verb deletes them bucket-pruned under the protocol.
      // PERSISTED: the verb evaluates its `processed` frame twice
      // (dirty-bucket probe, commit write) — without the cache each
      // pass re-runs the filtered FULL-TABLE scan
      val matching = current.filter(cond)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      try t.deleteWhereUnmodified(matching)
      finally matching.unpersist()
    }
  }
}

/** The scan-side seam where manifest metadata meets Catalyst's
  * pushdown: receives the query's filter expressions
  * ([[org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters]]
  * — the same contract the file-source builders implement), translates
  * them to V1 source filters, and asks
  * [[StateManifest.survivingBuckets]] which buckets can possibly
  * match. When that is a proper subset, the inner builder is REBUILT
  * over only the surviving bucket directories (same snapshot manifest,
  * same recorded schema) before filters, required columns, and
  * aggregates are forwarded — so everything downstream (parquet filter
  * pushdown, row-group skipping, vectorized read, column pruning)
  * behaves exactly as it would on the full scan, minus the buckets
  * that provably hold no matching rows.
  *
  * Correctness never depends on the pruning: it yields a SUPERSET of
  * the matching buckets and the forwarded builder keeps every data
  * filter as a post-scan residual (the file-source contract), so a
  * stale or absent zone map costs only speed. Aggregate pushdown
  * (count-star over footers) only fires on filterless scans — which
  * never prune — so a pushed aggregate always sees the whole table. */
private[sources] class GraftZonePrunedScanBuilder(
    rootPath: String,
    snapshot: StateManifest,
    options: CaseInsensitiveStringMap,
    full: ParquetTable) extends ScanBuilder
    with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  import org.apache.spark.sql.catalyst.expressions.Expression
  import org.apache.spark.sql.connector.read.{Scan, SupportsPushDownAggregates, SupportsPushDownRequiredColumns}
  import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters

  private var inner: ScanBuilder = full.newScanBuilder(options)
  // the bucket set the (possibly rebuilt) inner scan reads — what the
  // reported statistics must describe; None = the full snapshot
  private var survivors: Option[Set[Int]] = None
  // a COMPLETELY pushed aggregate changes what the scan emits (one
  // pre-aggregated row per file, not table rows) — the manifest sums
  // would then describe the wrong relation, so build() must not
  // decorate
  private var aggPushed = false

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    val v1 = filters.flatMap(ZonePruneFilters.necessary)
    if (v1.nonEmpty) {
      snapshot.survivingBuckets(v1).foreach { surv =>
        survivors = Some(surv)
        if (surv.size != snapshot.buckets.size) {
          inner = GraftStateSource.manifestTable(
            s"graft-state `$rootPath` (bucket-pruned " +
              s"${surv.count(snapshot.buckets.contains)}/${snapshot.buckets.size})",
            options, rootPath, snapshot, surv).newScanBuilder(options)
        }
      }
    }
    inner match {
      case c: SupportsPushDownCatalystFilters => c.pushFilters(filters)
      case _ => filters
    }
  }

  override def pushedFilters
      : Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    inner match {
      case c: SupportsPushDownCatalystFilters => c.pushedFilters
      case _ => Array.empty
    }

  override def pruneColumns(requiredSchema: StructType): Unit =
    inner match {
      case c: SupportsPushDownRequiredColumns => c.pruneColumns(requiredSchema)
      case _ => ()
    }

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean =
    inner match {
      case a: SupportsPushDownAggregates =>
        val pushed = a.pushAggregation(agg)
        aggPushed ||= pushed
        pushed
      case _ => false
    }

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean =
    inner match {
      case a: SupportsPushDownAggregates => a.supportCompletePushDown(agg)
      case _ => false
    }

  /** The built scan, decorated with MANIFEST statistics when the zone
    * maps cover every planned bucket: exact row and byte counts are
    * already in the manifest, so a COLD plan (no AQE, no CBO table
    * stats) sees the real size at join-strategy time — a small state
    * dimension joined to a large fact plans a broadcast-hash join
    * without waiting for AQE's runtime re-plan, and a point lookup's
    * statistics shrink to the one surviving bucket. A bucket without
    * recorded stats degrades that field to the delegate's own
    * file-listing estimate — never a guess. */
  override def build(): Scan = {
    val built = inner.build()
    if (aggPushed) built
    else {
      val set = survivors.getOrElse(snapshot.buckets.keySet)
      val statted = set.toSeq.flatMap(snapshot.zoneStats.get)
      val covered = statted.size == set.size
      val rows = if (covered) Some(statted.map(_.rows).sum) else None
      // a statted-but-zero-byte bucket holding rows means the byte
      // accounting is unknown (pre-bytes manifest line): fall back
      val bytes =
        if (covered && statted.forall(s => s.rows == 0L || s.bytes > 0L))
          Some(statted.map(_.bytes).sum)
        else None
      if (rows.isEmpty && bytes.isEmpty) built
      else new ManifestStatsScan(built, rows, bytes)
    }
  }
}

/** Statistics decorator over the built parquet scan: everything
  * delegates (the inner [[org.apache.spark.sql.execution.datasources.v2.FileScan]]
  * IS the Batch and carries the explain metadata), but
  * `estimateStatistics` answers from the MANIFEST's zone-map lines —
  * exact rows/bytes for exactly the buckets this scan reads — falling
  * back per-field to the delegate's estimate. Equality forwards to the
  * delegate so exchange/scan reuse still dedupes identical subplans. */
private[graft] class ManifestStatsScan(
    private[graft] val inner: org.apache.spark.sql.connector.read.Scan,
    rows: Option[Long],
    bytes: Option[Long])
    extends org.apache.spark.sql.connector.read.Scan
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.internal.connector.SupportsMetadata {
  import org.apache.spark.sql.connector.read.{Scan => V2Scan, _}

  override def readSchema(): StructType = inner.readSchema()
  override def description(): String = inner.description()
  override def toBatch: Batch = inner.toBatch
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    inner.toMicroBatchStream(checkpointLocation)
  override def toContinuousStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.ContinuousStream =
    inner.toContinuousStream(checkpointLocation)
  override def supportedCustomMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    inner.supportedCustomMetrics()
  override def reportDriverMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    inner.reportDriverMetrics()
  override def columnarSupportMode(): V2Scan.ColumnarSupportMode =
    inner.columnarSupportMode()

  override def estimateStatistics(): Statistics = {
    val fallback = inner match {
      case s: SupportsReportStatistics => Some(s.estimateStatistics())
      case _ => None
    }
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        bytes.map(java.util.OptionalLong.of)
          .orElse(fallback.map(_.sizeInBytes()))
          .getOrElse(java.util.OptionalLong.empty())
      override def numRows(): java.util.OptionalLong =
        rows.map(java.util.OptionalLong.of)
          .orElse(fallback.map(_.numRows()))
          .getOrElse(java.util.OptionalLong.empty())
    }
  }

  override def getMetaData(): Map[String, String] = inner match {
    case m: org.apache.spark.sql.internal.connector.SupportsMetadata =>
      m.getMetaData()
    case _ => Map.empty
  }

  override def equals(other: Any): Boolean = other match {
    case m: ManifestStatsScan => inner == m.inner
    case _ => false
  }
  override def hashCode(): Int = inner.hashCode()
}

/** Catalyst expression → V1 source filter, weakened to a NECESSARY
  * condition: the result may admit more rows than the expression, never
  * fewer. That asymmetry is exactly what bucket pruning wants — a
  * conjunct it cannot translate is simply dropped (the pruning gets
  * weaker, the superset read gets bigger, correctness is untouched),
  * where Spark's own exact translator would have to reject the whole
  * predicate. Disjunctions stay all-or-nothing: weakening ONE arm of an
  * OR does not yield a necessary condition for the whole. */
private[sources] object ZonePruneFilters {
  import org.apache.spark.sql.catalyst.expressions
  import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, Literal => CLit}
  import org.apache.spark.sql.sources._
  import org.apache.spark.sql.types._
  import org.apache.spark.unsafe.types.UTF8String
  import org.apache.spark.sql.types.Decimal

  /** Catalyst-internal literal value → the external form V1 filters
    * carry (what [[graft.pipeline.ZoneMaps]] expects). None for null or
    * anything outside the zone-map type set. */
  private def external(v: Any, dt: DataType): Option[Any] = (v, dt) match {
    case (null, _) => None
    case (s: UTF8String, _) => Some(s.toString)
    case (d: Decimal, _) => Some(d.toJavaBigDecimal)
    case (days: Int, DateType) =>
      Some(java.time.LocalDate.ofEpochDay(days.toLong))
    case (micros: Long, TimestampType) =>
      Some(java.time.Instant.ofEpochSecond(
        java.lang.Math.floorDiv(micros, 1000000L),
        java.lang.Math.floorMod(micros, 1000000L) * 1000L))
    case (x: Byte, _) => Some(x)
    case (x: Short, _) => Some(x)
    case (x: Int, _) => Some(x)
    case (x: Long, _) => Some(x)
    case (x: Float, _) => Some(x)
    case (x: Double, _) => Some(x)
    case (x: Boolean, _) => Some(x)
    case _ => None
  }

  def necessary(e: Expression): Option[Filter] = e match {
    case expressions.And(l, r) =>
      // partial conjunctions are fine: each translated arm is already
      // a necessary condition of the whole AND
      (necessary(l), necessary(r)) match {
        case (Some(a), Some(b)) => Some(And(a, b))
        case (a, b) => a.orElse(b)
      }
    case expressions.Or(l, r) =>
      for { a <- necessary(l); b <- necessary(r) } yield Or(a, b)
    case expressions.EqualTo(a: Attribute, CLit(v, dt)) =>
      external(v, dt).map(EqualTo(a.name, _))
    case expressions.EqualTo(CLit(v, dt), a: Attribute) =>
      external(v, dt).map(EqualTo(a.name, _))
    case expressions.EqualNullSafe(a: Attribute, CLit(v, dt)) =>
      if (v == null) Some(IsNull(a.name))
      else external(v, dt).map(EqualNullSafe(a.name, _))
    case expressions.EqualNullSafe(CLit(v, dt), a: Attribute) =>
      if (v == null) Some(IsNull(a.name))
      else external(v, dt).map(EqualNullSafe(a.name, _))
    case expressions.GreaterThan(a: Attribute, CLit(v, dt)) =>
      external(v, dt).map(GreaterThan(a.name, _))
    case expressions.GreaterThan(CLit(v, dt), a: Attribute) =>
      external(v, dt).map(LessThan(a.name, _))
    case expressions.GreaterThanOrEqual(a: Attribute, CLit(v, dt)) =>
      external(v, dt).map(GreaterThanOrEqual(a.name, _))
    case expressions.GreaterThanOrEqual(CLit(v, dt), a: Attribute) =>
      external(v, dt).map(LessThanOrEqual(a.name, _))
    case expressions.LessThan(a: Attribute, CLit(v, dt)) =>
      external(v, dt).map(LessThan(a.name, _))
    case expressions.LessThan(CLit(v, dt), a: Attribute) =>
      external(v, dt).map(GreaterThan(a.name, _))
    case expressions.LessThanOrEqual(a: Attribute, CLit(v, dt)) =>
      external(v, dt).map(LessThanOrEqual(a.name, _))
    case expressions.LessThanOrEqual(CLit(v, dt), a: Attribute) =>
      external(v, dt).map(GreaterThanOrEqual(a.name, _))
    case expressions.In(a: Attribute, values)
        if values.forall(_.isInstanceOf[CLit]) =>
      val ext = values.map { case CLit(v, dt) => external(v, dt) }
      if (ext.exists(_.isEmpty)) None
      else Some(In(a.name, ext.flatten.toArray))
    case expressions.InSet(a: Attribute, set) =>
      val ext = set.toSeq.filter(_ != null)
        .map(external(_, a.dataType))
      // dropped nulls only WIDEN nothing: null ∈ IN-set matches no row
      if (ext.exists(_.isEmpty)) None
      else Some(In(a.name, ext.flatten.toArray))
    case expressions.IsNull(a: Attribute) => Some(IsNull(a.name))
    case expressions.IsNotNull(a: Attribute) => Some(IsNotNull(a.name))
    case expressions.StartsWith(a: Attribute, CLit(v, dt)) =>
      external(v, dt).collect { case s: String => StringStartsWith(a.name, s) }
    case _ => None
  }
}

object GraftStateSqlTable {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{col, lit}
  import org.apache.spark.sql.sources._

  /** V1 source filter → Column, None for anything outside the algebra
    * (which makes `canDeleteWhere` refuse the whole DELETE loudly). */
  private[sources] def filterColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(col(a) === lit(v))
    case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case GreaterThan(a, v) => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v) => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case StringContains(a, v) => Some(col(a).contains(v))
    case And(l, r) =>
      for { lc <- filterColumn(l); rc <- filterColumn(r) } yield lc && rc
    case Or(l, r) =>
      for { lc <- filterColumn(l); rc <- filterColumn(r) } yield lc || rc
    case Not(c) => filterColumn(c).map(!_)
    case _: AlwaysTrue => Some(lit(true))
    case _: AlwaysFalse => Some(lit(false))
    case _ => None
  }
}

/** Delta-based row-level operation for one state table
  * ([[GraftStateSqlTable.newRowLevelOperationBuilder]]): Spark's
  * rewrite rules turn `UPDATE`/`MERGE INTO`/non-pushable `DELETE` into
  * a plan that scans the current snapshot (via the same delegate scan
  * as reads — pushdown and pruning intact), computes the TOUCHED rows
  * only, and feeds them to the delta write as
  * insert/update/delete callbacks keyed by [[rowId]] = the table's
  * merge key. Updates arrive as (old key, new row) and are applied as
  * delete+upsert, which also covers key-changing `SET`s. */
private[sources] class GraftStateDeltaOperation(
    table: GraftStateSqlTable,
    cmd: RowLevelOperation.Command) extends SupportsDelta {

  override def command(): RowLevelOperation.Command = cmd

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    table.newScanBuilder(options)

  override def rowId(): Array[NamedReference] =
    table.layoutOrRefuse(SparkSession.active.sessionState.newHadoopConf())
      .keyCols.map(Expressions.column).toArray

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite =
        new GraftStateDeltaWrite(table, info.schema(),
          info.rowIdSchema().orElseThrow(() => new IllegalStateException(
            "delta write without a rowId schema")))
    }
}

private[sources] class GraftStateDeltaWrite(
    table: GraftStateSqlTable,
    rowSchema: StructType,
    idSchema: StructType) extends DeltaWrite {
  override def toBatch(): DeltaBatchWrite =
    new GraftStateDeltaBatchWrite(table, rowSchema, idSchema)
}

/** The driver side of the delta write: each task ships its converted
  * touched rows back in its commit message (the same bounded driver
  * ferry as the streaming sink — state-table DML is batch-sized by
  * contract, [[GraftStateDeltaBatchWrite.MaxDriverRows]]), and commit
  * applies the union through
  * [[graft.pipeline.BucketedStateTable.applyDelta]] — ONE atomic
  * bucket-pruned commit under the JVM lock + lease + optimistic
  * manifest publish, so SQL DML and concurrent library writers
  * interleave without lost updates. Abort discards the buffered rows;
  * nothing is staged on disk before commit. */
private[sources] class GraftStateDeltaBatchWrite(
    table: GraftStateSqlTable,
    rowSchema: StructType,
    idSchema: StructType) extends DeltaBatchWrite {
  import scala.jdk.CollectionConverters._

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DeltaWriterFactory =
    new GraftStateDeltaWriterFactory(rowSchema, idSchema,
      GraftStateDeltaBatchWrite.MaxDriverRows)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val msgs = messages.collect { case m: GraftStateDeltaMessage => m }
    val upserts = msgs.iterator.flatMap(_.upserts).toVector
    val deletes = msgs.iterator.flatMap(_.deleteIds).toVector
    require(upserts.size + deletes.size <= GraftStateDeltaBatchWrite.MaxDriverRows,
      s"graft-state row-level DML at ${table.rootPath} touches " +
        s"${upserts.size + deletes.size} rows, over the " +
        s"${GraftStateDeltaBatchWrite.MaxDriverRows}-row driver-ferry " +
        "contract; rewrites this size belong on the library's " +
        "merge/replaceAll verbs")
    val (t, layout) = table.stateTable(spark)
    val cols = table.schema().fieldNames.toSeq
    // a pure DELETE ships NO row columns (empty row schema) — the
    // upserts frame still must carry the full table schema, because it
    // shapes applyDelta's empty-state read
    val upDf =
      if (rowSchema.isEmpty)
        spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          table.schema())
      else spark.createDataFrame(
          upserts.map(a => org.apache.spark.sql.Row.fromSeq(a.toSeq)).asJava,
          rowSchema)
        .select(cols.map(org.apache.spark.sql.functions.col): _*)
    val delDf = spark.createDataFrame(
        deletes.map(a => org.apache.spark.sql.Row.fromSeq(a.toSeq)).asJava,
        idSchema)
      .select(layout.keyCols.map(org.apache.spark.sql.functions.col): _*)
    t.applyDelta(upDf, delDf, layout.keyCols)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

private[sources] object GraftStateDeltaBatchWrite {
  /** Same bound as the streaming sink's row ferry: SQL DML touches a
    * batch of keys, never the corpus. */
  val MaxDriverRows = 1000000
}

/** Per-task commit message carrying the task's touched rows as
  * EXTERNAL (JVM-serializable) values. */
private[sources] case class GraftStateDeltaMessage(
    upserts: Array[Array[Any]],
    deleteIds: Array[Array[Any]]) extends WriterCommitMessage

private[sources] class GraftStateDeltaWriterFactory(
    rowSchema: StructType,
    idSchema: StructType,
    maxRows: Int) extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long):
      DeltaWriter[org.apache.spark.sql.catalyst.InternalRow] =
    new GraftStateDeltaRowWriter(rowSchema, idSchema, maxRows)
}

/** Executor-side delta writer: converts each callback's projected
  * `InternalRow` (a REUSED mutable wrapper — values must be copied out
  * immediately) to external values and buffers them for the commit
  * message. Updates become delete(old id) + upsert(new row). */
private[sources] class GraftStateDeltaRowWriter(
    rowSchema: StructType,
    idSchema: StructType,
    maxRows: Int)
    extends DeltaWriter[org.apache.spark.sql.catalyst.InternalRow] {
  import org.apache.spark.sql.catalyst.InternalRow

  private val upserts = scala.collection.mutable.ArrayBuffer.empty[Array[Any]]
  private val deleteIds = scala.collection.mutable.ArrayBuffer.empty[Array[Any]]

  private def guard(): Unit =
    require(upserts.size + deleteIds.size <= maxRows,
      s"row-level DML task exceeds the $maxRows-row driver-ferry contract")

  override def delete(meta: InternalRow, id: InternalRow): Unit = {
    deleteIds += GraftStateDeltaRowWriter.toExternal(id, idSchema); guard()
  }
  override def update(meta: InternalRow, id: InternalRow,
      row: InternalRow): Unit = {
    deleteIds += GraftStateDeltaRowWriter.toExternal(id, idSchema)
    upserts += GraftStateDeltaRowWriter.toExternal(row, rowSchema); guard()
  }
  override def insert(row: InternalRow): Unit = {
    upserts += GraftStateDeltaRowWriter.toExternal(row, rowSchema); guard()
  }
  override def commit(): WriterCommitMessage =
    GraftStateDeltaMessage(upserts.toArray, deleteIds.toArray)
  override def abort(): Unit = { upserts.clear(); deleteIds.clear() }
  override def close(): Unit = ()
}

private[sources] object GraftStateDeltaRowWriter {
  import org.apache.spark.sql.types._

  /** Internal → external value conversion for the ferry: the commit
    * message must carry plain JVM-serializable values, and the driver
    * rebuilds rows via `createDataFrame`, which expects the external
    * type for each Catalyst type. Covers every type a state table
    * schema can carry; anything else refuses loudly. */
  def toExternal(row: org.apache.spark.sql.catalyst.InternalRow,
      schema: StructType): Array[Any] = {
    val out = new Array[Any](schema.length)
    var i = 0
    while (i < schema.length) {
      out(i) =
        if (row.isNullAt(i)) null
        else convert(row.get(i, schema(i).dataType), schema(i).dataType)
      i += 1
    }
    out
  }

  private def convert(v: Any, dt: DataType): Any = dt match {
    case StringType => v.toString // UTF8String
    case _: ByteType | _: ShortType | _: IntegerType | _: LongType |
         _: FloatType | _: DoubleType | BooleanType => v
    case BinaryType =>
      val b = v.asInstanceOf[Array[Byte]]; java.util.Arrays.copyOf(b, b.length)
    case TimestampType =>
      val micros = v.asInstanceOf[Long]
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
        Math.floorDiv(micros, 1000000L), Math.floorMod(micros, 1000000L) * 1000L))
    case TimestampNTZType =>
      java.time.LocalDateTime.ofEpochSecond(
        Math.floorDiv(v.asInstanceOf[Long], 1000000L),
        (Math.floorMod(v.asInstanceOf[Long], 1000000L) * 1000L).toInt,
        java.time.ZoneOffset.UTC)
    case DateType =>
      java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(
        v.asInstanceOf[Int].toLong))
    case d: DecimalType =>
      v.asInstanceOf[org.apache.spark.sql.types.Decimal].toJavaBigDecimal
    case ArrayType(et, _) =>
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toObjectArray(et).map(e => if (e == null) null else convert(e, et))
        .toSeq
    case MapType(kt, vt, _) =>
      val m = v.asInstanceOf[org.apache.spark.sql.catalyst.util.MapData]
      val ks = m.keyArray().toObjectArray(kt).map(convert(_, kt))
      val vs = m.valueArray().toObjectArray(vt)
        .map(e => if (e == null) null else convert(e, vt))
      ks.zip(vs).toMap
    case st: StructType =>
      org.apache.spark.sql.Row.fromSeq(
        toExternal(v.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow],
          st).toSeq)
    case other => throw new UnsupportedOperationException(
      s"graft-state row-level DML: unsupported column type $other")
  }
}

/** Streaming write face for state tables:
  * `df.writeStream.format("graft-state-sink").option("path", root)`
  * routes every micro-batch through
  * [[graft.pipeline.BucketedStateTable.mergeOnceForBatch]] — the
  * marker-guarded EXACT-once merge, so an at-least-once replay of a
  * committed micro-batch is a no-op without any sink-side
  * deduplication. Keyed on the table's manifest-recorded merge key; a
  * not-yet-existing table bootstraps from the `keyCols` (comma list)
  * and optional `numBuckets` options. The marker scope is REQUIRED and
  * comes from the writer's `checkpointLocation` option — restarting
  * from the SAME checkpoint replays the same batch ids into the same
  * scope (skipped, converged), while a FRESH checkpoint gets a fresh
  * scope (its batch ids start over — pass `option("scope", ...)` to
  * pin one explicitly). `createSink` fails fast when neither option is
  * present. Append and Update modes only: both mean "merge these
  * rows"; Complete-mode replacement has a library verb.
  *
  * A separate short name from the batch `graft-state` provider on
  * purpose: `DataStreamWriter` prefers a `TableProvider`'s DSv2 path
  * and would resolve (and so require) an existing snapshot before ever
  * consulting the V1 sink hook. */
class GraftStateSinkProvider
    extends org.apache.spark.sql.sources.StreamSinkProvider
    with DataSourceRegister {

  override def shortName(): String = "graft-state-sink"

  override def createSink(sqlContext: org.apache.spark.sql.SQLContext,
      parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode):
      org.apache.spark.sql.execution.streaming.Sink = {
    require(partitionColumns.isEmpty,
      "graft-state sink: partitioning is the table's bucket layout; partitionBy is not supported")
    require(outputMode != org.apache.spark.sql.streaming.OutputMode.Complete(),
      "graft-state sink supports Append/Update (merge) only; " +
        "Complete-mode replacement goes through the library's replaceAll")
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "graft-state sink needs option(\"path\", <table root>)"))
    // NO table-path fallback: two queries (or a restart from a fresh
    // checkpoint) sharing scope=path would restart batch ids at 0 and
    // mergeOnceForBatch would treat genuinely new micro-batches as
    // replays — silently dropping them. A session-conf
    // spark.sql.streaming.checkpointLocation is resolved by the engine
    // AFTER sink construction and never appears in `parameters`, so the
    // scope must be explicit here.
    val scope = parameters.get("scope")
      .orElse(parameters.get("checkpointLocation"))
      .getOrElse(throw new IllegalArgumentException(
        "graft-state sink needs an explicit replay scope: pass " +
          "option(\"checkpointLocation\", ...) on the writer (the usual " +
          "choice — restarting from the same checkpoint then skips " +
          "replayed batch ids) or option(\"scope\", ...) to pin one. A " +
          "session-level spark.sql.streaming.checkpointLocation is not " +
          "visible to the sink and cannot scope replay detection."))
    new GraftStateStreamSink(path, scope,
      parameters.get("keycols").orElse(parameters.get("keyCols"))
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq),
      parameters.get("numbuckets").orElse(parameters.get("numBuckets"))
        .map(_.toInt),
      parameters.get("maxdriverrows").orElse(parameters.get("maxDriverRows"))
        .map(_.toInt).getOrElse(1000000))
  }
}

/** Exact-once streaming sink into one bucketed state table (see
  * [[GraftStateSinkProvider]]). Each `addBatch` commits through
  * `mergeOnceForBatch`: marker and merge publish atomically in one
  * manifest, so at-least-once delivery converges without
  * double-merging.
  *
  * The micro-batch crosses the driver as a BOUNDED row ferry
  * (`maxDriverRows`, default 1M — the same batch-sized contract
  * [[graft.pipeline.JdbcStateTable]] enforces, failing fast via a
  * streamed iterator rather than materializing first): the V1 sink's
  * incoming frame is pinned to the stream's incremental execution, so
  * any derived plan (a direct merge, a write) would re-analyze a
  * streaming source outside `start()` — the only PUBLIC-api bridge is
  * through rows. State-table streams are batch-sized by contract;
  * corpus-scale micro-batches belong on the library's `foreachBatch`
  * adapter ([[graft.streaming.ForeachBatch]], with a body such as
  * [[graft.streaming.NearDupStream.processBatch]]), where the batch
  * frame is a plain DataFrame and nothing crosses the driver. */
class GraftStateStreamSink(
    rootPath: String,
    scope: String,
    bootstrapKeyCols: Option[Seq[String]],
    bootstrapNumBuckets: Option[Int],
    maxDriverRows: Int = 1000000)
    extends org.apache.spark.sql.execution.streaming.Sink {

  override def name(): String = s"graft-state-sink `$rootPath`"

  override def addBatch(batchId: Long,
      data: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row]): Unit = {
    val spark = data.sparkSession
    val conf = spark.sessionState.newHadoopConf()
    // cheap replay pre-check BEFORE the driver ferry: a restart with
    // batch N pending in the offset log but already committed would
    // otherwise collect up to maxDriverRows rows just for the marker
    // inside mergeOnceForBatch to discard them (the JDBC twin's
    // one-SELECT pre-check, same rationale)
    if (graft.pipeline.BucketedStateTable.batchSeen(
        conf, rootPath, batchId, scope)) return
    val layout = StateManifest.snapshot(conf, rootPath).flatMap(_.layout)
    val keyCols = layout.map(_.keyCols).orElse(bootstrapKeyCols).getOrElse(
      throw new IllegalArgumentException(
        s"graft-state sink at $rootPath: the table does not exist yet and " +
          "no option(\"keyCols\", \"a,b\") was given to bootstrap it"))
    val t = layout match {
      case Some(l) => BucketedStateTable.fromLayout(spark, rootPath, l)
      case None => new BucketedStateTable(spark, rootPath,
        keyCols = keyCols,
        numBuckets = bootstrapNumBuckets.getOrElse(64))
    }
    // bounded ferry: stream rows off the incremental execution and
    // abort before the (maxDriverRows+1)-th — never materialize an
    // over-contract batch just to reject it
    val it = data.toLocalIterator()
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    while (it.hasNext && rows.size() <= maxDriverRows) rows.add(it.next())
    require(rows.size() <= maxDriverRows,
      s"graft-state sink at $rootPath: micro-batch exceeds " +
        s"maxDriverRows=$maxDriverRows; batches this size belong on the " +
        "library's foreachBatch mergeOnceForBatch path")
    val batchDf = spark.createDataFrame(rows, data.schema)
    t.mergeOnceForBatch(batchId, scope, batchDf, keys = keyCols)
  }
}

/** The `t$history` metadata table: the retained commit log of one state
  * table as rows — `(commit_id BIGINT, committed_at TIMESTAMP,
  * n_buckets INT)`, oldest → newest. The listing is captured at LOAD
  * (one consistent snapshot, like any table load) and is bounded by
  * retention, so this never scans data — it reads manifest metadata
  * only. The SQL companion of
  * [[graft.pipeline.BucketedStateTable.commits]], and the natural
  * source of `VERSION AS OF` targets. */
private[sources] class GraftStateHistoryTable(
    rootPath: String, history: Seq[(Long, Long, Int)])
    extends Table with SupportsRead {

  override def name(): String = s"graft-state-history `$rootPath`"

  override def schema(): StructType = GraftStateHistoryTable.Schema

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder = () =>
    new org.apache.spark.sql.connector.read.Scan {
      override def readSchema(): StructType = GraftStateHistoryTable.Schema
      override def toBatch: org.apache.spark.sql.connector.read.Batch =
        new org.apache.spark.sql.connector.read.Batch {
          override def planInputPartitions()
              : Array[org.apache.spark.sql.connector.read.InputPartition] =
            Array(GraftStateHistoryPartition(history))
          override def createReaderFactory()
              : org.apache.spark.sql.connector.read.PartitionReaderFactory =
            GraftStateHistoryReaderFactory
        }
    }
}

private[sources] object GraftStateHistoryTable {
  import org.apache.spark.sql.types.{IntegerType, LongType, TimestampType, StructField}
  val Schema: StructType = StructType(Seq(
    StructField("commit_id", LongType, nullable = false),
    StructField("committed_at", TimestampType, nullable = false),
    StructField("n_buckets", IntegerType, nullable = false)))
}

private[sources] case class GraftStateHistoryPartition(
    history: Seq[(Long, Long, Int)])
    extends org.apache.spark.sql.connector.read.InputPartition

private[sources] object GraftStateHistoryReaderFactory
    extends org.apache.spark.sql.connector.read.PartitionReaderFactory {
  override def createReader(
      partition: org.apache.spark.sql.connector.read.InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[
        org.apache.spark.sql.catalyst.InternalRow] =
    new org.apache.spark.sql.connector.read.PartitionReader[
        org.apache.spark.sql.catalyst.InternalRow] {
      private val it =
        partition.asInstanceOf[GraftStateHistoryPartition].history.iterator
      private var cur: (Long, Long, Int) = _
      override def next(): Boolean = { val h = it.hasNext; if (h) cur = it.next(); h }
      override def get(): org.apache.spark.sql.catalyst.InternalRow =
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          // committed_at: millis → the micros InternalRow timestamps carry
          Array[Any](cur._1, cur._2 * 1000L, cur._3))
      override def close(): Unit = ()
    }
}

/** Catalog plugin exposing a DIRECTORY of bucketed state tables to
  * plain SQL — every subdirectory of `root` that has published at least
  * one manifest is a table:
  *
  * {{{
  * spark.sql.catalog.graft_state      graft.sources.GraftStateCatalog
  * spark.sql.catalog.graft_state.root /state
  *
  * SELECT count(*) FROM graft_state.oai_headers;
  * SHOW TABLES IN graft_state;
  * }}}
  *
  * Each `loadTable` resolves the CURRENT newest manifest, so a new SQL
  * statement sees new commits while a running one keeps its snapshot.
  * `INSERT INTO graft_state.t ...` upserts through the
  * [[graft.pipeline.StateTable]] commit protocol (see
  * [[GraftStateSqlTable]]); DDL (create/drop/alter/rename) stays
  * refused — the table inventory is the directory layout the library
  * writers own. */
class GraftStateCatalog extends TableCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog {
  private var catalogName: String = _
  private var rootPath: String = _

  /** `CALL cat.system.split_buckets(table => 't', factor => 2)` /
    * `CALL cat.system.coalesce_buckets(table => 't', factor => 2)` /
    * `CALL cat.system.rebucket(table => 't', num_buckets => 32)` — the
    * SQL face of the layout-maintenance verbs. `split_buckets` and
    * `coalesce_buckets` preserve change-feed continuity in their
    * respective directions (consumers keep tailing across the
    * boundary); `rebucket` is the arbitrary relayout that
    * truncates feed history by design. Each returns one summary row
    * (table, old and new bucket counts). */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    (ident.namespace().toSeq, ident.name().toLowerCase) match {
      case (Seq("system"), "split_buckets") =>
        new GraftStateProcedures.SplitBuckets(rootPath)
      case (Seq("system"), "coalesce_buckets") =>
        new GraftStateProcedures.CoalesceBuckets(rootPath)
      case (Seq("system"), "rebucket") =>
        new GraftStateProcedures.Rebucket(rootPath)
      case (Seq("system"), "analyze") =>
        new GraftStateProcedures.Analyze(rootPath)
      case (Seq("system"), "export") =>
        new GraftStateProcedures.Export(rootPath)
      case _ => throw new IllegalArgumentException(
        s"catalog $catalogName has no procedure $ident — available: " +
          "system.split_buckets(table, factor), " +
          "system.coalesce_buckets(table, factor), " +
          "system.rebucket(table, num_buckets), " +
          "system.analyze(table, cols), " +
          "system.export(table, path)")
    }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(Array("system")))
      Array(Identifier.of(Array("system"), "split_buckets"),
        Identifier.of(Array("system"), "coalesce_buckets"),
        Identifier.of(Array("system"), "rebucket"),
        Identifier.of(Array("system"), "analyze"),
        Identifier.of(Array("system"), "export"))
    else Array.empty

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    rootPath = Option(options.get("root")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name needs spark.sql.catalog.$name.root=<state directory>"))
  }

  override def name(): String = catalogName

  private def tableDir(ident: Identifier): Path =
    new Path((ident.namespace() :+ ident.name())
      .foldLeft(new Path(rootPath))((p, seg) => new Path(p, seg)).toString)

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val spark = SparkSession.active
    val conf = spark.sessionState.newHadoopConf()
    val base = namespace.foldLeft(new Path(rootPath))((p, s) => new Path(p, s))
    val fs = base.getFileSystem(conf)
    if (!fs.exists(base)) throw new NoSuchNamespaceException(
      catalogName +: namespace.toSeq)
    fs.listStatus(base).toSeq
      // the SAME predicate as tableExists/loadTable (a published
      // manifest, not a bare _commits dir): SHOW TABLES must never list
      // an identifier SELECT then refuses — a crashed first commit can
      // leave the directory skeleton with nothing published
      .filter(s => s.isDirectory &&
        BucketedStateTable.snapshotCommits(conf, s.getPath.toString).nonEmpty)
      .map(s => Identifier.of(namespace, s.getPath.getName))
      .toArray
  }

  override def loadTable(ident: Identifier): Table = {
    // `t$history` is a reserved metadata-table suffix (Iceberg-style):
    // the retained commit log as rows — commit_id / committed_at /
    // n_buckets — for audit queries and for picking a `VERSION AS OF`
    // target in plain SQL.
    if (ident.name().endsWith("$history")) {
      // a bare `$history` strips to an empty base name — that is no
      // table, not an internal Path-construction error
      if (ident.name() == "$history") throw new NoSuchTableException(ident)
      val base = Identifier.of(ident.namespace(),
        ident.name().stripSuffix("$history"))
      val dir = tableDir(base)
      val history = BucketedStateTable.snapshotHistory(
        SparkSession.active.sessionState.newHadoopConf(), dir.toString)
      if (history.isEmpty) throw new NoSuchTableException(ident)
      return new GraftStateHistoryTable(dir.toString, history)
    }
    val spark = SparkSession.active
    val dir = tableDir(ident)
    val commits = BucketedStateTable.snapshotCommits(
      spark.sessionState.newHadoopConf(), dir.toString)
    if (commits.isEmpty) throw new NoSuchTableException(ident)
    GraftStateSource.sqlTable(dir.toString, None,
      StateManifest.snapshot(
        spark.sessionState.newHadoopConf(), dir.toString),
      CaseInsensitiveStringMap.empty())
  }

  /** `SELECT ... FROM cat.t VERSION AS OF <commitId>` — the SQL face of
    * [[graft.pipeline.BucketedStateTable.readAt]]: the snapshot exactly
    * as that commit's manifest published it, contemporary schema
    * included. Refuses commits outside retention, listing what IS
    * retained (query `t$history` for the same list as rows). */
  override def loadTable(ident: Identifier, version: String): Table = {
    val spark = SparkSession.active
    val dir = tableDir(ident)
    val commits = BucketedStateTable.snapshotCommits(
      spark.sessionState.newHadoopConf(), dir.toString)
    if (commits.isEmpty) throw new NoSuchTableException(ident)
    val commit =
      try version.toLong
      catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"VERSION AS OF on a graft state table wants a commit id, " +
            s"got '$version' (retained: ${commits.mkString(", ")})")
      }
    require(commits.contains(commit),
      s"commit $commit is not retained at ${tableDir(ident)} " +
        s"(retained: ${commits.mkString(", ")})")
    GraftStateSource.sqlTable(dir.toString, Some(commit),
      StateManifest.snapshot(
        spark.sessionState.newHadoopConf(), dir.toString, Some(commit)),
      CaseInsensitiveStringMap.empty())
  }

  /** `SELECT ... FROM cat.t TIMESTAMP AS OF <ts>` — resolves to the
    * newest commit whose manifest was PUBLISHED at or before `ts`
    * (micros since epoch, Spark's contract for this overload; the
    * publish rename is the commit's visibility instant). Refuses a
    * timestamp older than the oldest retained commit — pruned history
    * cannot be resurrected. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val millis = timestamp / 1000L
    val dir = tableDir(ident)
    // resolution needs only (id, publish mtime): one directory LISTING,
    // zero manifest reads — on an object store a time-travel query must
    // not GET every retained manifest just to pick one
    val times = BucketedStateTable.snapshotCommitTimes(
      SparkSession.active.sessionState.newHadoopConf(), dir.toString)
    if (times.isEmpty) throw new NoSuchTableException(ident)
    val at = times.filter(_._2 <= millis).lastOption.getOrElse(
      throw new IllegalArgumentException(
        s"TIMESTAMP AS OF ${java.time.Instant.ofEpochMilli(millis)} " +
          s"predates the oldest retained commit of ${tableDir(ident)} " +
          s"(oldest: ${times.head._1} at " +
          s"${java.time.Instant.ofEpochMilli(times.head._2)})"))._1
    GraftStateSource.sqlTable(dir.toString, Some(at),
      StateManifest.snapshot(
        SparkSession.active.sessionState.newHadoopConf(),
        dir.toString, Some(at)),
      CaseInsensitiveStringMap.empty())
  }

  override def tableExists(ident: Identifier): Boolean =
    BucketedStateTable.snapshotCommits(
      SparkSession.active.sessionState.newHadoopConf(),
      tableDir(ident).toString).nonEmpty

  private def readOnly(what: String): Nothing =
    throw new UnsupportedOperationException(
      s"catalog $catalogName does not support $what: a graft state " +
        "table's layout (keyCols, bucketing) is fixed at creation — " +
        "evolve by creating a new table and merging, or use " +
        s"CALL $catalogName.system.split_buckets / rebucket for " +
        "bucket-count maintenance")

  /** `CREATE TABLE cat.t (k STRING, v BIGINT) TBLPROPERTIES
    * ('keycols'='k')` — full SQL lifecycle for state tables. The merge
    * key comes from the `keycols` property (comma list); bucketing from
    * `PARTITIONED BY (bucket(n, col...))` (the natural SQL spelling of
    * the layout — cols must be a key subset) or a `numbuckets`
    * property, default 64. The table is born as one committed EMPTY
    * snapshot with the schema and layout recorded in its manifest, so
    * every reader/writer face (library, SQL DML, streaming sink)
    * resolves it immediately. CTAS works too: Spark calls this then
    * routes the query through the INSERT-as-merge write. */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    import scala.jdk.CollectionConverters._
    val spark = SparkSession.active
    if (tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(
          (catalogName +: ident.namespace().toSeq :+ ident.name()))
    def prop(k: String): Option[String] = properties.asScala
      .collectFirst { case (pk, v) if pk.equalsIgnoreCase(k) => v }
    def splitCols(s: String): Seq[String] =
      s.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val bucketSpec: Option[(Int, Seq[String])] = partitions.toSeq match {
      case Seq() => None
      case Seq(t) if t.name == "bucket" =>
        val n = t.arguments().collectFirst {
          case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
            l.value().toString.toInt
        }
        val cols = t.arguments().collect {
          case r: NamedReference => r.fieldNames().mkString(".")
        }.toSeq
        Some((n.getOrElse(throw new IllegalArgumentException(
          "bucket transform needs a bucket count")), cols))
      case other => throw new UnsupportedOperationException(
        s"graft state tables support only PARTITIONED BY (bucket(n, col...)), " +
          s"got: ${other.mkString(", ")} — the hash-bucket layout IS the " +
          "partitioning")
    }
    val keyCols = prop("keycols").map(splitCols)
      .orElse(bucketSpec.map(_._2))
      .getOrElse(throw new IllegalArgumentException(
        s"CREATE TABLE in catalog $catalogName needs the merge key: " +
          "TBLPROPERTIES ('keycols'='a,b') or PARTITIONED BY (bucket(n, a))"))
    val missing = keyCols.filterNot(schema.fieldNames.contains)
    require(missing.isEmpty,
      s"keycols ${missing.mkString(", ")} not in the table schema " +
        s"(${schema.fieldNames.mkString(", ")})")
    val numBuckets = bucketSpec.map(_._1)
      .orElse(prop("numbuckets").map(_.toInt)).getOrElse(64)
    val bucketCols = bucketSpec.map(_._2).getOrElse(keyCols)
    require(bucketCols.forall(keyCols.contains),
      s"bucket columns (${bucketCols.mkString(", ")}) must be a subset " +
        s"of keycols (${keyCols.mkString(", ")})")
    val t = new BucketedStateTable(spark, tableDir(ident).toString,
      keyCols = keyCols, numBuckets = numBuckets,
      bucketCols = if (bucketCols == keyCols) Nil else bucketCols)
    // the CREATING commit is fenced on never-committed (basedOn = 0):
    // two racing CREATE/CTAS that both passed the tableExists probe
    // resolve to one winner — the loser fails here instead of
    // replaceAll-ing an empty snapshot over rows the winner already
    // merged
    try t.createExclusive(schema)
    catch {
      case _: java.util.ConcurrentModificationException =>
        throw new org.apache.spark.sql.catalyst.analysis
          .TableAlreadyExistsException(
            (catalogName +: ident.namespace().toSeq :+ ident.name()))
    }
    loadTable(ident)
  }

  /** `DROP TABLE cat.t` — removes the table directory. Guarded by the
    * SAME predicate as `tableExists` (a published manifest): only a
    * directory that actually holds a committed state table is deleted
    * (false otherwise → Spark raises its standard no-such-table error),
    * so a mis-pointed identifier can never remove arbitrary data, and
    * DROP can never delete something `tableExists` denies exists. */
  override def dropTable(ident: Identifier): Boolean = {
    val spark = SparkSession.active
    val dir = tableDir(ident)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    if (!tableExists(ident)) false
    else fs.delete(dir, true)
  }

  /** `ALTER TABLE cat.t ADD COLUMNS (c TYPE, ...)` and
    * `ALTER TABLE cat.t ALTER COLUMN c TYPE <wider>` — the two schema
    * changes a bucketed state table supports, both routed through
    * [[graft.pipeline.BucketedStateTable.widenTo]]: a metadata-only
    * commit (no data read or written — widening 100 TB costs one
    * manifest rename), existing rows read back null-filled (adds) or
    * upcast by the parquet reader under the recorded schema (lossless
    * widening promotions: byte<short<int<long, float<double), under the
    * full commit protocol so it serializes against concurrent writers.
    * Everything else (drop/rename/lossy retype, table properties,
    * NOT NULL adds, nested or positioned adds) stays refused — those
    * would need a full rewrite or break the fixed layout. */
  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    val spark = SparkSession.active
    val sqlTable = loadTable(ident) match {
      case t: GraftStateSqlTable => t
      case _ => readOnly("ALTER TABLE")
    }
    val existing = sqlTable.schema()
    val (addChanges, retypeChanges) = {
      val adds = Seq.newBuilder[TableChange.AddColumn]
      val retypes = Seq.newBuilder[TableChange.UpdateColumnType]
      changes.foreach {
        case a: TableChange.AddColumn => adds += a
        case u: TableChange.UpdateColumnType => retypes += u
        case other => throw new UnsupportedOperationException(
          s"graft state tables support ALTER TABLE ... ADD COLUMNS and " +
            s"ALTER COLUMN ... TYPE <widening> only " +
            s"(got ${other.getClass.getSimpleName}) — drops/renames/other " +
            "type changes need a full rewrite into a new table")
      }
      (adds.result(), retypes.result())
    }
    val added = addChanges.map { a =>
      require(a.fieldNames().length == 1,
        s"cannot add nested column ${a.fieldNames().mkString(".")} — " +
          "state-table columns are top-level")
      require(a.position() == null,
        s"cannot add column ${a.fieldNames().head} FIRST/AFTER — " +
          "added columns append (order is metadata; reads bind by name)")
      require(a.isNullable,
        s"cannot add NOT NULL column ${a.fieldNames().head} — existing " +
          "rows hold no value; add it nullable and backfill by merge")
      require(!existing.fieldNames.contains(a.fieldNames().head),
        s"column ${a.fieldNames().head} already exists")
      org.apache.spark.sql.types.StructField(
        a.fieldNames().head, a.dataType(), nullable = true)
    }
    // ALTER COLUMN ... TYPE: metadata-only when the move is a lossless
    // widening promotion — widenTo validates and records it; old bucket
    // files are upcast by the reader under the recorded schema
    val retyped = retypeChanges.map { u =>
      require(u.fieldNames().length == 1,
        s"cannot retype nested column ${u.fieldNames().mkString(".")} — " +
          "state-table columns are top-level")
      require(existing.fieldNames.contains(u.fieldNames().head),
        s"column ${u.fieldNames().head} does not exist")
      u.fieldNames().head -> u.newDataType()
    }.toMap
    val (t, _) = sqlTable.stateTable(spark)
    t.widenTo(StructType(existing.fields.map(f =>
      retyped.get(f.name).fold(f)(dt => f.copy(dataType = dt))) ++ added))
    loadTable(ident)
  }
  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit = readOnly("RENAME TABLE")
}

/** The catalog's stored procedures ([[GraftStateCatalog.loadProcedure]])
  * — layout maintenance as SQL `CALL`s, so an operator never needs a
  * library handle for the two relayout verbs. Each runs under the full
  * commit protocol (lock + lease + manifest conflict check) exactly
  * like the library call it routes to, and returns one summary row via
  * a [[org.apache.spark.sql.connector.read.LocalScan]]. */
private[sources] object GraftStateProcedures {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
  import org.apache.spark.sql.connector.read.{LocalScan, Scan}
  import org.apache.spark.sql.types.{IntegerType, StringType}

  private val resultSchema = StructType(Seq(
    org.apache.spark.sql.types.StructField("table", StringType, nullable = false),
    org.apache.spark.sql.types.StructField("old_num_buckets", IntegerType, nullable = false),
    org.apache.spark.sql.types.StructField("new_num_buckets", IntegerType, nullable = false)))

  private def summary(table: String, oldB: Int, newB: Int): java.util.Iterator[Scan] =
    java.util.Collections.singletonList[Scan](new LocalScan {
      override def readSchema(): StructType = resultSchema
      override def rows(): Array[InternalRow] = Array(
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](
            org.apache.spark.unsafe.types.UTF8String.fromString(table),
            oldB, newB)))
      override def description(): String = s"relayout summary of $table"
    }).iterator()

  /** Resolve `table` (a path under the catalog root, '/'-separable for
    * namespaced tables) to a live writable handle. */
  private def handleFor(rootPath: String, table: String)
      : (String, BucketedStateTable, Int) = {
    val spark = SparkSession.active
    val segs = table.split("/").filter(_.nonEmpty)
    // the argument names a table UNDER the catalog root — a '..'
    // segment would walk out of it and relayout an arbitrary
    // directory that happens to hold a commit log
    require(segs.nonEmpty && segs.forall(s => s != ".." && s != "."),
      s"procedure table argument must be a path under the catalog " +
        s"root (got '$table')")
    val dir = segs
      .foldLeft(new Path(rootPath))((p, seg) => new Path(p, seg)).toString
    val layout = StateManifest.snapshot(
      spark.sessionState.newHadoopConf(), dir).flatMap(_.layout)
      .getOrElse(throw new NoSuchTableException(
        Identifier.of(Array.empty[String], table)))
    (dir, BucketedStateTable.fromLayout(spark, dir, layout), layout.numBuckets)
  }

  sealed abstract class Relayout private[GraftStateProcedures] (
      procName: String, argName: String,
      rootPath: String) extends UnboundProcedure with BoundProcedure {
    override def name(): String = procName
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("table path under the catalog root").build(),
      ProcedureParameter.in(argName, IntegerType).build())
    protected def relayout(t: BucketedStateTable, arg: Int): BucketedStateTable
    protected def newBuckets(oldB: Int, arg: Int): Int
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      val arg = input.getInt(1)
      val (_, t, oldB) = handleFor(rootPath, table)
      relayout(t, arg)
      summary(table, oldB, newBuckets(oldB, arg))
    }
  }

  final class SplitBuckets(rootPath: String)
      extends Relayout("split_buckets", "factor", rootPath) {
    override def description(): String =
      "grow the table's layout B -> B*factor preserving change-feed " +
        "continuity (a full data rewrite under the commit protocol; " +
        "CDC consumers keep tailing across the boundary)"
    override protected def relayout(t: BucketedStateTable, arg: Int) =
      t.splitBuckets(arg)
    override protected def newBuckets(oldB: Int, arg: Int): Int = oldB * arg
  }

  final class CoalesceBuckets(rootPath: String)
      extends Relayout("coalesce_buckets", "factor", rootPath) {
    override def description(): String =
      "shrink the table's layout B -> B/factor preserving change-feed " +
        "continuity (the recorded inverse of split_buckets; a full " +
        "data rewrite under the commit protocol)"
    override protected def relayout(t: BucketedStateTable, arg: Int) =
      t.coalesceBuckets(arg)
    override protected def newBuckets(oldB: Int, arg: Int): Int = oldB / arg
  }

  final class Rebucket(rootPath: String)
      extends Relayout("rebucket", "num_buckets", rootPath) {
    override def description(): String =
      "re-shard the table into an arbitrary bucket count (a full data " +
        "rewrite; history truncates and change-feed consumers must " +
        "reseed — prefer split_buckets on a table with CDC consumers)"
    override protected def relayout(t: BucketedStateTable, arg: Int) =
      t.rebucket(arg)
    override protected def newBuckets(oldB: Int, arg: Int): Int = arg
  }

  /** `CALL cat.system.analyze(table => 't', cols => 'a,b')` — the SQL
    * face of [[BucketedStateTable.analyzeStats]]: retrofit zone maps
    * for the named columns onto the current snapshot with ONE
    * column-pruned scan and a metadata-only manifest publish (no data
    * rewritten). Returns (table, cols, buckets_analyzed). */
  final class Analyze(rootPath: String)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = "analyze"
    override def description(): String =
      "record per-bucket zone maps (row/byte counts, min/max/null " +
        "counts) for the given comma-separated columns — one " +
        "column-pruned scan, metadata-only publish, no data rewrite; " +
        "readWhere and pushed SQL filters then bucket-prune on them"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("table path under the catalog root").build(),
      ProcedureParameter.in("cols", StringType)
        .comment("comma-separated stats columns").build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      val cols = input.getUTF8String(1).toString
        .split(",").map(_.trim).filter(_.nonEmpty).toSeq
      val (_, t, _) = handleFor(rootPath, table)
      val analyzed = t.analyzeStats(cols)
      val schema = StructType(Seq(
        org.apache.spark.sql.types.StructField("table", StringType, nullable = false),
        org.apache.spark.sql.types.StructField("cols", StringType, nullable = false),
        org.apache.spark.sql.types.StructField("buckets_analyzed",
          IntegerType, nullable = false)))
      java.util.Collections.singletonList[Scan](new LocalScan {
        override def readSchema(): StructType = schema
        override def rows(): Array[InternalRow] = Array(
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            Array[Any](
              org.apache.spark.unsafe.types.UTF8String.fromString(table),
              org.apache.spark.unsafe.types.UTF8String.fromString(
                cols.mkString(",")),
              analyzed)))
        override def description(): String = s"analyze summary of $table"
      }).iterator()
    }
  }

  /** `CALL cat.system.export(table => 't', path => '/out')` — the SQL
    * face of [[BucketedStateTable.exportTo]], the migration bridge out
    * of the bespoke commit log into a production format's import path
    * (write parquet, then `CONVERT TO DELTA` / Iceberg `add_files` on
    * a deployment that has those on the classpath). One consistent
    * snapshot regardless of concurrent writers; returns
    * (table, path, rows_exported). */
  final class Export(rootPath: String)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = "export"
    override def description(): String =
      "export the current snapshot as plain parquet at the given path " +
        "(the CONVERT TO DELTA / add_files migration bridge)"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("table path under the catalog root").build(),
      ProcedureParameter.in("path", StringType)
        .comment("output directory for the parquet snapshot").build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      val out = input.getUTF8String(1).toString
      val (_, t, _) = handleFor(rootPath, table)
      // NOT named `rows`: inside the anonymous LocalScan below that
      // identifier resolves to the scan's own rows() method and the
      // summary row would recurse itself into a stack overflow
      val exported = t.exportTo(out)
      val schema = StructType(Seq(
        org.apache.spark.sql.types.StructField("table", StringType, nullable = false),
        org.apache.spark.sql.types.StructField("path", StringType, nullable = false),
        org.apache.spark.sql.types.StructField("rows_exported",
          org.apache.spark.sql.types.LongType, nullable = false)))
      java.util.Collections.singletonList[Scan](new LocalScan {
        override def readSchema(): StructType = schema
        override def rows(): Array[InternalRow] = Array(
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            Array[Any](
              org.apache.spark.unsafe.types.UTF8String.fromString(table),
              org.apache.spark.unsafe.types.UTF8String.fromString(out),
              exported)))
        override def description(): String = s"export summary of $table"
      }).iterator()
    }
  }
}
