package graft.pipeline

import java.sql.{Connection, ResultSet}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.sinks.{ConnectionFactory, JdbcUpsertSink, SqlDialect}

/** [[StateTable]] over an external transactional SQL database — the
  * reference's ACTUAL deployment shape (operational state lives in
  * PostgreSQL, `PostgrePersistenceService.java`), behind the same seam
  * the parquet/bucketed layouts implement, so both pipelines and the
  * streaming sinks run unchanged against it.
  *
  * Division of labor at scale: the DATABASE holds the operational state
  * (harvest queue, reporting rows, run checkpoints — tables whose size
  * is bounded by the harvest protocol, not by corpus size), while the
  * corpus-sized analytics stay on the Spark/parquet side. State
  * mutations therefore run DRIVER-side over one connection + one
  * transaction per call, exactly like the reference's persistence
  * service — [[maxDriverRows]] bounds every state read/write so a
  * mis-sized table fails loudly instead of OOMing the driver (a
  * corpus-sized state table belongs in [[BucketedStateTable]]).
  *
  * Commit discipline: each mutation is one database transaction, so
  * readers only ever see committed state and concurrent writers
  * serialize on the database — the property the file-backed tables
  * rebuild with version directories and JVM locks comes free here.
  * [[mergeOnceForBatch]] keeps its marker IN the database and commits
  * it atomically WITH the merge: replay after a crash is exact-once,
  * not just idempotent-at-least-once (the marker can never be ahead of
  * or behind its batch). Cross-process marker races are arbitrated by a
  * UNIQUE index on the marker table where the dialect supports one
  * (insert-first; the loser sees a constraint violation and reports
  * false); on engines without usable unique indexes they degrade to an
  * idempotent re-merge under read-committed isolation, same as the
  * file-backed tables.
  *
  * `scratchPath` backs [[tableRoot]]/[[fileSystem]] — the staging area
  * the enrichment pipeline uses for its `_inflight` fetch results; only
  * scratch files live there, never state.
  *
  * Array columns and upsert statements go through `dialect`
  * ([[graft.sinks.SqlDialect]]): PostgreSQL binds arrays natively,
  * DuckDB routes them as JSON and upserts by delete+insert.
  *
  * EMBEDDED databases (DuckDB et al.): the `connectionFactory` should
  * pin one long-lived anchor connection for the table's lifetime —
  * embedded engines shut the database instance down when its last
  * connection closes, and an instance shutdown/reopen racing between
  * two state operations can drop the previous lifecycle's WAL
  * (observed with DuckDB 1.0: a merge wiping a table created through a
  * different instance). Server databases need no anchor.
  */
class JdbcStateTable(
    spark: SparkSession,
    table: String,
    schema: StructType,
    keys: Seq[String],
    connectionFactory: ConnectionFactory,
    scratchPath: String,
    dialect: SqlDialect = SqlDialect.Standard,
    maxDriverRows: Int = 1000000) extends StateTable with Serializable {

  require(keys.nonEmpty && keys.forall(schema.fieldNames.contains),
    s"keys $keys must be a subset of ${schema.fieldNames.toSeq}")

  private val cols = schema.fieldNames.toSeq
  private def q(ident: String): String =
    "\"" + ident.replace("\"", "\"\"") + "\""
  private val markerTable = table + "__batch_markers"

  private def sqlType(dt: DataType): String = dt match {
    case StringType    => "VARCHAR"
    case BooleanType   => "BOOLEAN"
    case IntegerType   => "INTEGER"
    case LongType      => "BIGINT"
    case DoubleType    => "DOUBLE PRECISION"
    case TimestampType => "TIMESTAMP"
    // dialect-owned: PostgreSQL spells it BYTEA, DuckDB BLOB — the one
    // mapping here that is not portable SQL
    case BinaryType    => dialect.binaryType
    case ArrayType(StringType, _) => "VARCHAR[]"
    case other => throw new IllegalArgumentException(
      s"unsupported state column type $other")
  }

  /** CREATE TABLE DDL for this state table (portable column types). */
  def ddl: String =
    s"CREATE TABLE IF NOT EXISTS ${q(table)} (" +
      schema.fields.map(f => s"${q(f.name)} ${sqlType(f.dataType)}")
        .mkString(", ") + ")"

  /** ADD COLUMN as the reference's migrate-then-deploy flow: issues
    * `ALTER TABLE ... ADD COLUMN` for each genuinely new field (in one
    * transaction) and returns a NEW handle bound to the widened schema
    * — this instance's statement shapes (upsert, conditional delete)
    * are fixed at construction and keep working untouched, exactly like
    * a service instance that predates the migration: it reads and
    * writes the columns it knows, the database null-fills the rest.
    * Narrowing/renames/type changes refuse ([[graft.operators.StateOps
    * .widenCheck]] — same contract as the parquet state tables); added
    * columns are forced nullable. */
  def widenTo(target: StructType): JdbcStateTable = {
    graft.operators.StateOps.widenCheck(schema, target,
      s"widenTo on JDBC state table $table")
    // the shared check admits WIDENING PROMOTIONS (int→long etc.) —
    // fine for parquet state, whose readers upcast old files under the
    // recorded schema, but a JDBC column's physical type is the
    // database's: accepting the promotion without DDL would leave this
    // handle's schema silently disagreeing with the table (and ALTER
    // COLUMN TYPE DDL is too engine-specific to issue blind). Refuse.
    schema.fields.foreach { f =>
      target.fields.find(_.name == f.name).foreach { t =>
        require(!graft.operators.StateOps.wideningPromotion(
            f.dataType, t.dataType),
          s"widenTo on JDBC state table $table cannot retype column " +
            s"`${f.name}` ${f.dataType.simpleString} -> " +
            s"${t.dataType.simpleString}: column types are the " +
            "database's — run the engine-specific ALTER COLUMN TYPE " +
            "yourself, then reopen the handle under the new schema")
      }
    }
    val added = target.fields.filterNot(f => schema.fieldNames.contains(f.name))
    // map every type BEFORE executing any ALTER: an unsupported type
    // must fail with zero statements run, not mid-loop — on engines
    // with auto-committing DDL a half-applied widen would leave the
    // physical table and the handle schema silently disagreeing
    val ddlFor = added.map(f =>
      f.name -> s"ALTER TABLE ${q(table)} ADD COLUMN ${q(f.name)} ${sqlType(f.dataType)}")
    if (ddlFor.nonEmpty) withConnection { conn =>
      // diff against the DATABASE's actual columns, not the handle's
      // in-memory schema: a concurrent (or crashed half-applied) widen
      // may already have added some columns, and re-issuing their ALTER
      // would fail with duplicate-column FOREVER on retry — the handle
      // schema can be stale, the metadata cannot
      val existing = {
        val out = scala.collection.mutable.Set.empty[String]
        val md = conn.getMetaData
        // the table-name argument is a JDBC search PATTERN: '_' matches
        // any character, and state table names are underscore-heavy
        // ("doc_lengths" also matches "docXlengths"). Unescaped, plus
        // null catalog/schema matching EVERY schema, a sibling table
        // that already has the new column makes this ALTER silently
        // skip, leaving the returned handle's schema disagreeing with
        // the physical table. Pattern ESCAPING is not portable (DuckDB
        // 1.0 returns a null escape string and its getColumns ignores
        // ESCAPE entirely — an escaped probe matches NOTHING), so keep
        // the literal name as the pattern (it always matches itself;
        // '_' also matching the literal char is harmless here) and
        // post-filter the rows by EXACT table name plus the
        // connection's current catalog/schema.
        val (curCat, curSch) = JdbcStateTable.currentScope(conn)
        Seq(table, table.toUpperCase, table.toLowerCase).distinct.foreach { t =>
          val rs = md.getColumns(curCat.orNull, curSch.orNull, t, "%")
          try while (rs.next()) {
            if (rs.getString("TABLE_NAME") == t &&
                JdbcStateTable.inScope(rs.getString("TABLE_CAT"), curCat) &&
                JdbcStateTable.inScope(rs.getString("TABLE_SCHEM"), curSch))
              out += rs.getString("COLUMN_NAME").toLowerCase
          } finally rs.close()
        }
        out
      }
      ddlFor.filterNot { case (name, _) =>
        existing.contains(name.toLowerCase)
      }.foreach { case (_, ddl) =>
        val st = conn.createStatement()
        try st.execute(ddl) finally st.close()
      }
      conn.commit()
    }
    if (added.isEmpty) this
    else new JdbcStateTable(spark, table,
      StructType(schema.fields ++ added.map(_.copy(nullable = true))),
      keys, connectionFactory, scratchPath, dialect, maxDriverRows)
  }

  /** Create the state + marker tables if absent. On engines whose
    * dialect supports it, the marker table gets a UNIQUE index on
    * (stream_scope, batch_id) so concurrent [[mergeOnceForBatch]]
    * writers arbitrate on a constraint violation (insert-first) instead
    * of racing select-then-insert. */
  def ensureTables(): Unit = withConnection { conn =>
    conn.createStatement().execute(ddl)
    conn.createStatement().execute(
      s"CREATE TABLE IF NOT EXISTS ${q(markerTable)} (" +
        "\"stream_scope\" VARCHAR, \"batch_id\" BIGINT)")
    if (dialect.supportsUniqueIndex)
      conn.createStatement().execute(
        s"CREATE UNIQUE INDEX IF NOT EXISTS ${q(markerTable + "__uniq")} " +
          s"ON ${q(markerTable)} (\"stream_scope\", \"batch_id\")")
    conn.commit()
  }

  private def withConnection[A](body: Connection => A): A = {
    val conn = connectionFactory()
    try {
      conn.setAutoCommit(false)
      try body(conn)
      catch {
        case e: Throwable =>
          // explicit rollback: JDBC leaves close-with-open-transaction
          // behavior to the driver, and a driver that commits on close
          // would turn a failed half-bound batch into committed state
          try conn.rollback() catch { case _: Throwable => () }
          throw e
      }
    } finally conn.close()
  }

  private def readRows(conn: Connection): Seq[Row] = {
    val rs = conn.createStatement().executeQuery(
      s"SELECT ${cols.map(q).mkString(", ")} FROM ${q(table)}")
    val out = Seq.newBuilder[Row]
    // hoisted: rebuilt per row, this zip + closure pair was a million
    // avoidable allocations on a maximal driver read
    val fieldsIdx = schema.fields.toSeq.zipWithIndex
    var n = 0
    while (rs.next()) {
      n += 1
      require(n <= maxDriverRows,
        s"state table $table exceeds maxDriverRows=$maxDriverRows on read; " +
          "state this size belongs in BucketedStateTable")
      out += Row.fromSeq(fieldsIdx.map {
        case (f, i) => readValue(rs, i + 1, f.dataType)
      })
    }
    out.result()
  }

  private def readValue(rs: ResultSet, pos: Int, dt: DataType): Any = dt match {
    case StringType    => rs.getString(pos)
    case TimestampType => rs.getTimestamp(pos)
    case BooleanType   => val v = rs.getBoolean(pos); if (rs.wasNull()) null else v
    case IntegerType   => val v = rs.getInt(pos); if (rs.wasNull()) null else v
    case LongType      => val v = rs.getLong(pos); if (rs.wasNull()) null else v
    case DoubleType    => val v = rs.getDouble(pos); if (rs.wasNull()) null else v
    case BinaryType    =>
      // some drivers (DuckDB 1.x) answer getBytes with
      // SQLFeatureNotSupportedException but serve the same value
      // through the Blob interface
      try rs.getBytes(pos)
      catch {
        case _: java.sql.SQLFeatureNotSupportedException =>
          val blob = rs.getBlob(pos)
          if (blob == null) null
          else try blob.getBytes(1L, blob.length().toInt)
          finally blob.free()
      }
    case ArrayType(StringType, _) =>
      val arr = rs.getArray(pos)
      if (arr == null) null
      else arr.getArray.asInstanceOf[Array[AnyRef]].toSeq
        .map(v => if (v == null) null else v.toString)
    case other => rs.getObject(pos)
  }

  /** None means the table was never created (nothing initialized) —
    * matching BucketedStateTable, where None means no commit was ever
    * published. A table that EXISTS but holds zero rows (a drained
    * queue) reads as Some(empty), again matching the file-backed table
    * once a commit is published. */
  override def read(): Option[DataFrame] = {
    val rowsOpt = withConnection { conn =>
      val r = if (tableExists(conn)) Some(readRows(conn)) else None
      conn.commit(); r
    }
    rowsOpt.map { rows =>
      if (rows.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      else spark.createDataFrame(
        spark.sparkContext.parallelize(rows, math.max(1, rows.size / 10000)),
        schema)
    }
  }

  /** Probes the metadata with the table name as the PATTERN, not a
    * full-catalog "%" scan — one row back, not O(catalog), per read().
    * Engines case-fold unquoted identifiers differently (upper, lower,
    * or as-is), so probe the stored-case candidates first and compare
    * case-insensitively; a table created with QUOTED mixed case (e.g.
    * "Events") matches none of those patterns, so miss falls back to
    * one full enumeration — correctness over the fast path, paid only
    * when the cheap probes all come back empty. */
  private def tableExists(conn: Connection): Boolean = {
    val md = conn.getMetaData
    // scope to the CURRENT catalog/schema, like widenTo's column
    // probe: a same-named table in another schema (search_path
    // sibling, archive copy) must not make read() think this one
    // exists — the SELECT would then hit the current schema and throw
    // where the contract says None
    val (curCat, curSch) = JdbcStateTable.currentScope(conn)
    def probe(pattern: String): Boolean = {
      val rs = md.getTables(curCat.orNull, curSch.orNull, pattern, null)
      try {
        var found = false
        while (!found && rs.next())
          found = rs.getString("TABLE_NAME").equalsIgnoreCase(table) &&
            JdbcStateTable.inScope(rs.getString("TABLE_CAT"), curCat) &&
            JdbcStateTable.inScope(rs.getString("TABLE_SCHEM"), curSch)
        found
      } finally rs.close()
    }
    Seq(table, table.toUpperCase, table.toLowerCase).distinct.exists(probe) ||
      probe("%")
  }

  override def readOrEmpty(like: DataFrame): DataFrame =
    read().getOrElse(like.limit(0))

  /** Bounded driver-side collect of a mutation batch (the updates /
    * processed frames are batch-sized by contract). */
  private def collectBounded(df: DataFrame, what: String): Seq[Row] = {
    val rows = df.select(cols.map(org.apache.spark.sql.functions.col): _*)
      .limit(maxDriverRows + 1).collect().toSeq
    require(rows.size <= maxDriverRows,
      s"$what batch exceeds maxDriverRows=$maxDriverRows for JDBC state " +
        s"table $table; batches this size belong in BucketedStateTable")
    rows
  }

  override def merge(updates: DataFrame, keys2: Seq[String],
      versionCols: Seq[String] = Nil): Unit = {
    require(keys2.toSet == keys.toSet,
      s"merge keys $keys2 must match the table's declared keys $keys " +
        "(the upsert statement is fixed at construction)")
    // intra-batch last-write-wins BEFORE the upsert, mirroring
    // StateOps.mergeByKey: among duplicate keys within `updates` the
    // greatest versionCols tuple wins (upsert order would otherwise
    // decide arbitrarily for unordered frames)
    val deduped =
      if (versionCols.isEmpty) updates
      else graft.operators.StateOps.dedupLastWriteWins(updates, keys2, versionCols)
    val rows = collectBounded(deduped, "merge")
    if (rows.nonEmpty) withConnection { conn =>
      upsertRows(conn, rows)
      conn.commit()
    }
  }

  /** One shared code path with the executor-side sink
    * ([[JdbcUpsertSink.upsertOnConnection]]) — identical statement
    * shapes. The whole driver batch dedupes globally (keep-last) HERE,
    * then executes in bounded 500-row chunks: a single
    * rows.size-sized chunk made the JDBC driver buffer up to
    * maxDriverRows (×2 on the delete+insert dialect) bound statement
    * sets in one executeBatch. Rows bind in a deterministic key order
    * so two overlapping merges acquire row locks the same way —
    * serialization instead of a database deadlock abort. */
  private def upsertRows(conn: Connection, rows: Seq[Row]): Unit = {
    val keyIdx = keys.map(cols.indexOf).toArray
    val deduped = scala.collection.mutable.LinkedHashMap.empty[Seq[Any], Row]
    // value-equality dedup key — a raw Array[Byte] component compares
    // by reference, so duplicate binary keys would BOTH survive and
    // collide in the database (PK violation on delete+insert dialects)
    rows.foreach(r => deduped.put(
      keyIdx.map(i => JdbcUpsertSink.dedupKeyComponent(r.get(i))).toSeq, r))
    // the lock order must be CONTENT-deterministic across JVMs:
    // String.valueOf on an Array[Byte] renders an identity hash, so two
    // overlapping merges could sort the same keys differently and
    // deadlock — render bytes as hex instead
    val ordered = deduped.values.toSeq.sortBy(r =>
      keyIdx.map(i => r.get(i) match {
        case b: Array[Byte] => b.map(x => f"$x%02x").mkString
        case v => String.valueOf(v)
      }).mkString("\u0000"))
    JdbcUpsertSink.upsertOnConnection(conn, ordered.iterator, schema.fields,
      table, keys, batchSize = 500, dialect = dialect)
  }

  /** D1: per-tuple full-tuple conditional delete; the per-statement
    * update counts from the driver ARE the survivor report (a row whose
    * stored tuple changed deletes 0 rows — ST5), so no second query.
    *
    * One statement per DISTINCT processed tuple, and a tuple's copies
    * share its outcome: duplicated processed tuples count with
    * multiplicity exactly as `StateOps.deleteIfUnmodified`'s anti-join
    * counts them (per-row statements would count a matched tuple's
    * second copy as a survivor, its row being gone already). */
  override def deleteWhereUnmodified(processed: DataFrame): Long = {
    // binary columns collect as arrays, which compare by reference
    val tuples = collectBounded(processed, "deleteWhereUnmodified")
      .groupBy(_.toSeq.map {
        case b: Array[Byte] => b.toSeq
        case v => v
      }).values.toSeq
    if (tuples.isEmpty) 0L
    else withConnection { conn =>
      val fields = schema.fields
      val ps = conn.prepareStatement(JdbcUpsertSink.deleteIfUnmodifiedSql(
        table, cols, JdbcUpsertSink.placeholders(fields, dialect)))
      try {
        val bind = JdbcUpsertSink.binder(conn, ps, fields, dialect)
        tuples.foreach { copies =>
          var i = 0
          while (i < fields.length) { bind(copies.head, i); i += 1 }
          ps.addBatch()
        }
        val counts = ps.executeBatch()
        // a driver answering SUCCESS_NO_INFO would make the survivor
        // count silently wrong — fail loudly instead (ST5 is a
        // correctness contract, not best-effort)
        require(counts.forall(_ >= 0),
          s"JDBC driver returned SUCCESS_NO_INFO for batched deletes on " +
            s"$table; deleteWhereUnmodified needs real update counts")
        conn.commit()
        counts.zip(tuples).collect { case (0, copies) => copies.size.toLong }.sum
      } finally ps.close()
    }
  }

  private def markerSeen(conn: Connection, streamScope: String,
      batchId: Long): Boolean = {
    val check = conn.prepareStatement(
      s"SELECT 1 FROM ${q(markerTable)} WHERE " +
        "\"stream_scope\" = ? AND \"batch_id\" = ?")
    try {
      check.setString(1, streamScope)
      check.setLong(2, batchId)
      val rs = check.executeQuery()
      try rs.next() finally rs.close()
    } finally check.close()
  }

  private def insertMarker(conn: Connection, streamScope: String,
      batchId: Long): Unit = {
    val mark = conn.prepareStatement(
      s"INSERT INTO ${q(markerTable)} " +
        "(\"stream_scope\", \"batch_id\") VALUES (?, ?)")
    try {
      mark.setString(1, streamScope)
      mark.setLong(2, batchId)
      mark.executeUpdate()
    } finally mark.close()
    ()
  }

  /** Bounded marker history, mirroring the file-backed
    * [[BatchMarkers.runOnce]]: markers far behind the current batch are
    * dropped in the same transaction, so a long-running stream scans a
    * ~100-row marker table, not one row per batch forever. */
  private val markerRetention = 100L
  private def pruneMarkers(conn: Connection, streamScope: String,
      batchId: Long): Unit = {
    val del = conn.prepareStatement(
      s"DELETE FROM ${q(markerTable)} WHERE " +
        "\"stream_scope\" = ? AND \"batch_id\" < ?")
    try {
      del.setString(1, streamScope)
      del.setLong(2, batchId - markerRetention)
      del.executeUpdate()
    } finally del.close()
    ()
  }

  /** ST4 exactly-once: the batch marker commits in the SAME transaction
    * as the merge, so a crash can never separate them.
    *
    * A cheap marker pre-check runs in its own short transaction BEFORE
    * the batch is collected, so crash-replay of an already-committed
    * batch costs one SELECT, not a Spark job. Where the dialect supports
    * unique indexes the write transaction then inserts the marker FIRST:
    * under concurrent writers the unique index turns the race into a
    * constraint violation for the loser, who rolls back (nothing else is
    * in the transaction yet) and reports false — no duplicate markers,
    * and exactly one caller sees "write happened". Engines without
    * usable unique indexes keep select-then-insert, whose race degrades
    * to an idempotent re-merge. */
  override def mergeOnceForBatch(batchId: Long, streamScope: String,
      updates: DataFrame, keys2: Seq[String],
      versionCols: Seq[String] = Nil): Boolean = {
    require(keys2.toSet == keys.toSet,
      s"merge keys $keys2 must match the table's declared keys $keys")
    val preSeen = withConnection { conn =>
      val s = markerSeen(conn, streamScope, batchId); conn.commit(); s
    }
    if (preSeen) return false
    val deduped =
      if (versionCols.isEmpty) updates
      else graft.operators.StateOps.dedupLastWriteWins(updates, keys2, versionCols)
    val rows = collectBounded(deduped, "mergeOnceForBatch")
    commitBatchOnce(batchId, streamScope, rows)
  }

  /** The write transaction of [[mergeOnceForBatch]], AFTER the replay
    * pre-check — package-visible so contention specs can drive the
    * lost-the-race window (another writer committing between the
    * pre-check and this transaction) deterministically. */
  private[graft] def commitBatchOnce(batchId: Long, streamScope: String,
      rows: Seq[Row]): Boolean =
    withConnection { conn =>
      if (dialect.supportsUniqueIndex) {
        val won =
          try { insertMarker(conn, streamScope, batchId); true }
          catch {
            case e: java.sql.SQLException =>
              // rollback ends the failed transaction; the next statement
              // opens a fresh one on the same connection
              conn.rollback()
              if (markerSeen(conn, streamScope, batchId)) false
              else throw e // a genuine failure, not the unique index
          }
        if (!won) { conn.commit(); false }
        else {
          if (rows.nonEmpty) upsertRows(conn, rows)
          pruneMarkers(conn, streamScope, batchId)
          conn.commit()
          true
        }
      } else {
        if (markerSeen(conn, streamScope, batchId)) { conn.commit(); false }
        else {
          if (rows.nonEmpty) upsertRows(conn, rows)
          insertMarker(conn, streamScope, batchId)
          pruneMarkers(conn, streamScope, batchId)
          conn.commit()
          true
        }
      }
    }

  private lazy val scratchRoot = new Path(scratchPath)
  private[pipeline] override def tableRoot: Path = scratchRoot
  private[pipeline] override def fileSystem: FileSystem =
    scratchRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
}

object JdbcStateTable {
  /** The connection's current (catalog, schema) — the scope both
    * metadata probes (tableExists, widenTo's column scan) filter by,
    * shared so a scoping fix cannot land in one and miss the other. */
  private[pipeline] def currentScope(conn: java.sql.Connection)
      : (Option[String], Option[String]) =
    (scala.util.Try(conn.getCatalog).toOption.flatMap(Option(_)),
      scala.util.Try(conn.getSchema).toOption.flatMap(Option(_)))

  /** Does a metadata row's catalog/schema value belong to the current
    * scope? A null row value means the driver doesn't report it —
    * conservative match. */
  private[pipeline] def inScope(rowVal: String, cur: Option[String]): Boolean =
    rowVal == null || cur.forall(_.equalsIgnoreCase(rowVal))
}
