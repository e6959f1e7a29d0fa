package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Schema-agnostic state-table operators (SURVEY.md §2.1/§2.3).
  *
  * Each reproduces one of the reference's JDBC state mutations as a pure
  * dataframe-in/dataframe-out transform over columnar state, designed for a
  * single shuffle keyed on the merge/delete keys — the plan Catalyst emits
  * is `Exchange(hash(keys)) → Sort/WindowGroupLimit → Filter`, which scales
  * linearly with partition count at 100 TB (no driver-side loops, no
  * global single-partition windows).
  */
object StateOps {

  private val SrcCol = "__graft_src"
  private val RnCol  = "__graft_rn"

  /** `col("<alias>.<name>")` with the name segment backtick-quoted: a
    * bare `col(s"$alias.$c")` parses a dot INSIDE the column name as a
    * nested-field path and mis-resolves (or errors) — quoting keeps
    * any legal column name addressing the aliased frame's column.
    * Backticks inside the name itself are escaped by doubling, per the
    * parser's quoted-identifier rule. */
  private[graft] def aliasedCol(alias: String,
      c: String): org.apache.spark.sql.Column =
    col(s"$alias.`${c.replace("`", "``")}`")

  /** Plain quoted column ref for a CALLER-SUPPLIED name: `col(c)`
    * parses a dotted name as a nested-field path (same hazard as
    * [[aliasedCol]], minus the alias). */
  private[graft] def qcol(c: String): org.apache.spark.sql.Column =
    col(s"`${c.replace("`", "``")}`")

  /** Type equality modulo NULLABILITY, at every nesting level: a
    * parquet roundtrip or a union flips `containsNull`/`nullable` flags
    * on array/map/struct types freely (e.g. `array<float>` batches vs
    * `array<float>` state differing only in `containsNull`), and that
    * is not a retype. Nested struct field NAMES still count — renaming
    * a nested field IS a shape change. */
  private def sameTypeIgnoringNullability(
      a: org.apache.spark.sql.types.DataType,
      b: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    (a, b) match {
      case (x: ArrayType, y: ArrayType) =>
        sameTypeIgnoringNullability(x.elementType, y.elementType)
      case (x: MapType, y: MapType) =>
        sameTypeIgnoringNullability(x.keyType, y.keyType) &&
          sameTypeIgnoringNullability(x.valueType, y.valueType)
      case (x: StructType, y: StructType) =>
        x.length == y.length && x.fields.zip(y.fields).forall {
          case (f, g) =>
            f.name == g.name && sameTypeIgnoringNullability(f.dataType, g.dataType)
        }
      case _ => a == b
    }
  }

  /** Is `from → to` a LOSSLESS type promotion every reader of old data
    * can apply on the fly? The set is deliberately the one Spark 4's
    * vectorized parquet reader widens natively when the requested
    * schema is wider than the file footer (integral up-chain,
    * float→double), so a metadata-only retype leaves old bucket files
    * untouched and still reads exactly. NOT included: long→double and
    * int→float (lossy above 2^53/2^24), decimal changes (scale
    * semantics), string/binary crossovers, date→timestamp (timezone
    * semantics) — those need an explicit rewrite. */
  def wideningPromotion(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case _ => false
    }
  }

  /** Same shape, or a [[wideningPromotion]] — what the align paths and
    * widen checks accept for an existing column. */
  private[graft] def sameOrWidens(
      from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean =
    sameTypeIgnoringNullability(from, to) || wideningPromotion(from, to)

  /** [[sameTypeIgnoringNullability]] for callers outside this object
    * that must distinguish "same type" from "mere promotion" — the
    * bucketed table's key-column guard (hash placement is type-
    * sensitive, so a promoted BUCKETING column is never a pure
    * widening there). */
  private[graft] def sameShape(
      a: org.apache.spark.sql.types.DataType,
      b: org.apache.spark.sql.types.DataType): Boolean =
    sameTypeIgnoringNullability(a, b)

  /** Require `from → to` to be a pure WIDENING: every `from` column
    * survives in `to` under the same name and the same type — or a
    * [[wideningPromotion]] of it (new `to` columns are fine). Anything
    * else — a drop, a rename, a lossy or sideways retype — is refused
    * loudly: those need a full-table rewrite the caller must own, never
    * a silent cast. Shared by every [[graft.pipeline.StateTable]]
    * implementation so schema evolution means the same thing on
    * bucketed parquet, snapshot parquet, and JDBC state (the JDBC twin
    * additionally refuses promotions — it cannot retype a live DB
    * column safely). */
  def widenCheck(from: org.apache.spark.sql.types.StructType,
      to: org.apache.spark.sql.types.StructType, what: String): Unit =
    from.fields.foreach { f =>
      val t = to.fields.find(_.name == f.name).getOrElse(
        throw new IllegalArgumentException(
          s"$what drops column `${f.name}` " +
            s"(${from.fieldNames.mkString(",")} -> " +
            s"${to.fieldNames.mkString(",")}) — schema evolution supports " +
            "ADD COLUMN only; drops/renames need an explicit full rewrite " +
            "under the new shape"))
      require(sameOrWidens(f.dataType, t.dataType),
        s"$what changes column `${f.name}` from " +
          s"${f.dataType.simpleString} to ${t.dataType.simpleString} — " +
          "schema evolution supports ADD COLUMN and lossless widening " +
          "promotions (byte<short<int<long, float<double) only; other " +
          "type changes need an explicit full rewrite under the new shape")
    }

  /** Align `df` up to `target`: verify the move is a pure widening
    * ([[widenCheck]]), null-fill the columns `df` lacks (added columns
    * are nullable by construction — old rows genuinely have no value),
    * and UPCAST columns `target` records under a promoted type (the
    * cast is lossless by [[wideningPromotion]]; anything else already
    * refused). No-op when the shapes already agree. */
  def alignForWidening(df: DataFrame,
      target: org.apache.spark.sql.types.StructType, what: String): DataFrame =
    // the fast path must compare TYPES too, not just names — a
    // same-name retype skipping widenCheck would ride unionByName's
    // silent coercion into the commit, exactly the cast the contract
    // refuses (nullability intentionally not compared: not a retype)
    if (df.schema.fieldNames.sameElements(target.fieldNames) &&
        df.schema.fields.zip(target.fields).forall { case (a, b) =>
          sameTypeIgnoringNullability(a.dataType, b.dataType) }) df
    else {
      widenCheck(df.schema, target, what)
      df.select(target.fields.toIndexedSeq.map { f =>
        df.schema.fields.find(_.name == f.name) match {
          case Some(old)
              if sameTypeIgnoringNullability(old.dataType, f.dataType) =>
            qcol(f.name)
          case Some(_) => qcol(f.name).cast(f.dataType).as(f.name)
          case None => lit(null).cast(f.dataType).as(f.name)
        }
      }: _*)
    }

  /** Align a (state, updates) pair for a keyed merge so schema drift in
    * EITHER direction rides safely — one meaning across every
    * [[graft.pipeline.StateTable]] implementation:
    *
    *  - updates same-or-wider than `state`: state aligns up
    *    (null-filled) and the merge output carries the widened shape —
    *    ADD COLUMN as an ordinary merge;
    *  - updates NARROWER than `state` — a not-yet-redeployed writer
    *    still merging the pre-widen shape — follows the JDBC contract
    *    ([[graft.pipeline.JdbcStateTable.widenTo]]: pre-migration
    *    instances keep writing the columns they know): known columns
    *    take the update, columns the writer doesn't know keep the
    *    matched current row's value via a keyed lookup against `state`
    *    (null for genuinely new keys) — never a crash-loop, never a
    *    silent null-overwrite of freshly migrated data.
    *
    * State keys are unique, so the preserve join cannot multiply update
    * rows; renames/retypes refuse inside [[alignForWidening]] either
    * way. Returns the pair under one common shape. */
  def alignPairForMerge(state: DataFrame, updates: DataFrame,
      keys: Seq[String], what: String): (DataFrame, DataFrame) = {
    // per-column WIDEST type across the pair: a wider-typed update
    // promotes the state (type widening as an ordinary merge), a
    // NARROWER-typed update — a not-yet-redeployed writer merging the
    // pre-promotion type — upcasts into the state's type instead of
    // refusing (the type twin of the narrow-writer column contract
    // below); sideways/lossy combinations refuse inside widenCheck
    def widest(a: org.apache.spark.sql.types.StructField,
        b: org.apache.spark.sql.types.StructField) =
      if (wideningPromotion(a.dataType, b.dataType))
        a.copy(dataType = b.dataType)
      else a
    val missing =
      state.schema.fields.filterNot(f => updates.columns.contains(f.name))
    if (missing.isEmpty) {
      val target = org.apache.spark.sql.types.StructType(
        updates.schema.fields.map { uf =>
          state.schema.fields.find(_.name == uf.name) match {
            case Some(sf) => widest(uf, sf)
            case None => uf
          }
        })
      (alignForWidening(state, target, what),
        alignForWidening(updates, target, what))
    } else {
      val extra = updates.schema.fields
        .filterNot(f => state.schema.fieldNames.contains(f.name))
      val target = org.apache.spark.sql.types.StructType(
        state.schema.fields.map { sf =>
          updates.schema.fields.find(_.name == sf.name) match {
            case Some(uf) => widest(sf, uf)
            case None => sf
          }
        } ++ extra.map(_.copy(nullable = true)))
      val cur = alignForWidening(state, target, what)
      // NULL-SAFE key match (<=>), consistent with mergeByKey's window
      // (null keys group together): a legitimately-null-keyed row must
      // preserve its widened columns exactly like any other
      val curVals = cur.select(
        (keys.map(c => qcol(c).as(s"__pres_$c")) ++
          missing.map(f => qcol(f.name))).toIndexedSeq: _*)
      val preserved = updates.join(curVals,
          keys.map(c => qcol(c) <=> qcol(s"__pres_$c")).reduce(_ && _), "left")
        .drop(keys.map("__pres_" + _): _*)
      (cur, alignForWidening(preserved, target, what))
    }
  }

  /** U1/U2 — keyed last-write-wins merge (`INSERT … ON CONFLICT DO UPDATE`;
    * reference `PostgrePersistenceService.java:218-280,413-482`).
    *
    * Updates beat existing state on key collision; among duplicate keys
    * *within* `updates`, the greatest `versionCols` tuple wins (the
    * reference applies JDBC batch entries in order — last statement wins,
    * so callers pass an explicit batch-sequence column; SURVEY §7.5 on A1's
    * insertion-order guarantee).
    *
    * One hash-shuffle on `keys`; `row_number` runs per key group. Skewed
    * keys are bounded by update-batch size, and AQE skew-split handles the
    * rest at scale.
    */
  def mergeByKey(
      state: DataFrame,
      updates: DataFrame,
      keys: Seq[String],
      versionCols: Seq[String] = Nil): DataFrame = {
    require(keys.nonEmpty, "mergeByKey needs at least one key column")
    latestPerKey(sourced(state, updates), keys, versionCols)
  }

  /** [[mergeByKey]]'s input: the state rows and the updates in one
    * frame, each row tagged with the side it came from. */
  private[graft] def sourced(state: DataFrame, updates: DataFrame): DataFrame =
    state.withColumn(SrcCol, lit(0))
      .unionByName(updates.withColumn(SrcCol, lit(1)))

  /** [[mergeByKey]]'s resolution of a [[sourced]] frame: per `keys`
    * group, the update with the greatest `versionCols` tuple, else the
    * state row. A caller may add to `keys` a column that is a function
    * of them (a bucket id), which leaves the groups as they are but
    * lets the window run on rows already partitioned by that column. */
  private[graft] def latestPerKey(all: DataFrame, keys: Seq[String],
      versionCols: Seq[String]): DataFrame = {
    val ordering = (col(SrcCol).desc +: versionCols.map(qcol(_).desc))
    val w = Window.partitionBy(keys.map(qcol): _*).orderBy(ordering: _*)
    all.withColumn(RnCol, row_number().over(w))
      .filter(col(RnCol) === 1)
      .drop(RnCol, SrcCol)
  }

  /** A3 — keep only the newest row per key (dedup-last-write-wins;
    * the implicit aggregate of repeated upserts, SURVEY §2.3 A3). */
  def dedupLastWriteWins(
      df: DataFrame,
      keys: Seq[String],
      orderDescCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(qcol): _*)
      .orderBy(orderDescCols.map(qcol(_).desc): _*)
    df.withColumn(RnCol, row_number().over(w))
      .filter(col(RnCol) === 1)
      .drop(RnCol)
  }

  /** Result of [[deleteIfUnmodified]]: the rewritten state plus the
    * processed rows that could NOT be removed because the state row changed
    * since they were read (the reference returns these for re-processing;
    * `PersistenceService.java:72-86`). */
  case class DeleteResult(newState: DataFrame, notRemoved: DataFrame)

  /** D1 — optimistic-concurrency delete: remove `processed` rows from
    * `state` only where ALL columns still match (full-tuple anti-join;
    * reference `PostgrePersistenceService.java:344-403` — `DELETE … WHERE
    * recordIdentifier=? AND datestamp=? AND statusIsDeleted=?`).
    *
    * A state row re-upserted with a newer datestamp while its old version
    * was being processed survives the delete (ST5 late-update guard,
    * reference test `PostgrePersistenceServiceTestIT.java:452-494`).
    */
  def deleteIfUnmodified(state: DataFrame, processed: DataFrame): DeleteResult = {
    val cols = state.columns.toSeq
    // NULL-SAFE tuple match (<=>), like the JDBC twin's IS NOT DISTINCT
    // FROM: with plain equality a header carrying any NULL column (an
    // unparseable datestamp) could NEVER match its own processed copy —
    // it would survive every delete and be re-drained and re-fetched
    // forever, a poison row permanently occupying the batch
    def nullSafeAnti(l: DataFrame, r: DataFrame): DataFrame = {
      val la = l.alias("__l")
      val ra = r.select(cols.map(qcol): _*).alias("__r")
      la.join(ra,
        cols.map(c => aliasedCol("__l", c) <=> aliasedCol("__r", c))
          .reduce(_ && _),
        "left_anti")
    }
    DeleteResult(
      newState = nullSafeAnti(state, processed),
      notRemoved = nullSafeAnti(processed, state))
  }

  /** D2 — retention with keep-latest exception: drop rows at or before
    * `cutoff` but always keep the row with the greatest `seqCol`, even if
    * expired (reference `PostgrePersistenceService.java:172-216` — find max
    * ID, then `DELETE WHERE timestampOfRun <= ? AND ID != ?`).
    *
    * The max is computed as a 1-row aggregate broadcast back over the data
    * — no global-ordering window, so no single-partition bottleneck at
    * scale.
    */
  def retentionKeepLatest(
      df: DataFrame,
      seqCol: String,
      tsCol: String,
      cutoff: org.apache.spark.sql.Column): DataFrame = {
    val MaxCol = "__graft_max_seq"
    val mx = df.agg(max(qcol(seqCol)).as(MaxCol))
    df.crossJoin(broadcast(mx))
      // NULL-ts rows survive, matching the reference's DELETE form
      // (`ts <= ? AND id != ?` evaluates UNKNOWN on NULL → not
      // deleted): an unparseable datestamp must never be silently
      // expired — a keep-filter without the isNull arm would drop it
      .filter(qcol(tsCol) > cutoff || qcol(tsCol).isNull ||
        qcol(seqCol) === col(MaxCol))
      .drop(MaxCol)
  }

  /** [[retentionKeepLatest]] over rows the driver already holds — a
    * checkpoint log of a few dozen rows — with the same predicate: a
    * row survives if its `tsCol` is after `cutoff` or NULL, or its
    * `seqCol` equals the maximum non-NULL sequence. No Spark job. */
  def retentionKeepLatestRows(rows: Seq[org.apache.spark.sql.Row],
      schema: org.apache.spark.sql.types.StructType, seqCol: String,
      tsCol: String, cutoff: java.sql.Timestamp): Seq[org.apache.spark.sql.Row] = {
    val (seq, ts) = (schema.fieldIndex(seqCol), schema.fieldIndex(tsCol))
    val maxSeq = rows.filterNot(_.isNullAt(seq)).map(_.getLong(seq)).maxOption
    rows.filter(r => r.isNullAt(ts) || r.getTimestamp(ts).after(cutoff) ||
      (!r.isNullAt(seq) && maxSeq.contains(r.getLong(seq))))
  }

  /** A1/S3 — newest row by insertion sequence (`ORDER BY ID DESC LIMIT 1`;
    * reference `PostgrePersistenceService.java:94-139`). Insertion order,
    * not timestamp order, decides (reference test
    * `PostgrePersistenceServiceTestIT.java:194-221`). Spark plans this as
    * TakeOrderedAndProject — a per-partition top-1 then a driver merge of
    * one row per partition; no full sort, no shuffle.
    */
  def top1BySeq(df: DataFrame, seqCol: String): DataFrame =
    df.orderBy(qcol(seqCol).desc).limit(1)

  /** L1/S4 — bounded work batch (`LIMIT 100`;
    * reference `PostgrePersistenceService.java:288-336`). The reference
    * takes an *arbitrary* 100; for deterministic verification callers may
    * order first. */
  def limitBatch(df: DataFrame, n: Int): DataFrame = df.limit(n)

  /** U3 — append rows with a monotonically increasing sequence assigned
    * after the current maximum (the reference's PostgreSQL sequence,
    * DDL `createSequencesAndTablesProductionDB.sql:5-10`).
    *
    * `orderCols` fixes the intra-batch order deterministically. The window
    * is unpartitioned and therefore only suitable for *small* appends
    * (checkpoint rows — one per run); bulk data paths never use it.
    */
  def appendWithSeq(
      state: DataFrame,
      newRows: DataFrame,
      seqCol: String,
      orderCols: Seq[String]): DataFrame = {
    val MaxCol = "__graft_max_seq"
    graft.util.Logs.quietGlobalWindowWarning()
    val mx = state.agg(coalesce(max(qcol(seqCol)), lit(0L)).as(MaxCol))
    val w = Window.orderBy(orderCols.map(qcol): _*)
    val numbered = newRows.crossJoin(broadcast(mx))
      .withColumn(seqCol, (col(MaxCol) + row_number().over(w)).cast("long"))
      .drop(MaxCol)
    state.unionByName(numbered.select(state.columns.map(qcol).toSeq: _*))
  }

  /** Incremental view maintenance for a DISTRIBUTIVE aggregate
    * (`count(*)` + `sum(valueCol)` per `groupCols`) from a CDC change
    * feed ([[graft.pipeline.BucketedStateTable.changesBetween]] /
    * the `graft-state-changes` stream): each change row contributes a
    * signed delta (+1 for `insert`/`update_postimage`, −1 for
    * `delete`/`update_preimage`), so an UPDATE that moves a row
    * between groups decrements its old group and increments its new
    * one for free — both images ride the feed. Groups whose
    * maintained count reaches zero drop out, matching a from-scratch
    * `GROUP BY` over the new snapshot exactly.
    *
    * The 100 TB point: refreshing an aggregate over a mutating
    * 100 TB table costs a shuffle of the CHANGED rows only (the feed
    * is already bucket-pruned) plus a keyed merge into the
    * group-cardinality view — the base table is never rescanned.
    * Distributive-only by design: `min`/`max` cannot be maintained
    * from deltas without the group's full history (re-aggregate those
    * from the snapshot, or keep per-group sketches). `valueCol` and
    * `groupCols` are assumed non-null (the usual dimensional contract
    * — coalesce a sentinel in upstream if a group key can be null;
    * the equi-join here would otherwise split the null group).
    *
    * `agg` must carry `groupCols ++ (n_rows, sum_<valueCol>)` — the
    * shape [[aggregateShape]] produces; pass it an empty such frame to
    * bootstrap from nothing. */
  def maintainSumCount(
      agg: DataFrame,
      changes: DataFrame,
      groupCols: Seq[String],
      valueCol: String): DataFrame = {
    val sumCol = s"sum_$valueCol"
    val sign = when(col("change_type")
      .isin("insert", "update_postimage"), lit(1L)).otherwise(lit(-1L))
    val delta = changes
      .select(groupCols.map(qcol) :+ sign.as("__sign") :+ qcol(valueCol): _*)
      .groupBy(groupCols.map(qcol): _*)
      .agg(sum(col("__sign")).as("__dn"),
        sum(col("__sign") * qcol(valueCol)).as("__dsum"))
    // NULL-SAFE join + key coalesce: SQL GROUP BY folds every NULL
    // into ONE group, but a plain equality join never matches
    // null = null — the view's null group would split into a stale
    // row and a delta-only row, and the keyed upsert would then keep
    // one of them arbitrarily (delta lost or history lost)
    // explicit aliases, not dataframe-column refs: `agg` can share
    // `changes`' lineage (an empty view read falls back to a
    // feed-derived like-frame), which Spark flags as an ambiguous
    // self-join under bare references
    val cond = groupCols.map(c =>
      aliasedCol("__agg", c) <=> aliasedCol("__dlt", c)).reduce(_ && _)
    agg.as("__agg").join(delta.as("__dlt"), cond, "full_outer")
      .select(groupCols.map(c =>
        coalesce(aliasedCol("__agg", c), aliasedCol("__dlt", c)).as(c)) ++ Seq(
        (coalesce(col("n_rows"), lit(0L)) +
          coalesce(col("__dn"), lit(0L))).as("n_rows"),
        (coalesce(qcol(sumCol), lit(0L)) +
          coalesce(col("__dsum"), lit(0L))).as(sumCol)): _*)
      .filter(col("n_rows") > 0)
  }

  /** The maintained-view shape [[maintainSumCount]] expects, computed
    * from scratch — the bootstrap (and the spec's parity oracle). */
  def aggregateShape(rows: DataFrame, groupCols: Seq[String],
      valueCol: String): DataFrame =
    rows.groupBy(groupCols.map(qcol): _*)
      .agg(count(lit(1)).as("n_rows"),
        sum(qcol(valueCol)).as(s"sum_$valueCol"))
}
