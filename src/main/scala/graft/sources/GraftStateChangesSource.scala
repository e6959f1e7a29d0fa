package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.pipeline.{BucketedStateTable, StateManifest}

/** Streaming change-feed over a [[graft.pipeline.BucketedStateTable]] —
  * the streaming twin of
  * [[graft.pipeline.BucketedStateTable.changesBetween]]:
  *
  * {{{
  * spark.readStream.format("graft-state-changes").load("/state/docs")
  *   // → change_type / <row columns> / _commit_id, one micro-batch per
  *   //   offset advance, each the NET diff of its commit range
  * }}}
  *
  * Offsets ARE the table's commit ids, so a micro-batch covering
  * commits `(start, end]` is `changesBetween(start, end)` — the net
  * row-level diff, bucket-pruned by the manifests (unchanged buckets
  * are never read). `_commit_id` carries the batch's end commit. This
  * is the incremental-consumer affordance a 100 TB pipeline needs
  * (downstream re-index, replication, audit tailing) in the shape
  * Delta's `readChangeFeed` gives on a transactional table.
  *
  * Start position: by default the feed begins at the LATEST commit at
  * stream creation (only future changes flow); `option("startingCommit",
  * c)` starts after retained commit `c` instead, so the first batch
  * replays history `(c, latest]`. The resolved base is persisted under
  * the stream's checkpoint metadata directory at creation, which makes
  * a batch-0 REPLAY after restart diff from the SAME base even though
  * the table has moved on — V1 recovery hands back `start = None` and
  * the source must not re-resolve "latest".
  *
  * Replica bootstrap: `option("initialSnapshot", "true")` additionally
  * emits the base commit's FULL snapshot as `insert` rows at the head
  * of batch 0 (Delta-CDF's startingVersion pattern) — a downstream
  * replica seeds and tails in one stream, no separate backfill job.
  * The option must accompany every (re)start; batch-0 replays stay
  * deterministic while the base commit is retained.
  *
  * Replay determinism and retention: a replayed `(start, end]` range
  * recomputes the same diff as long as BOTH endpoint commits are
  * retained. Size `keepCommits`/`retentionFloorMillis` to cover the
  * consumer's maximum lag (checkpoint-restart window included); a
  * consumer that falls behind retention fails LOUDLY on the pruned
  * manifest rather than silently skipping changes — the same contract
  * a transactional format's change feed has beyond its retention.
  *
  * Exactly-once composition: pair with an idempotent sink (e.g. the
  * `graft-state-sink` marker+merge face, or `foreachBatch` into
  * `mergeOnceForBatch`) — offsets-in-checkpoint plus deterministic
  * ranges give the standard Structured Streaming replay story.
  *
  * Admission control: `option("maxCommitsPerTrigger", m)` bounds every
  * micro-batch to at most `m` source commits, so a consumer recovering
  * from long downtime drains its backlog in ⌈backlog/m⌉ batches instead
  * of taking the whole range as ONE unbounded batch (net-diff keeps
  * that smaller than replay, but nothing bounded it before). Counted in
  * COMMITS, not ids — ids are sparse after withdrawn publishes. The cap
  * rides the source's own persisted "admitted floor" (see the field
  * doc), so it keeps binding across restarts; a crash inside the window
  * can at most double one batch. Unset = the old jump-to-latest.
  *
  * `option("maxChangeRowsPerTrigger", r)` caps by estimated ROWS
  * instead of commit count (composable with the commit cap): each
  * pending commit is priced from the manifests' recorded per-bucket
  * row counts (zone-map stats — the pointer diff names the rewritten
  * buckets, the counts say what reading both sides costs) and commits
  * are admitted until the estimate would exceed `r`. The first pending
  * commit always lands (progress guarantee), so a single oversized
  * commit still drains — as its own batch. On a table without
  * recorded counts (no `statsCols`) the estimate is UNKNOWN and the
  * cap degrades to one commit per trigger — bounded, just blunter.
  *
  * The bootstrap has the same knob:
  * `option("maxSnapshotBucketsPerTrigger", m)` (requires
  * `initialSnapshot`) walks the base snapshot in chunks of m bucket
  * directories — ⌈populated buckets / m⌉ bounded batches through the
  * offset space below the base commit, each reading ONLY its chunk's
  * directories — so seeding a 100 TB replica is a stream of bounded
  * batches, not one unbounded one. Restart-safe mid-bootstrap (the
  * chunk walk resumes at the checkpoint's offset); the diff phase
  * begins when the walk reaches the base commit. Unset = the whole
  * snapshot in batch 0, the original behavior.
  *
  * Schema evolution: a WIDENING commit
  * ([[graft.pipeline.BucketedStateTable.widenTo]] / a widened merge)
  * landing mid-stream flows under the stream's PINNED shape — a V1
  * source's schema is fixed at start, so the diff's added columns are
  * projected away (deterministically, by name; never misbound) and an
  * update whose only change is in an invisible column emits a
  * no-op-looking image pair the consumer applies harmlessly. A restart
  * from the same checkpoint re-derives the schema from the manifest and
  * keeps its offsets: the widened column flows from the first
  * post-restart batch with null preimages for rows that predate it.
  * One narrow race is accepted LOUDLY rather than pinned: a widening
  * commit landing between `readStream.load()` (which resolves the
  * analyzed schema) and `.start()` (which re-derives it) makes the
  * first batch fail Spark's output-schema check — restart the stream;
  * pinning the load-time schema per checkpoint would instead freeze
  * out the restart-picks-up-widening behavior above. */
class GraftStateChangesProvider extends StreamSourceProvider
    with DataSourceRegister {

  override def shortName(): String = "graft-state-changes"

  private def feedSchema(rowSchema: StructType): StructType = {
    // the feed ADDS these two columns; a table that already has one
    // would produce a duplicate-name stream schema that crash-loops
    // with an ambiguous-reference error at the first batch — refuse at
    // creation with the actual cause instead
    val clash = rowSchema.fieldNames
      .filter(GraftStateChangesSource.ReservedCols.contains)
    require(clash.isEmpty,
      s"graft-state-changes reserves column name(s) " +
        s"${GraftStateChangesSource.ReservedCols.mkString(", ")} for the " +
        s"feed envelope, but the table's schema already has " +
        s"${clash.mkString(", ")} — rename the column(s) to stream this " +
        "table's changes")
    StructType(
      StructField("change_type", StringType, nullable = false) +:
        rowSchema.fields :+
        StructField("_commit_id", LongType, nullable = false))
  }

  private def tablePath(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-state-changes needs a table root: " +
        "spark.readStream.format(\"graft-state-changes\").load(<path>)"))

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    require(schema.isEmpty,
      "graft-state-changes derives its schema from the table's manifest; " +
        "a user-specified schema is not supported")
    val path = tablePath(parameters)
    val conf = sqlContext.sparkSession.sessionState.newHadoopConf()
    val rowSchema = StateManifest.snapshot(conf, path).flatMap(_.schema)
      .getOrElse(throw new IllegalArgumentException(
        s"graft-state-changes at $path: no committed snapshot with a " +
          "recorded schema to stream changes of"))
    (shortName(), feedSchema(rowSchema))
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val spark = sqlContext.sparkSession
    val path = tablePath(parameters)
    val conf = spark.sessionState.newHadoopConf()
    val rowSchema = StateManifest.snapshot(conf, path).flatMap(_.schema)
      .getOrElse(throw new IllegalArgumentException(
        s"graft-state-changes at $path: no committed snapshot with a " +
          "recorded schema to stream changes of"))
    // Resolve the base commit ONCE per checkpoint lineage: first start
    // persists it under the stream's metadata dir (an atomic
    // create-if-absent, like every file-based source's metadata);
    // restarts read it back so a batch-0 replay (start = None) diffs
    // from the ORIGINAL base, not today's latest.
    val baseFile = new Path(metadataPath, "graft-changes-base")
    val fs = baseFile.getFileSystem(conf)
    val base: Long =
      GraftStateChangesSource.readSmallLong(fs, baseFile).getOrElse {
        val commits = BucketedStateTable.snapshotCommits(conf, path)
        require(commits.nonEmpty,
          s"graft-state-changes at $path: table has no commits")
        val resolved = parameters.get("startingCommit") match {
          case Some(c) =>
            val id = c.toLong
            require(commits.contains(id),
              s"startingCommit $id is not a retained commit at $path " +
                s"(retained: ${commits.mkString(", ")})")
            id
          case None => commits.max
        }
        val out = fs.create(baseFile, false) // atomic create-if-absent
        try out.write(s"$resolved\n".getBytes("UTF-8")) finally out.close()
        resolved
      }
    val maxCommits = parameters.get("maxCommitsPerTrigger").map { v =>
      val m = v.toInt
      require(m > 0, s"maxCommitsPerTrigger must be positive, got $m")
      m
    }
    val maxRows = parameters.get("maxChangeRowsPerTrigger").map { v =>
      val m = v.toLong
      require(m > 0, s"maxChangeRowsPerTrigger must be positive, got $m")
      m
    }
    val maxSnapBuckets =
      parameters.get("maxSnapshotBucketsPerTrigger").map { v =>
        val m = v.toInt
        require(m > 0,
          s"maxSnapshotBucketsPerTrigger must be positive, got $m")
        require(parameters.get("initialSnapshot").exists(_.toBoolean),
          "maxSnapshotBucketsPerTrigger bounds the initialSnapshot " +
            "bootstrap — set initialSnapshot=true with it")
        m
      }
    // The snapshot cap DEFINES the bootstrap offset space (chunk count
    // and boundaries), so it is pinned per checkpoint lineage exactly
    // like the base commit: recorded at FIRST creation — and only on a
    // genuinely fresh checkpoint; enabling a chunked bootstrap on a
    // checkpoint with prior progress is meaningless (its snapshot
    // already emitted un-chunked) and recording the cap there would
    // wedge the checkpoint between two refusals. Any later (re)start
    // must present the recorded value — a silently different cap would
    // remap checkpointed offsets onto different bucket chunks,
    // skipping or duplicating snapshot data. Dropping the option while
    // the record exists refuses only MID-bootstrap (it would abandon
    // the unseeded chunks); once the admitted floor reached the base
    // commit the walk is complete and the option no longer matters.
    val capFile = new Path(metadataPath, "graft-changes-snapshot-cap")
    val recordedCap: Option[Int] =
      GraftStateChangesSource.readSmallLong(fs, capFile).map(_.toInt)
    def hasPriorProgress: Boolean =
      GraftStateChangesSource.engineHasProgress(fs, metadataPath)
    def bootstrapDone: Boolean =
      GraftStateChangesSource.readSmallLong(fs,
        new Path(metadataPath, "graft-changes-admitted")).exists(_ >= base)
    (maxSnapBuckets, recordedCap) match {
      case (Some(m), Some(r)) =>
        require(m == r,
          s"maxSnapshotBucketsPerTrigger=$m differs from this " +
            s"checkpoint's recorded cap $r — bootstrap chunk offsets are " +
            "defined by the recorded value; keep it, or reseed with a " +
            "fresh checkpoint")
      case (Some(_), None) if hasPriorProgress =>
        throw new IllegalArgumentException(
          "cannot enable a chunked bootstrap " +
            "(maxSnapshotBucketsPerTrigger) on a checkpoint with prior " +
            "progress — its base snapshot already emitted un-chunked; " +
            "reseed with a fresh checkpoint to re-bootstrap in chunks")
      case (Some(m), None) =>
        val out = fs.create(capFile, false) // atomic create-if-absent
        try out.write(s"$m\n".getBytes("UTF-8")) finally out.close()
      case (None, Some(r)) if !bootstrapDone =>
        throw new IllegalArgumentException(
          s"this checkpoint recorded a chunked bootstrap " +
            s"(maxSnapshotBucketsPerTrigger=$r) that has not finished — " +
            "keep the option until the walk reaches the base commit, or " +
            "reseed with a fresh checkpoint")
      case _ => () // no cap anywhere, or dropped after a completed walk
    }
    new GraftStateChangesSource(spark, path, base, feedSchema(rowSchema),
      initialSnapshot =
        parameters.get("initialSnapshot").exists(_.toBoolean),
      maxCommitsPerTrigger = maxCommits,
      maxChangeRowsPerTrigger = maxRows,
      maxSnapshotBucketsPerTrigger = maxSnapBuckets,
      metadataPath = Some(metadataPath))
  }
}

private[sources] object GraftStateChangesSource {
  /** Feed-envelope column names the source adds to every batch — a
    * table whose own schema uses one cannot be streamed (refused at
    * creation). */
  val ReservedCols: Set[String] = Set("change_type", "_commit_id")

  /** Estimated rows a diff admitting `cur` on top of `prev` must read:
    * the recorded per-bucket counts of every bucket whose pointer
    * moved, summed over BOTH sides (pre- and post-image buckets are
    * both scanned). A dropped or newly-created bucket contributes only
    * its existing side. -1 = UNKNOWN: a side's manifest is unreadable
    * (pruned) or an involved bucket carries no recorded count (written
    * by a stats-less handle) — the admission loop then stops after the
    * commit rather than guessing. */
  private[sources] def commitCost(prev: Option[StateManifest],
      cur: Option[StateManifest]): Long =
    (prev, cur) match {
      case (Some(pm), Some(cm)) =>
        def rows(m: StateManifest, b: Int): Option[Long] =
          if (m.buckets.contains(b)) m.zoneStats.get(b).map(_.rows) else Some(0L)
        var total = 0L
        val it = (pm.buckets.keySet ++ cm.buckets.keySet).iterator
        while (it.hasNext) {
          val b = it.next()
          if (pm.buckets.get(b) != cm.buckets.get(b)) {
            val p = rows(pm, b)
            val c = rows(cm, b)
            (p, c) match {
              case (Some(x), Some(y)) => total += x + y
              case _ => return -1L
            }
          }
        }
        total
      case _ => -1L
    }

  /** One tiny-number-in-a-file reader shared by every metadata slot
    * this source keeps (base commit, snapshot cap, admitted floor) —
    * one place for charset and absent-file handling. */
  private[sources] def readSmallLong(
      fs: org.apache.hadoop.fs.FileSystem, p: Path): Option[Long] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8")
        .mkString.trim.toLong)
      finally in.close()
    }

  /** Has the owning stream's checkpoint logged ANY offsets? An
    * existence-only probe of the engine's offsets dir (metadataPath is
    * `<ck>/sources/<i>`), shared by the cap-enable guards. */
  private[sources] def engineHasProgress(
      fs: org.apache.hadoop.fs.FileSystem, metadataPath: String): Boolean = {
    val offsets = new Path(new Path(metadataPath).getParent.getParent,
      "offsets")
    try fs.exists(offsets) && fs.listStatus(offsets).nonEmpty
    catch { case _: java.io.IOException => false }
  }
}

private[sources] class GraftStateChangesSource(
    spark: org.apache.spark.sql.SparkSession,
    path: String,
    base: Long,
    override val schema: StructType,
    initialSnapshot: Boolean = false,
    maxCommitsPerTrigger: Option[Int] = None,
    maxChangeRowsPerTrigger: Option[Long] = None,
    maxSnapshotBucketsPerTrigger: Option[Int] = None,
    metadataPath: Option[String] = None) extends Source {

  private def conf = spark.sessionState.newHadoopConf()

  // ── chunked replica bootstrap (maxSnapshotBucketsPerTrigger) ───────
  // Without it, `initialSnapshot` emits the whole base snapshot as ONE
  // micro-batch — the admission problem all over again at bootstrap
  // time (a 100 TB replica seed must not be one batch). With it, the
  // bootstrap WALKS the offset space BELOW `base`: the base manifest's
  // populated buckets, sorted, in chunks of the cap; offset
  // `base - K + c` means "snapshot chunks 1..c emitted". The chunk
  // list derives from the IMMUTABLE base manifest, so replays are
  // deterministic exactly as long as the base commit is retained (the
  // feed's standing retention contract), and each batch reads ONLY its
  // chunk's bucket directories — bounded memory AND bounded I/O per
  // trigger. After the last chunk the offset reaches `base` and the
  // ordinary diff phase takes over (composing with
  // maxCommitsPerTrigger if set).

  private def chunked: Boolean =
    initialSnapshot && maxSnapshotBucketsPerTrigger.isDefined

  /** Populated buckets of the base snapshot in cap-sized chunks PLUS
    * the base manifest's recorded row schema — one lazy read of the
    * immutable base manifest for the whole bootstrap (not one per
    * batch: on an object store that would be a GET per trigger for a
    * 100 TB seed). Lazy so post-bootstrap restarts (floor ≥ base, the
    * chunk list never consulted) don't require the base commit to
    * still be retained. */
  private lazy val bootstrapMeta: (Seq[Seq[Int]], Option[StateManifest]) =
    maxSnapshotBucketsPerTrigger match {
      case Some(m) if initialSnapshot =>
        val snap = StateManifest.snapshot(conf, path, Some(base))
        (snap.toSeq.flatMap(_.buckets.keys.toSeq.sorted).grouped(m).toSeq, snap)
      case _ => (Nil, None)
    }

  private def snapshotChunks: Seq[Seq[Int]] = bootstrapMeta._1

  private def bootstrapStart: Long = base - snapshotChunks.size

  private def toLong(o: Offset): Long = o match {
    case l: LongOffset => l.offset
    case s: SerializedOffset => LongOffset(s).offset
    case other => throw new IllegalStateException(
      s"graft-state-changes: unexpected offset type $other")
  }

  // ── admission control (maxCommitsPerTrigger) ───────────────────────
  // The cap needs the consumer's POSITION, which a V1 getOffset is not
  // handed — so the source keeps its own "admitted floor": the highest
  // batch end it has seen EXECUTE (getBatch ratchets it; a tiny file
  // under the stream's own metadata dir persists it, like
  // FileStreamSource's seen-files log). On restart the floor equals the
  // last executed batch's end — a pending-batch replay rewrites the
  // same value before the next getOffset runs — so a recovering
  // consumer drains a long backlog in ⌈backlog/max⌉ bounded batches
  // instead of one unbounded one. Crash-window caveat: a ceiling
  // admitted but never executed is forgotten, so the post-crash first
  // batch can span up to 2× the cap — bounded either way. The floor
  // only ratchets FORWARD; offsets never move backward.

  private def floorFile = metadataPath.map(p =>
    new Path(p, "graft-changes-admitted"))

  @volatile private var admittedFloor: Option[Long] = None

  /** The persisted floor alone (no defaulting, no refusal) — what
    * [[ratchetFloor]] compares against from inside getBatch, where the
    * engine-provided batch end IS the authoritative position. */
  private def readPersistedFloor(): Option[Long] =
    floorFile.flatMap(f =>
      GraftStateChangesSource.readSmallLong(f.getFileSystem(conf), f))

  private def readFloor(): Long = admittedFloor.getOrElse {
    val v = readPersistedFloor().getOrElse {
      // No floor on record: fine for a brand-new stream (position = the
      // bootstrap start / base), DANGEROUS for a checkpoint with prior
      // progress — admitting from the base would hand the engine an
      // offset BELOW its committed position, and as the floor walked
      // back up every in-between commit would re-emit as duplicates.
      // Detect prior progress via the engine's own offsets dir
      // (existence only, no log parsing) and refuse with the recipe.
      // Every getBatch persists the floor (capped or not), so any
      // checkpoint that ran one batch under this version carries one —
      // this catches caps newly enabled on a pre-admission-control
      // checkpoint, and a floor lost to the rename fallback's window.
      if (maxCommitsPerTrigger.isDefined ||
          maxChangeRowsPerTrigger.isDefined || chunked)
        metadataPath.foreach { mp =>
          if (GraftStateChangesSource.engineHasProgress(
              new Path(mp).getFileSystem(conf), mp))
            throw new IllegalStateException(
              s"graft-state-changes at $path: admission control " +
                "(maxCommitsPerTrigger / maxSnapshotBucketsPerTrigger) " +
                "is set on a checkpoint with prior progress but no " +
                "admitted-floor record — admitting from the base would " +
                "re-emit already-processed commits as duplicates. Run " +
                "the stream once WITHOUT the cap (any batch persists " +
                "the floor), then re-enable it")
        }
      // a truly fresh chunked-bootstrap stream starts below base; any
      // progress at all persists a floor, so the chunk list is only
      // computed while the base commit must be retained anyway
      if (chunked) bootstrapStart else base
    }
    admittedFloor = Some(v)
    v
  }

  private def ratchetFloor(to: Long): Unit = {
    // cache-first (only this source writes the file); the one uncached
    // read is a restart's first getBatch. Never goes through
    // readFloor() — the engine-provided batch end IS the position, so
    // no refusal/defaulting applies here.
    val cur = admittedFloor.orElse(readPersistedFloor())
    if (cur.forall(to > _)) {
      admittedFloor = Some(to)
      floorFile.foreach { f =>
        val fs = f.getFileSystem(conf)
        val tmp = new Path(f.getParent, s".${f.getName}.tmp")
        val out = fs.create(tmp, true)
        try out.write(s"$to\n".getBytes("UTF-8")) finally out.close()
        if (!fs.rename(tmp, f)) { // rename-over-existing: delete first
          fs.delete(f, false)
          fs.rename(tmp, f)
        }
      }
    } else if (admittedFloor.isEmpty) admittedFloor = cur
  }

  override def getOffset: Option[Offset] = {
    val floor = readFloor()
    if (chunked && floor < base)
      // bootstrap phase: admit exactly ONE snapshot chunk per trigger
      return Some(LongOffset(floor + 1))
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val listed = StateManifest.list(fs, root)
    val commits = listed.map(_._1)
    // a settled manifest comes from the StateManifest cache, so a capped
    // backlog drain reads each one once; one pruned since the listing
    // has an UNKNOWN cost (None), never a guessed one
    val statusOf = listed.toMap
    def manifestOf(id: Long): Option[StateManifest] =
      try Some(StateManifest.load(fs, root, id -> statusOf(id)))
      catch { case _: java.io.FileNotFoundException => None }
    val latest = if (commits.isEmpty) base else math.max(base, commits.max)
    if (maxCommitsPerTrigger.isEmpty && maxChangeRowsPerTrigger.isEmpty)
      Some(LongOffset(latest))
    else {
      // admit the next commits above the floor — counted as RETAINED
      // commits, not id arithmetic (ids can be sparse after withdrawn
      // publishes and orphan data dirs) — until either cap binds
      val pending = commits.filter(_ > floor)
      if (pending.isEmpty) Some(LongOffset(floor))
      else {
        val capped =
          pending.take(maxCommitsPerTrigger.getOrElse(Int.MaxValue))
        val end = maxChangeRowsPerTrigger match {
          case None => capped.last
          case Some(capR) =>
            // estimated batch cost of admitting commit c: the recorded
            // row counts of every bucket whose pointer moved between
            // the previous admitted manifest and c, on BOTH sides (the
            // diff reads pre- and post-image buckets). A bucket with
            // no recorded count, or an unreadable predecessor, costs
            // UNKNOWN — the loop admits that commit and stops, so a
            // table without zone-map stats degrades to one commit per
            // trigger, never an unbounded batch. The FIRST pending
            // commit is always admitted (progress guarantee).
            var prev = commits.filter(_ <= floor).lastOption.flatMap(manifestOf)
            var est = 0L
            var end = capped.head
            var i = 0
            var stop = false
            while (i < capped.size && !stop) {
              val cur = manifestOf(capped(i))
              val cost = GraftStateChangesSource.commitCost(prev, cur)
              val over = cost < 0 || est + cost > capR
              if (i == 0) { // progress guarantee: the first always lands
                end = capped(i); prev = cur; i += 1
                est = if (cost < 0) Long.MaxValue / 2 else cost
                stop = over
              } else if (over) stop = true
              else { est += cost; end = capped(i); prev = cur; i += 1 }
            }
            end
        }
        Some(LongOffset(math.max(end, floor)))
      }
    }
  }

  // the handle is read-only here: layout params beyond keyCols are
  // irrelevant to manifest-resolved reads
  private def table(): BucketedStateTable = {
    val layout = StateManifest.snapshot(conf, path).flatMap(_.layout)
      .getOrElse(throw new IllegalStateException(
        s"graft-state-changes at $path: manifest lost its layout lines"))
    // fromLayout (never-prune defaults for missing policy lines): this
    // handle is read-only today, but a future mutation through it must
    // not prune history the owner configured to keep
    BucketedStateTable.fromLayout(spark, path, layout)
  }

  /** Project to the PINNED shape by name, null-filling columns `df`
    * lacks: a restart after a widening can replay a pending batch whose
    * commit range predates the new column (offset logged, commit log
    * entry lost) — its narrow diff must flow under the re-derived wide
    * schema with null preimages, not crash-loop on an unresolved
    * column. The mid-stream mirror (wide diff, narrow pinned schema)
    * projects the extras away. */
  private def pinned(df: DataFrame): DataFrame =
    df.select(schema.fields.toIndexedSeq.map { f =>
      if (df.columns.contains(f.name)) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)

  private def emptyBatch: DataFrame =
    spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val from = start.map(toLong)
      .getOrElse(if (chunked) bootstrapStart else base)
    val to = toLong(end)
    // the engine has logged `end` — it IS the consumer's next position;
    // ratchet the admission floor so the next getOffset caps above it
    // (a replayed batch rewrites the same value, monotone either way)
    ratchetFloor(to)
    // the replica-bootstrap leg (Delta-CDF's startingVersion pattern):
    // the base commit's snapshot as `insert` rows — the WHOLE snapshot
    // in batch 0 by default, or only this batch's bucket chunks under
    // maxSnapshotBucketsPerTrigger (offsets below `base` walk the
    // chunk list; each batch reads ONLY its chunks' bucket dirs).
    // Replays are deterministic as long as the base commit is retained
    // (the lookup refuses loudly otherwise, the feed's standard
    // retention contract).
    val snapshotLeg: Option[DataFrame] =
      // `from < base` gates BOTH the leg and the lazy chunk-list
      // evaluation: a post-bootstrap batch must never consult the base
      // manifest again (it may legitimately have pruned by then —
      // only bootstrap-phase batches need it retained)
      if (chunked && from < base) {
        val lo = math.max(from, bootstrapStart)
        val hi = math.min(to, base)
        if (lo >= hi) None
        else {
          val buckets = ((lo - bootstrapStart) until (hi - bootstrapStart))
            .flatMap(i => snapshotChunks(i.toInt))
          // a file holding buckets of other chunks is read here for this
          // chunk's rows only, so no row is emitted twice
          val snap = bootstrapMeta._2.get
          val raw = BucketedStateTable.scanBuckets(spark,
            BucketedStateTable.filesOf(
              new Path(path).getFileSystem(conf), snap.locations(new Path(path), buckets)),
            snap.schema, bucketing = snap.bucketing)
          Some(pinned(raw
            .withColumn("change_type", lit("insert"))
            .withColumn("_commit_id", lit(base))))
        }
      } else if (start.isEmpty && initialSnapshot)
        table().readAt(base).map { snap =>
          pinned(snap
            .withColumn("change_type", lit("insert"))
            .withColumn("_commit_id", lit(base)))
        }
      else None
    val diffFrom = math.max(from, base)
    val diffLeg: Option[DataFrame] =
      if (diffFrom >= to) None
      else Some(pinned(
        table().changesBetween(diffFrom, to).withColumn("_commit_id", lit(to))))
    val batch = (snapshotLeg.toSeq ++ diffLeg.toSeq)
      .reduceOption(_ unionByName _).getOrElse(emptyBatch)
    asStreamingFrame(batch)
  }

  /** The V1 contract demands `isStreaming = true` batch frames, and the
    * ONLY constructor for one is the session's `private[sql]
    * internalCreateDataFrame` — public in bytecode (Scala package-private
    * is compile-time), reflective here because this library stays out of
    * Spark's packages by policy. `queryExecution.toRdd` keeps the diff's
    * join plan DISTRIBUTED and LAZY: nothing executes until the sink
    * consumes the batch, exactly like a planned DataFrame. */
  private def asStreamingFrame(df: DataFrame): DataFrame = {
    val m = spark.getClass.getMethod("internalCreateDataFrame",
      classOf[org.apache.spark.rdd.RDD[_]], classOf[StructType],
      java.lang.Boolean.TYPE)
    m.invoke(spark, df.queryExecution.toRdd, schema,
      java.lang.Boolean.TRUE).asInstanceOf[DataFrame]
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
