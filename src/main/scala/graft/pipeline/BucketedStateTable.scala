package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._

import graft.operators.StateOps

/** Key-bucketed parquet state table: rows live in `numBuckets` stable
  * hash buckets (`pmod(xxhash64(keyCols), numBuckets)`) and every
  * mutation rewrites ONLY the buckets its input batch touches — a 1,515-
  * record micro-batch merged into 100 TB of header state rewrites a few
  * buckets, not the table. This is the columnar answer to the
  * reference's row-level upsert, which touches only affected rows
  * (`PostgrePersistenceService.java:218-280`). It is the one file-backed
  * [[StateTable]]: a small table needs no other layout, since its
  * commits pack it into one file per write task, and a one-bucket table
  * (the harvest's checkpoint log, [[readLocal]] / [[updateLocal]])
  * commits one file in one Spark job.
  *
  * Layout (a minimal transactional-table commit log, the same shape a
  * format like Delta provides): `_commits/` holds one manifest per
  * commit — bucket -> the data commit and the file holding its rows —
  * and `data/c<N>/` the files a commit wrote: one per bucket, or, for a
  * table small enough that rewriting it whole costs less than the
  * files it saves, one per write task holding many buckets
  * ([[writeBuckets]]); [[StateManifest]] owns the manifest format and
  * the path convention.
  * A commit writes its dirty buckets' new contents as files at their
  * final paths in one `data/c<N>` directory ([[BucketWriter]]), then
  * publishes atomically by renaming a temp manifest into `_commits/` —
  * the rename is the only commit step. Readers resolve the newest
  * manifest and open exactly the files it names, without a listing, so
  * a crash mid-write leaves an unreferenced orphan (pruned later) and
  * never a torn state.
  *
  * Sizing at 100 TB: pick `numBuckets ≈ stateBytes / targetBucketBytes`
  * with a 1-16 GB target bucket (e.g. 16,384 buckets for 100 TB at
  * ~6 GB), so a merge's write amplification is bounded by
  * `dirtyBuckets * bucketSize` and a single bucket rewrite is one
  * healthy task-set. The bucket count is fixed at table creation (it
  * defines the layout); growing it is a full rewrite, as with any
  * hash-bucketed table — but a table that outgrows its layout has two
  * verbs: [[splitBuckets]] (B → B·factor) records the parent→children
  * mapping so the change feed, time travel, and CDC replicas keep
  * working ACROSS the boundary, while [[rebucket]] (arbitrary count)
  * truncates history by design.
  *
  * Concurrency: writers to the same path serialize on a JVM-wide
  * per-path lock (in-process) and on a create-if-absent FILESYSTEM
  * LEASE (`_lease` under the table root) across processes — a second
  * process's writer WAITS for the lease instead of living in
  * `ConcurrentModificationException` retry loops (the prevention the
  * reference gets from PostgreSQL transactions,
  * `PostgrePersistenceService.java:227-252`). A lease older than
  * `leaseStaleMillis` is presumed crashed and taken over. The
  * detect-and-withdraw check in [[writeManifest]] stays as
  * defense-in-depth: `create(overwrite=false)` is atomic on HDFS and
  * object stores with conditional-put, but only best-effort on the
  * local filesystem.
  *
  * The lease protocol lives in [[WriterLease]] over a pluggable
  * conditional-write [[LeaseStore]]: inject a real value-CAS
  * (`leaseStore =` an [[InMemoryCasStore]]-shaped adapter — S3
  * If-Match, GCS generation preconditions, etcd) and every transition
  * (stale-break takeover, heartbeat, release) is FULLY fenced — the
  * interleavings the contention spec forces clock-driven in
  * `WriterLeaseSpec`. The default [[HadoopLeaseStore]] is a true
  * version-election CAS on HDFS-style stores (the [[VersionedSlotStore]]
  * layout — no transition passes through an observable ABSENT slot)
  * and keeps only the local filesystem's read-compare-write windows
  * (`tryCreate`, atomic publication, and the tombstone-rename
  * election are the local path's strongest primitives).
  * CORRECTNESS never rests on the lease either way: even with two
  * live writers, the manifest `basedOn` conflict check in
  * [[writeManifest]] makes the loser's publish fail (or rebase, when
  * bucket-disjoint) — the lease only converts retry storms into
  * waiting. Lease-blind concurrency additionally requires a POSITIVE
  * `retentionFloorMillis`: a zero floor reaps unreferenced data
  * instantly, so a concurrent prune can race an in-flight publish's
  * adoption of its own (still-orphan) data directory — condemn-then-
  * reap plus the un-condemn pass close that window, but only the
  * floor gives them time to act. A transactional format
  * (Delta/Iceberg) is the production answer where available; this
  * lease gives plain parquet the same single-writer discipline.
  */
class BucketedStateTable(
    spark: SparkSession,
    path: String,
    keyCols: Seq[String],
    numBuckets: Int = 64,
    keepCommits: Int = 3,
    retentionFloorMillis: Long = 10 * 60 * 1000L,
    bucketCols: Seq[String] = Nil,
    leaseStaleMillis: Long = 60_000L,
    leaseAcquireTimeoutMillis: Long = 10 * 60 * 1000L,
    // the conditional-write primitive the writer lease runs on: inject
    // a real CAS ([[InMemoryCasStore]]-shaped; S3 If-Match / GCS
    // generation / etcd on a real deployment) to close the
    // stale-takeover race FULLY; None = the filesystem slot with its
    // documented best-effort windows
    leaseStore: Option[LeaseStore] = None,
    // columns to record per-bucket ZONE MAPS for (min/max/null-count in
    // the manifest, see [[ZoneMaps]]): [[readWhere]] and the DSv2 scan
    // skip whole buckets a pushed predicate cannot match. Opt-in
    // because stats cost one extra column-pruned pass over each
    // commit's dirty buckets — and they only prune when the column's
    // values CLUSTER by bucket. Row/byte counts ride along and feed
    // scan-size estimates. Nil (default) = no stats job, no lines.
    statsCols: Seq[String] = Nil) extends StateTable {

  import BucketedStateTable.WritePlan

  require(keyCols.nonEmpty, "BucketedStateTable needs at least one key column")
  require(numBuckets > 0, "numBuckets must be positive")
  require(bucketCols.forall(keyCols.contains),
    s"bucketCols $bucketCols must be a subset of keyCols $keyCols")
  // Layout column names are a PERSISTENT contract (manifest lines,
  // bucket hashing, dirty-bucket probes, the delta feed) built through
  // many string-composed column refs AND a comma-joined newline-
  // terminated manifest encoding: a dot or backtick mis-parses as a
  // nested-field path (or breaks quoting), and a comma/newline/CR
  // makes the manifest's `keyCols=a,b` line parse back as the WRONG
  // layout (Seq("a,b") and Seq("a","b") are indistinguishable) —
  // refuse loudly at construction instead of half-working. Payload
  // columns may be named anything; StateOps' pure transforms quote
  // caller names and accept dots.
  private val LayoutUnsafe = Seq('.', '`', ',', '\n', '\r')
  (keyCols ++ bucketCols ++ statsCols).find(c =>
    c.exists(LayoutUnsafe.contains)).foreach { c =>
    throw new IllegalArgumentException(
      s"BucketedStateTable at $path: layout column `$c` contains a " +
        "dot, backtick, comma, or line break — rename the key/bucket/" +
        "stats column (quote- or manifest-hazardous names are refused " +
        "for the persistent layout)")
  }

  /** Columns rows are BUCKETED by — defaults to the full key. A proper
    * subset makes the table an index: rows stay unique per `keyCols`
    * but co-locate by the prefix, so a probe that knows only the prefix
    * (e.g. an LSH (band, band_hash) lookup that cannot know which
    * doc_ids it will find) is still bucket-pruned via [[readForKeys]]. */
  private val effBucketCols: Seq[String] =
    if (bucketCols.isEmpty) keyCols else bucketCols

  /** What one commit touched — the spec's evidence that mutations are
    * bucket-pruned. `bucketsRead` is the dirty set the mutation probed,
    * `bucketsWritten` every bucket the commit wrote (a packed commit
    * writes every live bucket), `filesWritten` the data files it
    * created and `packed` whether it wrote one file per write task
    * instead of one per bucket (see [[writeBuckets]]). `rebases`
    * counts how many times the publish was rebased onto a
    * concurrent-but-bucket-disjoint commit (0 on the uncontended path):
    * the spec's evidence that disjoint writers land without
    * retry-from-scratch. */
  case class CommitStats(
      commitId: Long, bucketsRead: Seq[Int], bucketsWritten: Seq[Int],
      rebases: Int = 0, filesWritten: Int = 0, packed: Boolean = false)

  @volatile private var last: Option[CommitStats] = None
  /** Stats of the most recent commit through this instance. */
  def lastCommit: Option[CommitStats] = last

  private val BucketCol = StateManifest.BucketCol
  private def root = new Path(path)
  private def fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private lazy val lockKey =
    "bucketed:" + fs.makeQualified(root).toUri.toString

  private def bucketOf = bucketIn(numBuckets)

  private def bucketIn(layout: Int) =
    BucketedStateTable.bucketExpr(effBucketCols, layout)

  // ---- writer lease (cross-process single-writer discipline) --------

  private def leasePath = new Path(root, "_lease")
  private val leasePollMillis = 50L
  // reentrancy: mergeOnceForBatch -> merge must not re-acquire (the
  // file lease, unlike the JVM monitor, is not reentrant by itself)
  private val leaseDepth = new ThreadLocal[Integer] {
    override def initialValue: Integer = 0
  }
  // The holder's heartbeat thread (at most one live: mutations are
  // serialized per table path by the JVM lock before withLease).
  // Termination rides on a PER-GENERATION stop token, not the
  // interrupt alone: an interrupt landing inside a filesystem write
  // can surface as InterruptedIOException (an IOException) and be
  // absorbed by the retry arm with the interrupt status consumed — a
  // zombie heartbeat would then recreate the deleted lease forever. A
  // shared flag would be just as bad one step later: the NEXT
  // mutation's start would reset it and revive a join-timeout zombie.
  // With its own token, a straggler that outlives join(2000) can
  // recreate the lease at most once (its in-flight write) — the old
  // mtime then ages past staleness and the next writer breaks it.
  @volatile private var heartbeat:
    Option[(Thread, java.util.concurrent.atomic.AtomicBoolean)] = None

  /** The conditional-write primitive the lease runs on and the
    * protocol over it ([[WriterLease]] owns acquire / fenced beat /
    * fenced release; with an injected CAS store every transition is
    * fully fenced — the FS slot keeps the documented best-effort
    * windows). */
  private lazy val leaseProtocol = new WriterLease(
    leaseStore.getOrElse(new HadoopLeaseStore(fs, leasePath)),
    s"table at $path", leaseStaleMillis, leaseAcquireTimeoutMillis,
    leasePollMillis)

  /** Refresh the lease every staleMillis/3 while the holder is alive,
    * so staleness observed by a waiter really means "holder crashed" —
    * without this, any commit outlasting `leaseStaleMillis` (routine
    * for a large bucket rewrite) looks identical to a crash and a
    * waiter breaks the lease MID-WRITE, producing exactly the
    * double-writer interleaving the lease exists to prevent. The beat
    * is FENCED inside [[WriterLease.Handle.beat]]: it can only refresh
    * the value this holder last wrote — a usurped holder stops beating
    * (its in-flight commit still ends at the manifest conflict
    * check). */
  private def startHeartbeat(handle: WriterLease#Handle): Unit = {
    val period = math.max(leaseStaleMillis / 3, 10L)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val t = new Thread({ () =>
      while (!stop.get) {
        try {
          Thread.sleep(period)
          if (!stop.get && !handle.beat()) stop.set(true)
        } catch {
          case _: InterruptedException => () // loop condition decides
          case _: java.io.IOException => () // transient; retry next beat
        }
      }
    }: Runnable, s"graft-lease-heartbeat-${root.getName}")
    t.setDaemon(true)
    t.start()
    heartbeat = Some((t, stop))
  }

  private def stopHeartbeat(): Unit = {
    heartbeat.foreach { case (t, stop) =>
      stop.set(true); t.interrupt(); t.join(2000)
    }
    heartbeat = None
  }

  private def withLease[T](body: => T): T =
    if (leaseDepth.get > 0) body
    else {
      val holder = java.lang.management.ManagementFactory
        .getRuntimeMXBean.getName + "#" + Thread.currentThread().getId +
        "#" + java.util.UUID.randomUUID()
      val handle = leaseProtocol.acquire(holder)
      startHeartbeat(handle)
      leaseDepth.set(1)
      try body finally {
        leaseDepth.set(0)
        stopHeartbeat()
        // FENCED release ([[WriterLease.Handle.release]]): deletes only
        // this holder's own value — after a stale takeover, the old
        // holder's release cannot delete the NEW holder's live lease.
        // A residual unowned file ages past staleness and the next
        // waiter breaks it.
        try handle.release()
        catch { case _: java.io.IOException => () }
      }
    }

  // ---- manifest -----------------------------------------------------
  // The format, the path convention and the cached read live in
  // [[StateManifest]]; this handle adds its layout check and the
  // conflict-checked publish.

  /** A manifest carrying this handle's layout and retention lines. */
  private def manifest(id: Long, buckets: Map[Int, Long],
      files: Map[Int, StateManifest.DataFile],
      schemaJson: Option[String], bucketStats: Map[Int, String] = Map.empty,
      layout: Int = numBuckets, splitFactor: Option[Int] = None,
      splitBasedOn: Option[Long] = None): StateManifest =
    StateManifest(id, Some(layout), Some(effBucketCols), Some(keyCols),
      Some(keepCommits), Some(retentionFloorMillis), splitFactor,
      splitBasedOn, statsCols, schemaJson, bucketStats, buckets, files)

  /** The bucket count `m` was written under (a manifest predating the
    * `numBuckets=` line: this handle's). */
  private def layoutOf(m: StateManifest): Int = m.numBuckets.getOrElse(numBuckets)

  private def manifestFiles(): Seq[(Long, org.apache.hadoop.fs.FileStatus)] =
    StateManifest.list(fs, root)

  /** `checkLayout = false` is for liveness bookkeeping only ([[prune]]
    * needs the commit ids an old-layout manifest still references, e.g.
    * right after a [[rebucket]], without resolving its data) — every
    * data-reading path keeps the check. */
  private def readManifest(listed: (Long, org.apache.hadoop.fs.FileStatus),
      checkLayout: Boolean = true): StateManifest = {
    val m = StateManifest.load(fs, root, listed)
    // the bucket count DEFINES the layout: opening an existing table
    // with a different numBuckets would hash keys into the wrong
    // buckets and silently corrupt merges — refuse instead
    if (checkLayout) m.numBuckets.foreach { n =>
      require(n == numBuckets,
        s"table at $path is laid out with numBuckets=$n; this instance " +
          s"was constructed with numBuckets=$numBuckets — re-bucketing " +
          "requires a full rewrite into a new table")
    }
    // the bucketing COLUMNS equally define the layout. Unlike the
    // bucket COUNT (which checkLayout=false relaxes so liveness
    // bookkeeping and the cross-split change feed can read
    // old-layout manifests), the column identity is checked
    // unconditionally: no legitimate history ever changes it, and a
    // relaxed read joining/hashing on the wrong columns would be
    // silently wrong rather than merely refused.
    m.bucketCols.foreach { bc =>
      require(bc == effBucketCols,
        s"table at $path is bucketed by [${bc.mkString(",")}]; this " +
          s"instance buckets by [${effBucketCols.mkString(",")}] — " +
          "re-bucketing requires a full rewrite into a new table")
    }
    // and the merge KEY: an instance keyed differently would merge with
    // the wrong uniqueness and silently duplicate or collapse rows
    m.keyCols.foreach { kc =>
      require(kc == keyCols,
        s"table at $path is keyed by [${kc.mkString(",")}]; this instance " +
          s"is keyed by [${keyCols.mkString(",")}]")
    }
    m
  }

  private def currentManifest(): Option[StateManifest] =
    manifestFiles().lastOption.map(readManifest(_))

  /** Publish with optimistic cross-process conflict detection. The JVM
    * per-path lock serializes THIS process's writers; a second process
    * could still interleave (read manifest N → both commit) and one
    * writer's bucket pointers would silently vanish from the other's
    * manifest — the lost update the reference prevents with database
    * transactions. So: verify `basedOn` is still the newest manifest
    * immediately before the rename, and again after — if a manifest
    * appeared in between, withdraw OUR manifest (the state reverts to
    * the competing commit, which is consistent) and fail loudly for the
    * caller to retry. Detection, not prevention: the window shrinks to
    * the rename itself; full prevention needs a filesystem lease or a
    * transactional table format. [[commit]] layers LOGICAL conflict
    * resolution on top: a withdrawn data commit whose dirty-bucket set
    * is disjoint from every intervening commit's rewritten set rebases
    * onto the new head and republishes instead of failing — only true
    * overlaps (and layout/schema changes) reach the caller. */
  private def writeManifest(m: StateManifest, basedOn: Long): Unit = {
    // `create` makes the missing `_commits/` itself
    val tmp = StateManifest.tempManifestPath(root, m.commitId)
    val out = fs.create(tmp, true)
    try out.write(m.render.getBytes("UTF-8")) finally out.close()
    def latestId: Long = manifestFiles().lastOption.map(_._1).getOrElse(0L)
    if (latestId != basedOn) {
      fs.delete(tmp, false)
      throw new java.util.ConcurrentModificationException(
        s"commit ${m.commitId} was based on manifest $basedOn but $latestId " +
          "is now newest — a concurrent writer committed first; retry the mutation")
    }
    val dest = StateManifest.manifestPath(root, m.commitId)
    if (!fs.rename(tmp, dest)) {
      // a concurrent writer published the SAME id first — a race like
      // any other: surface it as one so the caller's rebase/retry
      // protocol applies uniformly
      fs.delete(tmp, false)
      throw new java.util.ConcurrentModificationException(
        s"commit ${m.commitId} lost a publish race at $dest; retry the mutation")
    }
    val intervening = manifestFiles().map(_._1)
      .filter(id => id > basedOn && id < m.commitId)
    if (intervening.nonEmpty) {
      fs.delete(dest, false) // withdraw: the intervening commit stays current
      throw new java.util.ConcurrentModificationException(
        s"commit ${m.commitId} raced concurrent commit(s) " +
          s"${intervening.mkString(",")} and was withdrawn; retry the mutation")
    }
  }

  /** Next commit id must clear BOTH published manifests and orphan data
    * dirs from crashed writes, or a replayed writer would collide on
    * `errorifexists`. */
  private def nextCommitId(): Long = {
    val fromManifests = manifestFiles().lastOption.map(_._1).getOrElse(0L)
    val dataDir = StateManifest.dataDir(root)
    val fromData =
      if (!fs.exists(dataDir)) 0L
      else fs.listStatus(dataDir).toSeq
        .flatMap(s => StateManifest.dataCommitOf(s.getPath.getName))
        .maxOption.getOrElse(0L)
    math.max(fromManifests, fromData) + 1
  }

  // ---- reads --------------------------------------------------------

  private def readFrom(m: StateManifest, buckets: Seq[Int]): Option[DataFrame] =
    readSized(m, buckets)._1

  /** [[readFrom]] plus the on-disk bytes of the buckets it read, which
    * the manifest records and [[writeBuckets]] sizes its task count by. */
  private def readSized(m: StateManifest,
      buckets: Seq[Int]): (Option[DataFrame], Long) = {
    val listed = BucketedStateTable.filesOf(fs, m.locations(root, buckets))
    // Read under the manifest's RECORDED schema when it carries one:
    // after a widening merge or [[widenTo]], clean buckets still hold
    // files written under the narrower pre-widening shape, and the
    // explicit schema null-fills their missing columns
    // deterministically (the footer-sampled default would make the
    // result shape depend on which file the reader samples).
    // [[readAt]] passes the OLD manifest, so time travel keeps the
    // snapshot's contemporary schema.
    (if (listed.isEmpty) None
     else Some(BucketedStateTable.scanBuckets(spark, listed, m.schema,
       bucketing = m.bucketing)),
      listed.map(_.bytes).sum)
  }

  // shared widening contract — one meaning of ADD COLUMN across all
  // StateTable implementations (StateOps owns the check + null-fill)
  private def widenCheck(from: org.apache.spark.sql.types.StructType,
      to: org.apache.spark.sql.types.StructType, what: String): Unit =
    StateOps.widenCheck(from, to, s"$what at $path")

  private def alignTo(df: DataFrame, target: org.apache.spark.sql.types.StructType,
      what: String): DataFrame =
    StateOps.alignForWidening(df, target, s"$what at $path")

  /** Aligns the (current, updates) pair for a keyed mutation so BOTH
    * directions of schema drift ride safely. Updates same-or-wider
    * than the stored shape: current rows align up (null-filled) and
    * the commit records the widened schema — ADD COLUMN as an ordinary
    * merge. Updates NARROWER than the stored shape — a not-yet-
    * redeployed writer still merging the pre-[[widenTo]] shape — is
    * the JDBC twin's documented contract ([[JdbcStateTable.widenTo]]):
    * the writer updates the columns it KNOWS, and columns it doesn't
    * know keep the matched current row's value (null for genuinely new
    * keys) — never a crash-loop, and never a silent null-overwrite of
    * freshly migrated data. The preserve join touches only the already-
    * read dirty-bucket rows (current keys are unique, so it cannot
    * multiply update rows); retypes/renames refuse inside alignTo
    * either way. */
  private def alignPair(cur0: DataFrame, updates: DataFrame,
      keys: Seq[String], what: String): (DataFrame, DataFrame) =
    StateOps.alignPairForMerge(cur0, updates, keys, s"$what at $path")

  /** An empty frame under `m`'s recorded schema, if it records one. */
  private def emptyUnder(m: StateManifest): Option[DataFrame] =
    m.schema.map(spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), _))

  override def read(): Option[DataFrame] =
    currentManifest().flatMap { m =>
      readFrom(m, m.buckets.keys.toSeq)
        // trait contract: a committed-but-EMPTY (drained) table reads as
        // Some(empty) under its recorded schema, uniformly with the
        // parquet/JDBC twins — None is reserved for never-created. Only
        // manifests predating the recorded-schema line (no shape to present)
        // still fall through to None.
        .orElse(emptyUnder(m))
    }

  /** Ids of the currently-retained commits, oldest → newest — the
    * snapshots [[readAt]] can still resolve ([[prune]] keeps
    * `keepCommits` manifests plus whatever the retention floor
    * shields). Exception: right after a [[rebucket]], PRE-rebucket ids
    * may linger inside the retention floor but refuse [[readAt]] —
    * audit loops should skip ids below the rebucket commit or catch
    * the refusal. (Pre-[[splitBuckets]] ids resolve normally: a split
    * chain keeps history readable.) */
  def commits(): Seq[Long] = manifestFiles().map(_._1)

  /** Time-travel read: the whole table AS OF `commitId`, resolved from
    * that commit's manifest exactly as a contemporary reader would have
    * — the debugging/audit affordance a transactional commit log buys.
    * Throws if the commit has been pruned; `None` for a commit that
    * published an empty table. */
  def readAt(commitId: Long): Option[DataFrame] = {
    val m = manifestForDiff(commitId)
    // time travel works ACROSS a splitBuckets chain (the old manifest's
    // pointers still resolve their data dirs — the layout only governs
    // where MUTATIONS hash); an arbitrary rebucket still truncates
    // history by design, matching the SQL VERSION AS OF face
    if (layoutOf(m) != numBuckets)
      require(layoutChains(m, currentCommitIdOrZero(), numBuckets),
        s"commit $commitId at $path predates a rebucket " +
          s"(${layoutOf(m)} -> $numBuckets buckets, not a " +
          "splitBuckets chain) — history truncates at an arbitrary " +
          "relayout; re-snapshot from a post-rebucket commit")
    readFrom(m, m.buckets.keys.toSeq)
  }

  private def currentCommitIdOrZero(): Long =
    manifestFiles().lastOption.map(_._1).getOrElse(0L)

  /** The relayout (split/coalesce) manifests in `(fromId, toId]`,
    * oldest first. Every [[changesBetween]] runs this probe over its
    * whole commit range; settled manifests come from the
    * [[StateManifest]] cache, so it is a lookup, not a read per
    * manifest (an object store pays a GET per read). */
  private def splitsIn(fromId: Long, toId: Long): Seq[StateManifest] =
    manifestFiles()
      .filter { case (id, _) => id > fromId && id <= toId }
      .map(readManifest(_, checkLayout = false))
      .filter(_.splitFactor.isDefined)

  /** True iff `mOld`'s layout chains into `toBuckets` through the
    * recorded relayout factors between it and `toId` — a SIGNED factor
    * chain: `splitFactor = f ≥ 2` multiplies ([[splitBuckets]]),
    * `splitFactor = -f` divides ([[coalesceBuckets]], the recorded
    * inverse). Mixed chains (grow then shrink and back) verify
    * step-by-step. */
  private def layoutChains(mOld: StateManifest, toId: Long, toBuckets: Int): Boolean = {
    val chained = splitsIn(mOld.commitId, toId)
      .foldLeft(Option(layoutOf(mOld))) {
        case (Some(l), s) if s.splitFactor.exists(f =>
            (f >= 2 && layoutOf(s) == l * f) ||
            (f <= -2 && l % -f == 0 && layoutOf(s) == l / -f)) =>
          Some(layoutOf(s))
        case _ => None
      }
    chained.contains(toBuckets)
  }

  /** Manifest resolution for a change-feed endpoint: layout-version
    * TOLERANT (a pre-[[splitBuckets]] manifest must stay diffable
    * through the current handle — [[changedAcrossSplits]] owns the
    * cross-layout mapping), with the key/bucket-column identity —
    * which no split ever changes — still enforced. */
  private def manifestForDiff(commitId: Long): StateManifest = {
    val listed = manifestFiles().find(_._1 == commitId)
      .getOrElse(throw new NoSuchElementException(
        s"commit $commitId is not retained at $path " +
          s"(retained: ${commits().mkString(", ")})"))
    readManifest(listed, checkLayout = false)
  }

  /** Remap a touched-bucket set across one recorded layout change.
    * Growing (`toL = fromL·f`): a bucket `t`'s rows land in exactly the
    * children `b` with `b mod fromL = t` (`(n mod L·f) mod L = n mod
    * L`). Shrinking (`toL = fromL/f`): all of `t`'s rows land in the
    * ONE parent `t mod toL`. The same function also computes stepwise
    * PREIMAGES (walked in reverse), because the row-containment
    * relation between two adjacent layouts is symmetric in `mod`. */
  private def mapBuckets(set: Set[Int], fromL: Int, toL: Int): Set[Int] =
    if (toL == fromL) set
    else if (toL > fromL) (0 until toL).filter(b => set.contains(b % fromL)).toSet
    else set.map(_ % toL)

  /** Changed buckets for a diff range crossing one or more recorded
    * relayout boundaries ([[splitBuckets]] / [[coalesceBuckets]] — a
    * SIGNED factor chain), as `(changed in the TO layout, the FROM-
    * layout buckets holding those rows)`. The range decomposes into
    * constant-layout segments — (from → relayout₁'s base), (relayout₁ →
    * relayout₂'s base), …, (relayoutₖ → to) — the ordinary manifest
    * pointer-compare finds each segment's touched buckets, and the
    * accumulated set remaps through every boundary ([[mapBuckets]]), so
    * pruning survives arbitrarily mixed grow/shrink chains: unchanged
    * data is never read. The from-side read set is the stepwise
    * PREIMAGE of the changed set walked back through the same layouts
    * (endpoint layouts need not divide each other once a chain mixes
    * directions, so a direct `mod` between them would be wrong). An
    * arbitrary [[rebucket]] in the range (layouts that don't chain by
    * the recorded factors) refuses with the reseed recipe — that path
    * truncates feed history by design. */
  private def changedAcrossSplits(mFrom: StateManifest, mTo: StateManifest): (Seq[Int], Seq[Int]) = {
    val splits = splitsIn(mFrom.commitId, mTo.commitId)
    if (splits.isEmpty ||
        !layoutChains(mFrom, mTo.commitId, layoutOf(mTo)))
      throw new IllegalStateException(
        s"changesBetween(${mFrom.commitId}, ${mTo.commitId}) at $path " +
          s"crosses a layout change (${layoutOf(mFrom)} -> " +
          s"${layoutOf(mTo)} buckets) that is not a " +
          "splitBuckets/coalesceBuckets chain — an arbitrary rebucket " +
          "truncates feed history by design. Reseed the consumer: " +
          "restart the stream " +
          "with a FRESH checkpoint and option(\"initialSnapshot\", " +
          "\"true\") (plus startingCommit=<a post-rebucket commit> to " +
          "pin the base) to bootstrap from the post-rebucket snapshot " +
          "and tail from there")
    val starts = mFrom +: splits
    val ends = splits.map(s => manifestForDiff(s.splitBasedOn.get)) :+ mTo
    // forward pass: per-segment pointer diffs, the accumulated set
    // remapped at each boundary (a and b bound one constant-layout
    // segment — relayout manifests snapshot their base, so a
    // relayout's own segment edge is exact)
    var cur = Set.empty[Int]
    var curLayout = layoutOf(mFrom)
    starts.zip(ends).foreach { case (a, b) =>
      if (layoutOf(a) != curLayout) {
        cur = mapBuckets(cur, curLayout, layoutOf(a))
        curLayout = layoutOf(a)
      }
      cur ++= (a.buckets.keySet ++ b.buckets.keySet)
        .filter(x => a.buckets.get(x) != b.buckets.get(x))
    }
    // backward pass: stepwise preimage of the changed set down to the
    // FROM layout — the buckets whose old rows the diff must read
    val layouts = starts.map(layoutOf)
    var pre: Set[Int] = cur
    layouts.indices.reverse.drop(1).foreach { i =>
      pre = mapBuckets(pre, layouts(i + 1), layouts(i))
    }
    (cur.toSeq.sorted, pre.toSeq.sorted)
  }

  /** Change feed between two retained commits: the NET row-level
    * changes a consumer must apply to move from the `fromCommit`
    * snapshot to the `toCommit` one, as
    * `(change_type, <row columns>)` with `change_type` one of
    * `insert` / `delete` / `update_preimage` / `update_postimage`
    * (an updated key emits both images, Delta-CDF style). Endpoint
    * semantics: a row inserted and deleted again between the two
    * commits does not appear; per-commit CDC is this method over
    * consecutive [[commits]] ids.
    *
    * Bucket-pruned by the manifests themselves: a bucket whose commit
    * pointer is IDENTICAL in both manifests cannot have changed and is
    * skipped without reading a byte (`df.inputFiles` is the spec's
    * evidence), so diffing a 100 TB table after a small merge reads the
    * few rewritten buckets twice, never the table. The changed buckets
    * join on the full key (null-safe) — both sides shuffle only
    * changed-bucket rows, and the classification is one codegen'd
    * projection (no per-leg re-read of the join).
    *
    * The range may cross one or more [[splitBuckets]] /
    * [[coalesceBuckets]] boundaries: the recorded signed factor chain
    * decomposes it into constant-layout segments whose pointer diffs
    * remap across each boundary — parent→children on a split, children
    * →parent on a coalesce ([[changedAcrossSplits]]) — so pruning, and
    * every consumer tailing the feed, survives a relayout in either
    * direction; the relayout itself is a pure rewrite and contributes
    * zero net rows. Only an arbitrary [[rebucket]] in the range
    * refuses (with the snapshot-reseed recipe), because that path
    * truncates history by design.
    *
    * SQL access rides a view:
    * `t.changesBetween(3, 7).createOrReplaceTempView("t_changes")`. */
  def changesBetween(fromCommit: Long, toCommit: Long): DataFrame = {
    require(fromCommit <= toCommit,
      s"changesBetween wants fromCommit <= toCommit, got $fromCommit > $toCommit")
    val mFrom = manifestForDiff(fromCommit)
    val mTo = manifestForDiff(toCommit)
    // the TO manifest's RECORDED schema is authoritative for the diff's
    // shape — falling back to the from-side's data first would emit a
    // widen-then-drain range (empty to-snapshot) under the stale narrow
    // shape, dropping the widened column from the delete preimages
    val rowSchema: org.apache.spark.sql.types.StructType =
      mTo.schema
        .orElse(readFrom(mTo, mTo.buckets.keys.toSeq).map(_.schema))
        .orElse(mFrom.schema)
        .orElse(readFrom(mFrom, mFrom.buckets.keys.toSeq).map(_.schema))
        .getOrElse(throw new IllegalStateException(
          s"table at $path has neither data nor a recorded schema at " +
            s"commits $fromCommit/$toCommit"))
    val empty = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), rowSchema)
    val sameLayout = layoutOf(mFrom) == layoutOf(mTo)
    // The pointer-compare fast path gates on NO RELAYOUT IN THE RANGE,
    // not on endpoint layout equality: a split+coalesce round trip
    // (8→16→8) has equal endpoints but rewrote every bucket twice, so
    // the plain pointer diff would mark ALL buckets changed and read
    // the whole table to net out nothing — the segment walk instead
    // sees the relayout rewrites as segment EDGES (zero contribution)
    // and keeps the diff pruned to the genuinely touched buckets.
    val walked = splitsIn(mFrom.commitId, mTo.commitId).nonEmpty || !sameLayout
    val (changed: Seq[Int], fromBuckets: Seq[Int]) =
      if (!walked) {
        val c = (mFrom.buckets.keySet ++ mTo.buckets.keySet).toSeq
          .filter(b => mFrom.buckets.get(b) != mTo.buckets.get(b)).sorted
        // one layout: the from-side buckets ARE the changed buckets
        (c, c)
      } else changedAcrossSplits(mFrom, mTo)
    val cols = rowSchema.fieldNames.toSeq
    val dataCols = cols.filterNot(keyCols.contains)
    // across a WIDENING boundary the from-side reads under its own
    // (narrower) contemporary schema and aligns up: an old row whose
    // new column gained a value diffs as an update with a null-column
    // preimage — exactly what a consumer must apply
    val oldRaw = readFrom(mFrom, fromBuckets).getOrElse(empty)
    // under a relayout chain a from-side bucket can also hold rows of
    // UNCHANGED to-side buckets (not read on the to-side) — without
    // this filter each would surface as a phantom delete
    val oldScoped =
      if (!walked) oldRaw
      else oldRaw.filter(bucketIn(layoutOf(mTo))
        .isin(changed.map(Integer.valueOf): _*))
    val oldDf = alignTo(oldScoped, rowSchema, "changesBetween")
      .withColumn("__in_old", lit(true))
    val newDf = readFrom(mTo, changed).getOrElse(empty)
      .withColumn("__in_new", lit(true))
    // NULL-SAFE key join (<=>), not a USING join: mergeByKey's window
    // treats null keys as equal, so the table can legitimately hold a
    // null-keyed row — a plain-equality full outer would never match it
    // to itself and every rewrite of its bucket would emit a phantom
    // delete+insert pair. Keys coalesce from whichever side is present
    // (a legitimately-null key stays null on both).
    val oldPre = oldDf
      .select((keyCols.map(c => col(c).as(s"__old_k_$c")) :+ col("__in_old")) ++
        dataCols.map(c => col(c).as(s"__old_$c")): _*)
    val newPre = newDf
      .select((keyCols.map(c => col(c).as(s"__new_k_$c")) :+ col("__in_new")) ++
        dataCols.map(col): _*)
    val joined = oldPre
      .join(newPre,
        keyCols.map(c => col(s"__old_k_$c") <=> col(s"__new_k_$c")).reduce(_ && _),
        "full_outer")
      .select(
        keyCols.map(c =>
          coalesce(col(s"__new_k_$c"), col(s"__old_k_$c")).as(c)) ++
          Seq(col("__in_old"), col("__in_new")) ++
          dataCols.map(col) ++ dataCols.map(c => col(s"__old_$c")): _*)
    val differs =
      if (dataCols.isEmpty) lit(false)
      else dataCols.map(c => !(col(c) <=> col(s"__old_$c"))).reduce(_ || _)
    def img(tpe: String, of: String => org.apache.spark.sql.Column) =
      struct(lit(tpe).as("change_type") +:
        cols.map(c => of(c).as(c)): _*)
    val oldImg: String => org.apache.spark.sql.Column =
      c => if (keyCols.contains(c)) col(c) else col(s"__old_$c")
    val newImg: String => org.apache.spark.sql.Column = col(_)
    // one pass over the join: each row explodes into its 0/1/2 changes
    val changes = when(col("__in_old").isNull,
        array(img("insert", newImg)))
      .when(col("__in_new").isNull,
        array(img("delete", oldImg)))
      .when(differs,
        array(img("update_preimage", oldImg), img("update_postimage", newImg)))
      .otherwise(array().cast(
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StructType(
            org.apache.spark.sql.types.StructField("change_type",
              org.apache.spark.sql.types.StringType, nullable = false) +:
              rowSchema.fields.toSeq))))
    joined.select(explode(changes).as("__ch")).select(col("__ch.*"))
  }

  override def readOrEmpty(like: DataFrame): DataFrame =
    read().getOrElse(like.limit(0))

  /** The current rows of the buckets a commit dirtying `dirty` writes
    * ([[planWrite]]: the dirty set, its closure or the whole table),
    * the manifest the read RESOLVED — the mutation's plan-time base —
    * and the write's plan. [[commit]] conditions its publish on
    * exactly this manifest, so the conflict check covers the whole
    * mutation window (plan → publish), not just the publish itself: a
    * foreign commit landing anywhere inside it is either rebased over
    * (bucket-disjoint) or withdrawn from (overlapping), never silently
    * overwritten with rows merged against its predecessor's content.
    * Rows of a written bucket outside `dirty` meet no update, so every
    * mutation carries them over unchanged. */
  private def readBucketsWithBase(dirty: Seq[Int],
      like: DataFrame): (DataFrame, Option[StateManifest], WritePlan) =
    currentManifest() match {
      case None => (like.limit(0), None, planWrite(None, dirty))
      case Some(m) =>
        // an empty slice of an EXISTING table shapes from the
        // manifest's RECORDED schema, not from `like`: a post-widenTo
        // narrow writer whose dirty buckets are all empty would
        // otherwise present a narrow "current" to the merge alignment
        // and the commit would record the narrow schema — silently
        // dropping the freshly widened column from every later read.
        // `like` only shapes a pre-schema-line manifest's fallback.
        val written = planWrite(Some(m), dirty)
        val (read, bytes) = readSized(m, written.buckets)
        val df = read.orElse(emptyUnder(m)).getOrElse(like.limit(0))
        (df, Some(m),
          if (written.packing != BucketWriter.PerBucket) written
          else written.copy(tasks = taskCount(written.buckets.size, bytes)))
    }

  /** Current rows of ONLY the buckets that `probe`'s bucket-column
    * values hash into — the state slice an incremental anti-join or
    * index lookup needs. `probe` must carry the table's BUCKET columns
    * (the full key when `bucketCols` was not narrowed); `like` shapes
    * the empty result. A small batch probed against 100 TB of seen-state reads a
    * few bucket files, never the table
    * ([[graft.ops.Dedup.incrementalExact]] is the canonical caller).
    * The returned plan is pinned to the resolved commit's files, so a
    * concurrent commit does not shift it mid-query (old commits
    * outlive the retention floor). */
  def readForKeys(probe: DataFrame, like: DataFrame): DataFrame =
    readForKeysProbed(probe, like)._1

  /** [[readForKeys]] that also RETURNS the probed bucket set, so an
    * incremental op that later merges a batch with the SAME bucket-
    * column values can hand it to [[mergeProbed]] and skip the second
    * dirty-bucket job per ingest. The set is a pure function of the
    * probe's bucket-column values and the table's recorded bucket
    * types (which can never be retyped in place), so it stays valid
    * across the probe→merge window regardless of concurrent commits. */
  def readForKeysProbed(probe: DataFrame,
      like: DataFrame): (DataFrame, Seq[Int]) = {
    val dirty = dirtyBucketsOf(probe)
    (currentManifest()
      .flatMap(readFrom(_, dirty))
      .getOrElse(like.limit(0)), dirty)
  }

  /** Current rows of ONLY the buckets the conjunction of `filters`
    * can possibly match, via [[ZoneMaps.surviving]] — hash pruning
    * when the filters pin every bucket column by equality
    * (distribution-free: a point lookup reads ONE bucket of 16,384),
    * zone-map elimination on `statsCols` columns otherwise. SUPERSET
    * semantics: the result still contains every non-matching row of
    * the surviving buckets — apply the predicate on top (exactly like
    * a partition-pruned scan). None = never committed. An empty
    * surviving set returns an empty frame under the recorded schema:
    * "provably no matching rows" is an answer, not an error.
    * Manifests that predate the schema line skip pruning entirely
    * (no column types to compare with — conservative full read). */
  def readWhere(
      filters: Seq[org.apache.spark.sql.sources.Filter]): Option[DataFrame] =
    currentManifest().flatMap { m =>
      val surv = m.schema match {
        case Some(s) => ZoneMaps.surviving(filters, s, effBucketCols,
          numBuckets, m.zoneStats, m.buckets.keySet)
        case None => m.buckets.keySet
      }
      if (surv.isEmpty && m.buckets.nonEmpty) emptyUnder(m)
      else readFrom(m, surv.toSeq.sorted).orElse(emptyUnder(m))
    }

  /** Buckets a batch/probe touches — hashed under the table's RECORDED
    * bucket-column types, never the batch's own. Bucket placement
    * hashes the VALUE AND ITS TYPE (`xxhash64(int 5)` ≠ `xxhash64(long
    * 5)`), so:
    *
    *  - a batch whose bucketing column arrives NARROWER than recorded
    *    (a not-yet-redeployed writer merging int keys into a table
    *    whose key was replaced long) is UPCAST before hashing — its
    *    rows land in the buckets where the long-placed rows live, and
    *    the align paths upcast the data identically downstream;
    *  - a batch whose bucketing column arrives WIDER than recorded (a
    *    type-promotion attempt on the key) REFUSES: admitting it would
    *    hash new rows under the wide type while existing rows sit
    *    under the narrow hash — logical duplicates on merge, silent
    *    misses on probe. Retyping a bucketing column needs a FULL
    *    rewrite ([[replaceAll]] into a fresh handle, or [[rebucket]]),
    *    which re-hashes every row consistently. Sideways types refuse
    *    for the same reason (and would refuse in align regardless). */
  private def dirtyBucketsOf(batch: DataFrame): Seq[Int] = {
    import spark.implicits._
    val adjusted = currentManifest().flatMap(_.schema)
      .fold(batch) { rec =>
        effBucketCols.foldLeft(batch) { (df, c) =>
          (batch.schema.fields.find(_.name == c),
            rec.fields.find(_.name == c)) match {
            case (Some(b), Some(r))
                if StateOps.sameShape(b.dataType, r.dataType) => df
            case (Some(b), Some(r))
                if StateOps.wideningPromotion(b.dataType, r.dataType) =>
              df.withColumn(c, col(c).cast(r.dataType))
            case (Some(b), Some(r)) =>
              throw new IllegalArgumentException(
                s"bucketing column `$c` arrives as " +
                  s"${b.dataType.simpleString} but the table at $path " +
                  s"is placed by ${r.dataType.simpleString} — the " +
                  "bucket hash is type-sensitive, so retyping a " +
                  "bucketing column (even a lossless widening) strands " +
                  "existing rows under the old hash; rewrite the table " +
                  "(replaceAll into a fresh handle, or rebucket) to " +
                  "retype the key")
            case _ => df
          }
        }
      }
    val probe = adjusted.select(bucketOf.as("b"))
    // LOCAL fast path: a driver-local batch — the DSv2 DML row ferry,
    // one-row bookkeeping frames (the bm25 stats anchor), empty deltas
    // (limit-0 upserts) — needs no Spark job for its bucket set. The
    // optimizer's ConvertToLocalRelation already evaluated bucketOf
    // over the local rows during planning (same expression, same hash
    // the executors would apply), so the probe collapses to a
    // LocalRelation of bucket ids we can read off the driver. Each
    // such probe was measured as a 100–260 ms single-task job at the
    // local stage floor (3 jobs per SQL DML statement); any
    // non-local or non-folding plan falls through to the distributed
    // probe unchanged.
    probe.queryExecution.optimizedPlan match {
      case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation
          if lr.output.size == 1 && !lr.data.exists(_.isNullAt(0)) =>
        lr.data.map(_.getInt(0)).distinct.sorted
      case _ =>
        probe.distinct().as[Int].collect().toSeq.sorted
    }
  }

  // ---- commit -------------------------------------------------------

  /** Zone maps of a snapshot's files: scans `locs` under the KNOWN
    * `rowSchema` (footer-driven schema inference — a whole extra Spark
    * job, measured in SCALE_PROBE_STATSCOST.json — has nothing to add)
    * with each row's bucket as the index's partition value, and
    * aggregates. A commit needs none of this: its bucket writer
    * computes the zone maps of the files as it writes them
    * ([[ZoneMaps.Collector]]). */
  private def bucketStatsOf(m: StateManifest,
      eligible: Seq[org.apache.spark.sql.types.StructField],
      rowSchema: org.apache.spark.sql.types.StructType): Map[Int, String] = {
    val listed = BucketedStateTable.filesOf(fs, m.locations(root))
    statsAggRows(
      BucketedStateTable.scanBuckets(spark, listed, Some(rowSchema),
        withBucket = true, bucketing = m.bucketing),
      eligible, listed.flatMap(_.shares).toMap)
  }

  private def statsEligible(cols: Seq[String],
      rowSchema: org.apache.spark.sql.types.StructType)
      : Seq[org.apache.spark.sql.types.StructField] =
    cols.distinct
      .flatMap(c => rowSchema.fields.find(_.name == c))
      .filter(f => ZoneMaps.supported(f.dataType))

  /** The stats aggregation of [[analyzeStats]]: `df` must carry
    * [[BucketCol]]; one column-pruned job, ≤ one collected row per
    * bucket (the same bounded driver shape as [[stats]]). Its bounds are
    * the ones [[ZoneMaps.Collector]] records at write time. */
  private def statsAggRows(df: DataFrame,
      eligible: Seq[org.apache.spark.sql.types.StructField],
      bytes: Map[Int, Long]): Map[Int, String] = {
    import org.apache.spark.sql.types._
    // canonical forms: timestamps → epoch micros, dates → epoch days,
    // everything else via Spark's own string cast (decimals plain,
    // floats Java-parseable incl. NaN/Infinity)
    def canon(c: org.apache.spark.sql.Column,
        dt: DataType): org.apache.spark.sql.Column = dt match {
      case TimestampType => unix_micros(c).cast("string")
      case DateType => unix_date(c).cast("string")
      // `+ 0` collapses -0.0 to 0.0 before stringifying (same-type
      // literal, no widening): a recorded "-0.0" bound would diverge
      // from predicate evaluation, which treats -0.0 = 0.0. NaN and
      // infinities pass through unchanged.
      case FloatType => (c + lit(0.0f)).cast("string")
      case DoubleType => (c + lit(0.0d)).cast("string")
      case _ => c.cast("string")
    }
    val aggs = Seq(count(lit(1)).as("__zn")) ++ eligible.flatMap { f =>
      Seq(canon(min(col(f.name)), f.dataType).as(s"__zmin_${f.name}"),
        canon(max(col(f.name)), f.dataType).as(s"__zmax_${f.name}"),
        (count(lit(1)) - count(col(f.name))).as(s"__znul_${f.name}"))
    }
    df.groupBy(col(BucketCol)).agg(aggs.head, aggs.tail: _*)
      .collect().map { r =>
        val b = r.getAs[Number](BucketCol).intValue
        val cols = eligible.map { f =>
          def bound(s: String): Option[String] =
            Option(r.getAs[String](s)).filter(v =>
              f.dataType != StringType || v.length <= ZoneMaps.MaxStatString)
          f.name -> ZoneMaps.ColStat(
            bound(s"__zmin_${f.name}"), bound(s"__zmax_${f.name}"),
            r.getAs[Number](s"__znul_${f.name}").longValue)
        }.toMap
        b -> ZoneMaps.encode(ZoneMaps.BucketStat(
          r.getAs[Number]("__zn").longValue, bytes.getOrElse(b, 0L), cols))
      }.toMap
  }

  /** Retrofit zone maps onto the CURRENT snapshot without rewriting a
    * byte of data — the `ANALYZE` verb for tables created before
    * `statsCols` (or relayouted by a stats-less handle): one
    * column-pruned aggregation job over the resolved buckets (reads
    * only `cols` plus footers), bytes from the manifest (or a listing
    * of each legacy-layout bucket directory), then a METADATA-ONLY manifest publish
    * carrying the same pointers plus the fresh zone-map lines. A commit
    * racing the publish retries like [[widenTo]]; stats survive the
    * retry only for buckets whose POINTER still matches the analyzed
    * manifest's (a moved bucket's bounds are stale — the interleaved
    * commit's own stats, if any, win). Returns the number of buckets
    * whose stats landed. One-shot: steady-state maintenance needs a
    * handle constructed with `statsCols` (stats drop with every dirty
    * rewrite by a stats-less writer, by design). */
  def analyzeStats(cols: Seq[String] = statsCols): Int =
    BucketedStateTable.lockFor(lockKey).synchronized { withLease {
      val m0 = currentManifest().getOrElse(throw new IllegalStateException(
        s"analyzeStats: no committed state at $path"))
      val rec = m0.schema.getOrElse(
        throw new IllegalStateException(
          s"analyzeStats: the manifest at $path records no schema " +
            "(pre-schema-line table) — commit once under this version " +
            "first"))
      val eligible = statsEligible(cols, rec)
      require(eligible.nonEmpty,
        s"analyzeStats: none of [${cols.mkString(",")}] is a " +
          s"supported stats column of ${rec.fieldNames.mkString(",")}")
      if (m0.buckets.isEmpty) return 0
      val fresh = bucketStatsOf(m0, eligible, rec)
      var attempts = 0
      while (true) {
        // A RELAYOUT (split/coalesce/rebucket) landing mid-analyze
        // makes the head manifest unreadable through this handle (the
        // layout check refuses a foreign numBuckets): the analyzed
        // bounds describe a DEAD layout, so WITHDRAW them — return 0,
        // publish nothing. The relayout rebuilt its own stats
        // whole-table if its handle records statsCols; this handle is
        // stale and every subsequent verb on it refuses loudly.
        val head =
          try currentManifest().getOrElse(m0)
          catch { case _: IllegalArgumentException => return 0 }
        val valid = fresh.filter { case (b, _) =>
          head.buckets.get(b) == m0.buckets.get(b) }
        // nothing left to land (every analyzed bucket was rewritten —
        // or RELAYOUTED — since m0): WITHDRAW instead of publishing a
        // stats-free manifest. This is also the relayout-race guard: a
        // split/coalesce/rebucket moves every pointer, so no analyzed
        // bound can leak onto the new layout.
        if (valid.isEmpty && head.commitId != m0.commitId) return 0
        val next = nextCommitId()
        beforePublish() // same publish-window seam as every commit path
        try {
          // split metadata is NOT copied: it belongs to the split
          // commit alone (a republished factor would corrupt the
          // feed's boundary walk), exactly as widenTo publishes.
          // the layout comes from the HEAD being based on, not this
          // handle: a concurrent relayout's bucket count must survive
          // the metadata-only republish (the handle's own count
          // describes the layout it was constructed for, which may
          // just have died).
          writeManifest(manifest(next, head.buckets, head.files, head.schemaJson,
              bucketStats = head.bucketStats ++ valid,
              layout = layoutOf(head)),
            basedOn = head.commitId)
          prune()
          last = Some(CommitStats(next, Nil, Nil))
          return valid.size
        } catch {
          case e: java.util.ConcurrentModificationException =>
            attempts += 1
            if (attempts > maxRebases) throw e
        }
      }
      sys.error("unreachable: the publish loop exits only by return or throw")
    } }

  /** Injection seam for the concurrency spec: runs between the data
    * write and the manifest publish — the window a concurrent process's
    * commit can land in. */
  private[graft] var beforePublish: () => Unit = () => ()

  /** How many times a raced publish may rebase onto a disjoint head
    * before giving up — a liveness bound against pathological churn,
    * far above anything a sane writer population produces. */
  private val maxRebases = 5

  /** THE bucket-file write every data commit and relayout shares, so
    * their write options, task rule and file layout can never drift:
    * hash `rows` into `layout` buckets and write them with
    * [[BucketWriter]], flat in data commit `next`'s directory, straight
    * at the final path — no output committer and no listing
    * afterwards — in `plan.tasks` tasks, one key-sorted file per bucket
    * or, packed, one file per task holding every bucket the task holds,
    * still sorted by bucket and key. A bucket receiving no rows
    * writes nothing. Rows are SORTED by key within each bucket, so
    * parquet row-group min/max stats prune a point or range probe
    * INSIDE a multi-GB bucket — readForKeys narrows to the bucket file,
    * the footer stats narrow further to the row groups holding the keys
    * (free at write time: the sort is per already-shuffled partition,
    * no extra exchange). With `statsCols` set the writer also returns
    * each bucket's zone map, so a zone-mapped commit runs no stats job.
    * Hash-partitioning on the bucket column keeps each bucket in
    * exactly one task however many tasks there are; a one-task write
    * coalesces instead, which reports a single partition and so needs
    * no exchange at all (one job; under adaptive execution an exchange
    * runs as a job of its own). [[planWrite]] chooses the tasks and the
    * layout.
    *
    * `afterExchange` runs on the bucket-partitioned rows (which carry
    * `__bucket`) in the write's result stage, after its one exchange:
    * a per-bucket step placed there needs no shuffle of its own. Rows
    * it marks with a true [[BucketWriter.CountCol]] are counted, not
    * written. */
  private def writeBuckets(rows: DataFrame, layout: Int, plan: WritePlan,
      next: Long, afterExchange: DataFrame => DataFrame = identity): BucketWriter.Result = {
    val bucketed = rows.withColumn(BucketCol, bucketIn(layout))
    val planned = afterExchange(
      if (plan.tasks == 1) bucketed.coalesce(1)
      else bucketed.repartition(plan.tasks, col(BucketCol)))
      .sortWithinPartitions(BucketCol, keyCols: _*)
    BucketWriter.write(spark, planned,
      fs.makeQualified(StateManifest.dataCommitDir(root, next)), statsCols,
      plan.packing)
  }

  /** Rewrite bytes that cost as much as one more data file: its create
    * and `.crc` (each forks `chmod` on the local file system without
    * libhadoop), writer init and footer. Measured on merges of the same
    * 81-row driver-local batches into a 1,024-bucket table at
    * `local[4]` (medians of 8): at 27k rows 4 whole-table files took
    * 300 ms against 553 ms for 76 one-bucket files, at 108k rows
    * 510 ms against 551 ms; the break-even is about 124k rows (about
    * 1.8 MB), about 22 KB of rewrite per file saved. This takes the
    * conservative side of that curve. The curve is one host's local
    * file system; a file system whose creates cost differently (HDFS,
    * an object store) moves the break-even, and was not measured. */
  private val PerFileBytes = 16L * 1024

  /** Today's task rule for a write of `buckets` buckets holding `bytes`
    * on disk: `min(buckets, max(defaultParallelism, ceil(bytes /
    * advisoryPartitionSizeInBytes)))`. A small write runs one task per
    * core: each task pays ~30 ms of deserialization (measured on an
    * 80-bucket write: 2.4–2.8 s of `executorDeserializeTime` over 84
    * tasks), so one task per dirty bucket made that write take 1.5 s
    * against 0.78 s with 4 tasks on a 4-core host. Never fewer tasks
    * than cores: a size-adaptive count below the core count serializes
    * the per-file cost onto fewer cores than the host has. Never more
    * than one task per bucket: multi-GB buckets at 100 TB keep one task
    * each. */
  private def taskCount(buckets: Int, bytes: BigInt): Int = {
    val advisory = spark.sessionState.conf.getConf(
      org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    val bySize = (bytes + advisory - 1) / advisory
    math.max(1, math.min(buckets,
      bySize.max(spark.sparkContext.defaultParallelism).min(Int.MaxValue).toInt))
  }

  /** Whether `bytes` are worth writing `buckets` buckets as `files`
    * files instead of one file per bucket: iff that saves files and
    * `bytes ≤ (buckets − files) × PerFileBytes`. */
  private def packs(bytes: BigInt, buckets: Int, files: Int): Boolean =
    buckets > files && bytes <= BigInt(buckets - files) * PerFileBytes

  /** The write of a commit dirtying `dirty` over `base`, from the byte
    * shares the manifest records, so that the number of files a commit
    * creates follows the bytes it writes, not its dirty-bucket count.
    * Every write covers the dirty set's closure (every bucket sharing a
    * file with a dirty one — for one-bucket files the dirty set), so a
    * data file is referenced whole or not at all:
    *  - a commit dirtying more buckets than the `tasks` of a packed
    *    write of the table packs iff the clean bytes that costs, `live −
    *    dirtyBytes`, are worth its files ([[packs]]): it rewrites every
    *    live bucket, one file per task. Otherwise it writes its closure
    *    one file per bucket: a table past the bound keeps one file per
    *    dirty bucket, and a packed table that outgrows the bound
    *    unpacks in one commit.
    *  - a smaller commit saves nothing by packing in the long run, so it
    *    decides no layout: it writes its closure one file per bucket,
    *    or packed into one file per task when the closure's own bytes
    *    are worth that — the test a creating write applies to each
    *    task's rows. A table of one-bucket files keeps them, and a
    *    1-row upsert into a packed 1,024-bucket table writes the ~256
    *    buckets of the file it touches in at most `tasks` files.
    * A table with no live bucket records no size: each task decides
    * from the rows it writes ([[BucketWriter.IfSmall]]). A table holding
    * legacy-layout buckets (no recorded size) never packs.
    *
    * The trade: on a table small enough to pack, a commit writes every
    * bucket or a whole file's, so concurrent writers serialize through
    * the withdraw-and-retry of [[commit]] instead of rebasing
    * bucket-disjoint commits; above the bound disjoint rebases apply
    * as before. */
  private def planWrite(base: Option[StateManifest], dirty: Seq[Int]): WritePlan = {
    val m = base.getOrElse(StateManifest(0L))
    val share = m.files.map { case (b, f) => b -> BigInt(f.bytes) }
    def bytes(buckets: Seq[Int]): BigInt = buckets.flatMap(share.get).sum
    val live = share.values.sum
    val closure = m.closure(dirty)
    val closureTasks = taskCount(closure.size, bytes(closure))
    val all = (m.buckets.keySet ++ dirty).toSeq.sorted
    val tasks = taskCount(all.size, live)
    if (m.buckets.isEmpty) {
      val t = taskCount(dirty.size, 0)
      WritePlan(dirty, t, ifSmall(dirty.size, t))
    } else if (!m.buckets.keySet.forall(share.contains))
      WritePlan(closure, closureTasks, BucketWriter.PerBucket)
    else if (dirty.size > tasks)
      if (packs(live - bytes(dirty), dirty.size, tasks))
        WritePlan(all, tasks, BucketWriter.Packed)
      else WritePlan(closure, closureTasks, BucketWriter.PerBucket)
    else WritePlan(closure, closureTasks,
      if (packs(bytes(closure), closure.size, closureTasks)) BucketWriter.Packed
      else BucketWriter.PerBucket)
  }

  /** The write of a full rewrite of `buckets` buckets holding about
    * `bytes` ([[replaceAll]], [[importFrom]], the relayouts): today's
    * task rule, and each task decides from the rows it writes whether
    * they pack. */
  private def planFull(buckets: Int, bytes: BigInt): WritePlan = {
    val tasks = taskCount(buckets, bytes)
    WritePlan(0 until buckets, tasks, ifSmall(buckets, tasks))
  }

  /** [[BucketWriter.IfSmall]] for a write of `buckets` buckets in
    * `tasks` tasks: a task holds about `buckets / tasks` of them, so it
    * holds back no more rows than that many buckets pack into. */
  private def ifSmall(buckets: Int, tasks: Int): BucketWriter.IfSmall =
    BucketWriter.IfSmall(PerFileBytes,
      ((buckets + tasks - 1) / tasks - 1).toLong * PerFileBytes)

  /** The manifest fields of a write: pointers, files and (with
    * `statsCols`) zone maps of the buckets it wrote into data commit
    * `next`. */
  private def pointersOf(w: BucketWriter.Result, next: Long)
      : (Map[Int, Long], Map[Int, StateManifest.DataFile], Map[Int, String]) =
    (w.files.map(_.bucket -> next).toMap,
      w.files.map(f => f.bucket -> StateManifest.DataFile(f.name, f.bytes)).toMap,
      if (statsCols.isEmpty) Map.empty
      else w.files.map(f => f.bucket -> ZoneMaps.encode(f.stat)).toMap)

  /** Catalyst's size estimate of `rows`, for the full rewrites
    * ([[replaceAll]], [[importFrom]]) that read no buckets to list: a
    * file scan reports its file bytes, an opaque source the default
    * maximum (one task per bucket, the scale-safe fallback). It sizes
    * the write's tasks only: it counts a string as 20 bytes whatever
    * its width, so it cannot tell whether the rows pack. */
  private def estimatedBytes(rows: DataFrame): BigInt =
    rows.queryExecution.optimizedPlan.stats.sizeInBytes

  /** Write `rows` as the new contents of exactly the `plan`'s buckets
    * (the `dirty` set, or more: see [[planWrite]]) and publish; returns
    * the commit and the rows `afterExchange` marked for counting.
    * Written buckets that end up with zero rows drop out of the
    * manifest (the writer writes no empty files, and its task results
    * are the truth).
    *
    * `planBase` is the manifest the mutation READ its current-bucket
    * rows from (None for a creating write or a read-less full rewrite,
    * which conditions on the manifest observed here). The publish is
    * fenced on it; on a detected race the commit resolves LOGICALLY
    * instead of always failing: if every intervening commit's
    * rewritten-bucket set (manifest pointer diff — free, no data read)
    * is disjoint from our written set, and neither the layout nor the
    * recorded schema moved, the already-written data directory is
    * simply republished under a manifest based on the new head —
    * disjoint writers both land, no retry-from-scratch of the data
    * write. A true overlap (or a layout/schema change, or a never-
    * committed base) still withdraws with
    * `ConcurrentModificationException` for the caller to retry — the
    * rows it merged are stale against the interleaved rewrite of the
    * same bucket. The reference's two pipeline stages write disjoint
    * tables concurrently by design (`ReportingManager.java:93-95`);
    * this is the bucket-granular version of the same guarantee. */
  private def commit(rows: DataFrame, dirty: Seq[Int], plan: WritePlan,
      planBase: Option[StateManifest] = None,
      publishGate: Option[PublishGate] = None,
      afterExchange: DataFrame => DataFrame = identity): (CommitStats, Long) = {
    val next = nextCommitId()
    val w = writeBuckets(rows, numBuckets, plan, next, afterExchange)
    val (pointers, files, zstats) = pointersOf(w, next)
    val written = w.files.map(_.bucket)
    // A bucket written OUTSIDE the planned set means `rows` re-evaluated
    // differently between the dirty-bucket probe and this write (a
    // non-deterministic expression in the update lineage — rand() salt,
    // unseeded sample/limit, shuffle-order-dependent ids): its manifest
    // pointer would replace prior contents that were never read into
    // the merge. Fail loudly instead of silently losing rows.
    val planned = plan.buckets.toSet
    require(written.forall(planned.contains),
      s"commit wrote buckets ${written.filterNot(planned.contains).mkString(",")} " +
        s"outside the dirty set ${dirty.sorted.mkString(",")} (written set " +
        s"${plan.buckets.mkString(",")}) at $path — " +
        "the updates DataFrame is non-deterministic; materialize it " +
        "(cache/checkpoint) before mutating state")
    // gated publish (see [[PublishGate]]): everything above — the
    // expensive bucket-file write and its zone maps — ran concurrently
    // with the gate owner's foreground work; nothing is observable
    // until the manifest rename below, so waiting HERE preserves the
    // sequential order's crash-consistency exactly (an abort leaves
    // only an unreferenced data dir, the crashed-commit shape prune
    // already cleans)
    publishGate.foreach(_.awaitPublish())
    // the base the publish is conditioned on: the manifest the mutation
    // read its rows against when it has one; otherwise whatever is
    // current here (a creating write, or replaceAll's deliberate
    // full-overwrite semantics)
    var base = planBase.orElse(currentManifest())
    beforePublish()
    var rebases = 0
    while (true) {
      val basedOn = base.map(_.commitId).getOrElse(0L)
      // the manifest id must order after the base even when an
      // intervening commit consumed our planned id space; the DATA dir
      // keeps its own id (`next`) — manifest pointers name data dirs,
      // the two namespaces need not agree
      val manifestId = math.max(next, basedOn + 1)
      val prev = base.map(_.buckets).getOrElse(Map.empty)
      try {
        writeManifest(manifest(manifestId,
          prev -- plan.buckets ++ pointers,
          base.map(_.files).getOrElse(Map.empty) -- plan.buckets ++ files,
          Some(w.schema.json),
          // clean buckets CARRY the base's stats; every written bucket's
          // stale entry drops even when this handle records none — a
          // stats-less rewrite must never leave another handle's
          // now-wrong bounds behind
          bucketStats = base.map(_.bucketStats).getOrElse(Map.empty) --
            plan.buckets ++ zstats), basedOn)
        // TOCTOU backstop for a REBASED publish: a concurrent prune
        // whose live set was computed before this manifest appeared
        // can reap the adopted (then-orphan) data dir between the
        // eligibility check and the rename — self-withdraw rather
        // than leave a manifest pointing at deleted files (only a
        // ZERO retention floor deletes instantly; a positive floor
        // closes this via condemn-then-reap + the un-condemn pass)
        if (rebases > 0 && written.nonEmpty &&
            !fs.exists(StateManifest.dataCommitDir(root, next))) {
          fs.delete(StateManifest.manifestPath(root, manifestId), false)
          throw new java.util.ConcurrentModificationException(
            s"commit $manifestId adopted data c$next that a concurrent " +
              "prune reaped mid-rebase and was withdrawn; retry the mutation")
        }
        prune()
        val stats = CommitStats(manifestId, dirty, written, rebases,
          w.filesWritten, w.packed)
        last = Some(stats)
        return (stats, w.counted)
      } catch {
        case e: java.util.ConcurrentModificationException =>
          // tolerant read: the head may record a different layout (a
          // raced split/rebucket) — that must surface as an ineligible
          // rebase, not an assertion from inside this catch
          val head = manifestFiles().lastOption
            .map(readManifest(_, checkLayout = false))
          head.filter(layoutOf(_) != numBuckets).foreach { h =>
            throw new java.util.ConcurrentModificationException(
              s"commit raced a layout change at $path ($numBuckets -> " +
                s"${layoutOf(h)} buckets) — this handle is stale; " +
                "reopen the table at the recorded layout (StateManifest" +
                ".snapshot(...).layout + BucketedStateTable.fromLayout) " +
                "and retry the mutation")
          }
          val eligible = rebases < maxRebases && head.exists { h =>
            // same recorded schema (a raced widenTo must not be
            // silently narrowed back by our republish)...
            h.schemaJson == base.flatMap(_.schemaJson) &&
            // ...and the intervening commits' rewritten buckets —
            // pointer diff base -> head, covering adds, rewrites, and
            // drops — never touch our written set (a commit packing the
            // table writes every live bucket, so it rebases only over
            // commits that add buckets; and an untouched written bucket
            // still names the file the plan closed over, so no file ends
            // up named by only some of its buckets). `base` advances on
            // every rebase, so each round checks only the NEWLY
            // intervened commits.
            {
              val prevB = base.map(_.buckets).getOrElse(Map.empty[Int, Long])
              (h.buckets.keySet ++ prevB.keySet)
                .filter(b => h.buckets.get(b) != prevB.get(b))
                .forall(!planned.contains(_))
            }
          }
          if (!eligible) throw e
          if (written.nonEmpty) {
            // adoption hygiene: the racing writer's prune may have
            // CONDEMNED our then-orphan data dir (positive floor);
            // clear the marker BEFORE publishing, so even a crash
            // right after the rename cannot leave a LIVE dir carrying
            // an aging marker (which would reap it floor-less the
            // moment it is next unreferenced)
            try fs.delete(new Path(condemnedDir, s"d$next"), false)
            catch { case _: java.io.IOException => () }
            // and a ZERO floor reaps orphans instantly — republishing
            // pointers to deleted files would be durable corruption
            // where withdrawing is merely a retry. (The residual
            // check-to-rename window is re-verified after the publish
            // above; fully closing it needs a positive floor, the
            // documented requirement for lease-blind concurrency.)
            if (!fs.exists(StateManifest.dataCommitDir(root, next)))
              throw e
          }
          rebases += 1
          base = head
      }
    }
    sys.error("unreachable: the publish loop exits only by return or throw")
  }

  /** Drop data dirs no surviving manifest references and manifests
    * beyond `keepCommits` — but nothing within the retention floor of
    * being CONDEMNED, so a concurrent reader's resolved snapshot
    * outlives a burst of commits.
    *
    * Condemnation is a marker file under `_condemned/`, written the
    * first time an item is observed delete-eligible; the item is only
    * deleted once the MARKER is older than the floor. Keying the floor
    * to the marker, not the item's own mtime, is the point: a COLD
    * bucket's data dir can be an hour old when a burst of commits
    * suddenly unreferences it — a creation-time floor would delete it
    * instantly, breaking the reader who resolved it seconds before the
    * burst. The live set is computed from EVERY manifest still on disk
    * (floor-protected old ones included), so any snapshot a reader can
    * still resolve keeps its data reachable for at least the floor. */
  private def condemnedDir = new Path(root, "_condemned")

  private def condemnOrReap(marker: String, target: Path,
      recursive: Boolean, now: Long): Unit = {
    if (retentionFloorMillis <= 0L) { fs.delete(target, recursive); return }
    val m = new Path(condemnedDir, marker)
    val markedAt =
      try Some(fs.getFileStatus(m).getModificationTime)
      catch { case _: java.io.FileNotFoundException => None }
    markedAt match {
      case Some(t) if now - t >= retentionFloorMillis =>
        fs.delete(target, recursive)
        fs.delete(m, false)
      case Some(_) => () // condemned, still inside the floor
      case None => fs.create(m, true).close() // makes `_condemned/` too
    }
  }

  private def prune(): Unit = {
    val now = System.currentTimeMillis()
    manifestFiles().dropRight(keepCommits).foreach { case (id, st) =>
      condemnOrReap(s"m$id", st.getPath, recursive = false, now)
    }
    // live set from every manifest STILL on disk after the reap above —
    // a floor-protected old manifest keeps its data dirs alive too
    val (surviving, temps) = StateManifest.listWithTemps(fs, root)
    // a temp manifest a crashed writer created but never renamed: at or
    // below the newest published id its publish can no longer succeed
    // (a live writer that loses it here fails its rename and retries),
    // and past the floor no writer is still in its publish window
    val newest = surviving.lastOption.map(_._1).getOrElse(0L)
    temps.foreach { case (id, st) =>
      if (id <= newest || now - st.getModificationTime >= retentionFloorMillis)
        fs.delete(st.getPath, false)
    }
    val live: Set[Long] =
      surviving.flatMap(readManifest(_, checkLayout = false).buckets.values)
        .toSet ++
        surviving.map(_._1)
    val dataDir = StateManifest.dataDir(root)
    if (fs.exists(dataDir))
      fs.listStatus(dataDir).foreach { s =>
        StateManifest.dataCommitOf(s.getPath.getName) match {
          case Some(i) if !live.contains(i) =>
            condemnOrReap(s"d$i", s.getPath, recursive = true, now)
          case _ => ()
        }
      }
    // UN-condemn any data dir that became live again: a rebased publish
    // adopts a directory that was an orphan (and possibly condemned by
    // a concurrent writer's prune) during its publish window. A
    // lingering marker would age past the retention floor while the dir
    // is live, and the INSTANT the dir is next unreferenced it would be
    // reaped with zero floor — stranding a reader who resolved its last
    // referencing manifest moments earlier.
    if (fs.exists(condemnedDir))
      fs.listStatus(condemnedDir).foreach { s =>
        val n = s.getPath.getName
        if (n.startsWith("d") && n.drop(1).forall(_.isDigit) &&
            live.contains(n.drop(1).toLong))
          fs.delete(s.getPath, false)
      }
  }

  // ---- mutations (all bucket-pruned, all under the write lock) ------

  /** Every mutation evaluates its input batch TWICE — the dirty-bucket
    * probe and the commit's bucket write — unless it is a driver-local
    * frame, whose probe runs on the driver without evaluating the batch
    * as a job. For a batch that is a plain scan/projection the probe is
    * column-pruned to the bucket columns and the double evaluation is
    * nearly free — but the incremental-index family feeds merges whose
    * lineage is a shuffle (tokenize→explode→aggregate postings, LSH
    * banding, IVF assignment), and re-running that shuffle per
    * evaluation doubles the ingest cost (guide §1.2: fix the algorithm
    * — don't compute things twice — before per-task work). Pin such a
    * batch ONCE (MEMORY_AND_DISK_SER, spills instead of evicting) for
    * the duration of the mutation; plans with no shuffle/generate stage
    * skip the cache (the pin would cost more than the pruned re-read,
    * and the non-deterministic-batch guard in [[commit]] keeps its
    * teeth for exactly the cheap-plan shapes that reach it). A batch
    * the CALLER already persisted is reused as-is and never unpinned
    * here. A side benefit for pinned batches: both evaluations see the
    * SAME materialized rows, so a non-deterministic expensive batch
    * (e.g. a salted aggregate) commits consistently instead of tripping
    * the written-outside-dirty guard. */
  private def pinIfExpensive(df: DataFrame): (DataFrame, Boolean) = {
    import org.apache.spark.sql.catalyst.plans.logical._
    val heavy = df.storageLevel ==
      org.apache.spark.storage.StorageLevel.NONE &&
      df.queryExecution.optimizedPlan.exists {
        case _: Aggregate | _: Join | _: Generate | _: Window => true
        case _ => false
      }
    if (heavy)
      (df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER),
        true)
    else (df, false)
  }

  private def withPinned[T](df: DataFrame)(body: DataFrame => T): T = {
    val (pinned, unpin) = pinIfExpensive(df)
    try body(pinned)
    finally if (unpin) pinned.unpersist(false)
  }

  override def merge(updates: DataFrame, keys: Seq[String],
      versionCols: Seq[String] = Nil): Unit =
    mergeImpl(updates, keys, versionCols, precomputedDirty = None)

  /** [[merge]] with the dirty-bucket set already known — from
    * [[readForKeysProbed]] over a frame with the SAME bucket-column
    * VALUES as `updates` — so one bucket probe serves both the
    * incremental read and the closing merge of an ingest. The caller
    * owns that equality; safety net: a set that MISSES a bucket the
    * batch actually writes still fails the commit's written⊆dirty
    * guard loudly (an over-set merely rewrites extra buckets
    * verbatim — correct, wasteful — so pass exactly the probed set). */
  private[graft] def mergeProbed(updates: DataFrame, keys: Seq[String],
      dirty: Seq[Int], versionCols: Seq[String] = Nil): Unit =
    mergeImpl(updates, keys, versionCols, precomputedDirty = Some(dirty))

  /** [[merge]] whose manifest PUBLISH waits on `gate` — run it in a
    * background thread (see [[MutationOverlap.withGatedMutation]]) so
    * the probe and bucket-file write overlap foreground work that must
    * complete before this table's new state becomes visible (an
    * ingest's verify pass, a sibling table's ordered commit). Nothing
    * is observable until the gate opens; an abort withdraws without
    * publishing. Holds the table's lock and lease for the whole
    * gated window, so never gate two mutations of the SAME table on
    * each other. */
  private[graft] def mergeAwaitingPublish(updates: DataFrame,
      keys: Seq[String], gate: PublishGate,
      precomputedDirty: Option[Seq[Int]] = None,
      versionCols: Seq[String] = Nil): Unit =
    mergeImpl(updates, keys, versionCols, precomputedDirty,
      publishGate = Some(gate))

  private def mergeImpl(updates: DataFrame, keys: Seq[String],
      versionCols: Seq[String], precomputedDirty: Option[Seq[Int]],
      publishGate: Option[PublishGate] = None): Unit = {
    // SET equality, matching the JDBC twin: mergeByKey and the bucket
    // hash are key-order-insensitive, so a trait caller passing the
    // same keys in another order must not break on this implementation
    require(keys.toSet == keyCols.toSet,
      s"bucketed table is laid out on $keyCols; cannot merge on $keys")
    BucketedStateTable.lockFor(lockKey).synchronized { withLease {
      withPinned(updates) { updates =>
      // a PRECOMPUTED dirty set skips dirtyBucketsOf — and with it the
      // bucket-column type check that refuses hashing under the wrong
      // type. Re-run just the check (driver-only, no job) so a caller
      // whose updates frame is typed differently from the probe frame
      // fails fast instead of writing rows placed under the wrong hash.
      if (precomputedDirty.isDefined) {
        currentManifest().flatMap(_.schema).foreach { rec =>
          effBucketCols.foreach { c =>
            (updates.schema.fields.find(_.name == c),
              rec.fields.find(_.name == c)) match {
              case (Some(b), Some(r))
                  if !StateOps.sameShape(b.dataType, r.dataType) &&
                    !StateOps.wideningPromotion(b.dataType, r.dataType) =>
                throw new IllegalArgumentException(
                  s"bucketing column `$c` arrives as " +
                    s"${b.dataType.simpleString} but the table at $path " +
                    s"is placed by ${r.dataType.simpleString} — the " +
                    "bucket hash is type-sensitive; rewrite the table " +
                    "to retype the key")
              case _ => ()
            }
          }
        }
      }
      val dirty = precomputedDirty.getOrElse(dirtyBucketsOf(updates))
      if (dirty.nonEmpty) {
        // schema drift in either direction rides an ordinary merge —
        // widening batches align the current rows up (null-filled, the
        // commit records the widened schema; clean buckets keep their
        // narrower files and read back null-filled via the manifest
        // schema), and post-widenTo narrow writers preserve the
        // columns they don't know (see alignPair). Renames/type
        // changes are refused inside alignTo.
        val (cur0, base, plan) = readBucketsWithBase(dirty, like = updates)
        val (cur, up) = alignPair(cur0, updates, keys, "merge")
        // StateOps.mergeByKey with its per-key window run after the
        // bucket write's exchange, partitioned by (bucket, keys): the
        // groups are the same, and the write's shuffle is the only one
        commit(StateOps.sourced(cur, up), dirty, plan, base, publishGate,
          afterExchange = StateOps.latestPerKey(_, BucketCol +: keys, versionCols))
      } else publishGate.foreach(_.awaitPublish()) // no-op merges honor an abort too
      }
    } }
  }

  /** ADD COLUMN as a METADATA-ONLY commit — the `ALTER TABLE ... ADD
    * COLUMNS` verb: publishes a new manifest whose bucket pointers are
    * UNCHANGED and whose recorded schema is the widened `target`
    * (added columns forced nullable — existing rows genuinely hold no
    * value and read back null-filled via the manifest schema). Zero
    * data is read or written, so widening a 100 TB table costs one
    * manifest rename regardless of size; subsequent merges under the
    * widened shape rewrite only their dirty buckets, narrower files in
    * clean buckets stay valid forever. Narrowing/renames/type changes
    * are refused (see [[widenCheck]]); widening to the current schema
    * is a no-op (no empty commit).
    *
    * Raced publishes RETRY here rather than withdraw: a metadata-only
    * commit re-derives everything (pointers, recorded schema) from the
    * head manifest on each attempt, so absorbing a concurrent DATA
    * commit is always safe — the ALTER lands with the interleaved
    * commit's pointers intact. (The inverse race — a data commit
    * racing a widenTo — withdraws in [[commit]]'s rebase check, since
    * republishing the data commit's narrower recorded schema would
    * silently undo the ALTER.) */
  def widenTo(target: org.apache.spark.sql.types.StructType): Unit =
    BucketedStateTable.lockFor(lockKey).synchronized { withLease {
      var attempts = 0
      while (true) {
        try { widenOnce(target); return }
        catch {
          case e: java.util.ConcurrentModificationException =>
            attempts += 1
            if (attempts > maxRebases) throw e
        }
      }
    } }

  private def widenOnce(target: org.apache.spark.sql.types.StructType): Unit = {
      val base = currentManifest().getOrElse(
        throw new IllegalStateException(
          s"widenTo: no committed state at $path — create the table " +
            "first (replaceAll/merge under the initial schema)"))
      val from = base.schema
        .orElse(readFrom(base, base.buckets.keys.toSeq).map(_.schema))
        .getOrElse(throw new IllegalStateException(
          s"widenTo: table at $path has neither data nor a recorded " +
            "schema to widen from"))
      widenCheck(from, target, "widenTo")
      // a BUCKETING column's type is part of the physical layout: the
      // bucket hash is type-sensitive, so even a lossless promotion
      // would strand every existing row under the old hash (see
      // [[dirtyBucketsOf]]) — refuse; retyping the key is a full
      // rewrite (replaceAll into a fresh handle, or rebucket)
      effBucketCols.foreach { c =>
        for {
          o <- from.fields.find(_.name == c)
          n <- target.fields.find(_.name == c)
        } require(StateOps.sameShape(o.dataType, n.dataType),
          s"widenTo at $path cannot retype bucketing column `$c` " +
            s"${o.dataType.simpleString} -> ${n.dataType.simpleString}: " +
            "bucket placement hashes the type — rewrite the table " +
            "(replaceAll into a fresh handle, or rebucket) to retype " +
            "the key")
      }
      // existing columns keep their RECORDED field verbatim (nullability
      // and metadata included — a caller-side decoration like the SQL
      // face's non-null key marking must not leak into storage) except
      // for a checked WIDENING PROMOTION, which takes the target's
      // (wider) type while preserving the recorded nullability — old
      // bucket files stay untouched; the parquet reader upcasts them
      // under the recorded schema on every read. Added columns are
      // forced nullable.
      val widened = org.apache.spark.sql.types.StructType(
        target.fields.map { f =>
          from.fields.find(_.name == f.name) match {
            case Some(old)
                if StateOps.sameOrWidens(f.dataType, old.dataType) => old
            case Some(old) => old.copy(dataType = f.dataType)
            case None => f.copy(nullable = true)
          }
        })
      if (widened != from) {
        val next = nextCommitId()
        beforePublish() // same publish-window seam as every commit path
        // metadata-only: no bucket moved, so every recorded zone map
        // still bounds its bucket exactly (the added column simply has
        // no stats anywhere — conservative, never pruned on)
        writeManifest(manifest(next, base.buckets, base.files, Some(widened.json),
            bucketStats = base.bucketStats),
          basedOn = base.commitId)
        prune()
        last = Some(CommitStats(next, Nil, Nil))
      }
  }

  /** One ATOMIC keyed delta — the row-level-DML verb behind SQL
    * `UPDATE`/`MERGE INTO`: upsert every row of `upserts` and remove
    * every key of `deleteKeys` (key columns only) in a SINGLE commit
    * over the union of their dirty buckets. An UPDATE arrives as
    * delete(old key) + upsert(new row), which also covers key-changing
    * updates; deletes of absent keys are no-ops. A key must not appear
    * as both a plain delete and an upsert in one call (Spark's MERGE
    * cardinality check enforces this for the SQL surface; library
    * callers own the contract) — the delete is applied first, so such
    * a key would resolve to the upsert. */
  def applyDelta(upserts: DataFrame, deleteKeys: DataFrame,
      keys: Seq[String]): Unit = {
    require(keys.toSet == keyCols.toSet,
      s"bucketed table is laid out on $keyCols; cannot apply a delta on $keys")
    BucketedStateTable.lockFor(lockKey).synchronized { withLease {
      withPinned(upserts) { upserts =>
      val dirty =
        (dirtyBucketsOf(upserts) ++ dirtyBucketsOf(deleteKeys))
          .distinct.sorted
      if (dirty.nonEmpty) {
        // `upserts` shapes the empty state exactly like merge() does,
        // and drifts in either direction the same way (see alignPair) —
        // wider upserts widen the commit, narrower (pre-widenTo writer)
        // upserts preserve the columns they don't know
        val (cur0, base, plan) = readBucketsWithBase(dirty, like = upserts)
        val (cur, up) = alignPair(cur0, upserts, keys, "applyDelta")
        // NULL-SAFE anti-join: mergeByKey documents null keys as equal
        // (the table can legitimately hold a null-keyed row), so a
        // delete of that key must match it — a plain equality join
        // never matches null = null and would keep the row forever
        val delKeys = deleteKeys.select(keys.map(col): _*).as("__del")
        val kept = cur.as("__cur").join(delKeys,
          keys.map(c => StateOps.aliasedCol("__cur", c) <=>
            StateOps.aliasedCol("__del", c)).reduce(_ && _),
          "left_anti")
        commit(StateOps.mergeByKey(kept, up, keys), dirty, plan, base)
      }
      }
    } }
  }

  /** D1 with [[StateOps.deleteIfUnmodified]]'s meaning (a null-safe
    * match on the full tuple; processed rows with no matching state row
    * are counted with multiplicity), in ONE read of the dirty buckets.
    *
    * The current rows (tag 0) and the processed rows (tag 1) are
    * unioned into the commit's bucket write. After its exchange, a
    * window over (bucket, full tuple) — a finer key than the bucket the
    * rows are already partitioned by, so it adds no shuffle — sees
    * whether each tuple has rows of either tag: a state row with no
    * processed twin is kept, a processed row with no state twin is
    * marked for the writer to count ([[BucketWriter.CountCol]]), and
    * everything else is dropped before the write. A null-safe `<=>`
    * and a window partition group nulls alike. Each write task returns
    * its count with its files, and the driver sums what the job's
    * collect returns — one result per partition, the successful
    * attempt's, however often a task or the stage re-runs. A processed
    * column that is neither the stored type nor a lossless widening
    * into it (which the union would widen the stored column to) takes
    * the two-plan form instead. */
  override def deleteWhereUnmodified(processed: DataFrame): Long =
    BucketedStateTable.lockFor(lockKey).synchronized { withLease {
      withPinned(processed) { processed =>
      val dirty = dirtyBucketsOf(processed)
      if (dirty.isEmpty) 0L
      else {
        val (cur, base, plan) = readBucketsWithBase(dirty, like = processed)
        val cols = cur.columns.toSeq
        val proc = processed.select(cols.map(StateOps.qcol): _*)
        val aligned = cur.schema.fields.zip(proc.schema.fields).map {
          case (s, p) if StateOps.sameShape(p.dataType, s.dataType) =>
            Some(StateOps.qcol(s.name))
          case (s, p) if StateOps.wideningPromotion(p.dataType, s.dataType) =>
            Some(StateOps.qcol(s.name).cast(s.dataType).as(s.name))
          case _ => None
        }
        if (aligned.contains(None)) {
          val res = StateOps.deleteIfUnmodified(cur, processed)
          val notRemoved = res.notRemoved.count()
          commit(res.newState, dirty, plan, base)
          notRemoved
        } else {
          val Tag = "__graft_tag"
          val seen = org.apache.spark.sql.expressions.Window
            .partitionBy((BucketCol +: cols).map(StateOps.qcol): _*)
          commit(
            cur.withColumn(Tag, lit(0))
              .unionByName(proc.select(aligned.flatten: _*).withColumn(Tag, lit(1))),
            dirty, plan, base,
            afterExchange = _
              .withColumn("__graft_min", min(Tag).over(seen))
              .withColumn("__graft_max", max(Tag).over(seen))
              // state rows without a processed twin, and processed rows
              // without a state twin (counted, not written)
              .filter(col("__graft_max") === 0 || col("__graft_min") === 1)
              .withColumn(BucketWriter.CountCol, col(Tag) === 1)
              .drop(Tag, "__graft_min", "__graft_max"))._2
        }
      }
      }
    } }

  override def mergeOnceForBatch(batchId: Long, streamScope: String,
      updates: DataFrame, keys: Seq[String],
      versionCols: Seq[String] = Nil): Boolean =
    BucketedStateTable.lockFor(lockKey).synchronized { withLease {
      BatchMarkers.runOnce(fs, root, batchId, streamScope) {
        merge(updates, keys, versionCols)
      }
    } }

  /** Marker-guarded [[applyDelta]] — the exact-once face for streaming
    * consumers whose per-batch delta is NOT an idempotent keyed merge
    * (incremental-view increments, running totals): a replayed batch id
    * is skipped entirely instead of double-applied. Same marker
    * bookkeeping and crash contract as [[mergeOnceForBatch]] — a crash
    * in the narrow window between the delta's manifest publish and the
    * marker write replays as a double-apply, the trade
    * [[graft.streaming.MixStream]] documents; callers needing stronger
    * ground must derive the batch from replay-stable inputs. Returns
    * true when the delta ran. */
  def applyDeltaOnceForBatch(batchId: Long, streamScope: String,
      upserts: DataFrame, deleteKeys: DataFrame,
      keys: Seq[String]): Boolean =
    BucketedStateTable.lockFor(lockKey).synchronized { withLease {
      BatchMarkers.runOnce(fs, root, batchId, streamScope) {
        applyDelta(upserts, deleteKeys, keys)
      }
    } }

  /** D2 — retention with keep-latest, bucket-pruned: one read pass finds
    * the global max `seqCol` and the buckets that actually HOLD expired
    * rows; only those buckets are rewritten (a retention sweep over
    * mostly-fresh 100 TB state is a metadata-cheap scan plus a few
    * bucket rewrites, not a full rewrite). */
  def retentionKeepLatest(seqCol: String, tsCol: String,
      cutoff: org.apache.spark.sql.Column): Unit =
    BucketedStateTable.lockFor(lockKey).synchronized { withLease {
      read().foreach { df =>
        import spark.implicits._
        val maxSeq = df.agg(max(StateOps.qcol(seqCol))).first().get(0)
        val dirty = df
          .filter(StateOps.qcol(tsCol) <= cutoff &&
            StateOps.qcol(seqCol) =!= lit(maxSeq))
          .select(bucketOf.as("b")).distinct().as[Int].collect().toSeq.sorted
        if (dirty.nonEmpty) {
          val (cur, base, plan) = readBucketsWithBase(dirty, like = df)
          // NULL-ts rows survive the bucket rewrite too (the reference
          // DELETE form keeps them) — without the isNull arm a NULL-ts
          // row sharing a bucket with an expired one would vanish
          // nondeterministically by hash placement
          commit(
            cur.filter(StateOps.qcol(tsCol) > cutoff ||
              StateOps.qcol(tsCol).isNull ||
              StateOps.qcol(seqCol) === lit(maxSeq)),
            dirty, plan, base)
        }
      }
    } }

  /** Maintenance view: one row per bucket of the CURRENT snapshot —
    * `(bucket, commit, n_files, total_bytes, n_rows)` — the input for
    * the two operational questions a bucketed table raises at scale:
    * is a bucket skewed (rebucket / salt upstream), and is the table
    * over- or under-bucketed for its volume (`numBuckets ≈ bytes /
    * 1–16 GB`, §10). File counts and byte sizes come from the
    * manifest's file pointers — a bucket of a packed file counts that
    * one file and its share of the bytes (a legacy-layout bucket
    * directory is listed); row counts from parquet footers (a
    * metadata-only `count()` — no data pages are read — except for a
    * packed file, whose bucket columns place each row). Empty table →
    * empty frame.
    *
    * FAST PATH: when EVERY bucket of the current manifest carries a
    * zone-map payload (a stats-recording handle, or after
    * [[analyzeStats]]), rows and bytes come straight from the
    * manifest — zero filesystem calls, zero jobs; file counts
    * report -1 (not recorded). One un-statted bucket falls back to
    * the files+footers path for the whole view, so the two sources
    * are never mixed in one frame. */
  def stats(): DataFrame = {
    import spark.implicits._
    val cur = currentManifest()
    cur.foreach { m =>
      if (m.buckets.nonEmpty && m.buckets.keySet.forall(m.zoneStats.contains))
        return m.buckets.toSeq.sorted.map { case (b, c) =>
          val s = m.zoneStats(b)
          (b, c, -1L, s.bytes, s.rows)
        }.toDF("bucket", "commit", "n_files", "total_bytes", "n_rows")
    }
    val listed = cur.toSeq.flatMap(m =>
      BucketedStateTable.filesOf(fs, m.locations(root)).map(m -> _))
    // row counts in ONE job over every bucket file (count-star over an
    // empty data schema reads parquet row-group metadata, no data
    // pages; a packed file reads its bucket columns to place each row)
    // — a per-bucket count() loop would serialize numBuckets
    // scheduler round-trips through the driver for a view a 16k-bucket
    // table wants cheap
    val counts =
      if (listed.isEmpty) Map.empty[Int, Long]
      else BucketedStateTable.scanBuckets(spark, listed.map(_._2),
          Some(new org.apache.spark.sql.types.StructType()), withBucket = true,
          bucketing = cur.flatMap(_.bucketing))
        .groupBy(BucketCol).count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    listed.flatMap { case (m, l) =>
      l.shares.toSeq.map { case (b, bytes) =>
        (b, m.buckets(b), l.files.size.toLong, bytes, counts.getOrElse(b, 0L))
      }
    }.sortBy(_._1).toDF("bucket", "commit", "n_files", "total_bytes", "n_rows")
  }

  /** Replace the ENTIRE table contents with `rows` in one commit — the
    * full-rewrite maintenance primitive under the same lease/manifest
    * discipline as any mutation (re-cluster an index onto new
    * geometry, re-derive a materialized projection). Every bucket is
    * dirty; buckets receiving no rows drop from the manifest. Unlike
    * [[rebucket]] this is a NORMAL commit: the layout is unchanged and
    * history stays time-travelable via [[readAt]]. */
  def replaceAll(rows: DataFrame): Unit =
    BucketedStateTable.lockFor(lockKey).synchronized { withLease {
      rewriteAll(rows)
      ()
    } }

  /** [[replaceAll]]'s commit; the caller holds the lock and lease. */
  private def rewriteAll(rows: DataFrame): CommitStats =
    commit(rows, (0 until numBuckets).toSeq,
      planFull(numBuckets, estimatedBytes(rows)))._1

  /** The rows of the commit this handle last read or wrote through
    * [[readLocal]] / [[updateLocal]], keyed by that commit's id (a
    * commit another handle or process publishes has another id). */
  @volatile private var held: Option[(Long, DataFrame)] = None

  /** The newest snapshot as a driver-local frame, for a table small
    * enough to hold on the driver (the harvest's checkpoint log):
    * collected in one Spark job the first time a commit is seen, then
    * served from memory — no job — while it stays the newest commit.
    * Filters, projections and `collect` on the frame run on the driver.
    * None for a never-created table, like [[read]]. */
  def readLocal(): Option[DataFrame] =
    currentManifest().flatMap { m =>
      held.collect { case (id, df) if id == m.commitId => df }.orElse {
        val local = readFrom(m, m.buckets.keys.toSeq)
          .map(df => spark.createDataFrame(df.collectAsList(), df.schema))
          .orElse(emptyUnder(m))
        local.foreach(df => held = Some(m.commitId -> df))
        local
      }
    }

  /** Read-transform-[[replaceAll]] over [[readLocal]]'s frame: `f` maps
    * the driver-held current rows to the new contents, and the read,
    * `f` and the commit run under the table's lock and writer lease, so
    * no concurrent writer's commit is lost between them. When `f`
    * returns a driver-local frame, that frame is what this handle holds
    * for the commit it wrote, and the next [[readLocal]] or
    * [[updateLocal]] reads no file: on a one-bucket table the commit is
    * the only Spark job. Returns the commit id. */
  def updateLocal(f: Option[DataFrame] => DataFrame): Long =
    BucketedStateTable.lockFor(lockKey).synchronized { withLease {
      val next = f(readLocal())
      val id = rewriteAll(next).commitId
      held = next.queryExecution.optimizedPlan match {
        case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
          Some(id -> next)
        case _ => None
      }
      id
    } }

  /** Publish the CREATING commit — an empty snapshot under `rowSchema`
    * — iff the table has NEVER committed. Unlike [[replaceAll]] (whose
    * full-rewrite semantics overwrite unconditionally), the publish is
    * fenced on `basedOn = 0`, so two lease-blind racing creators
    * resolve to exactly ONE winner: the loser's publish sees the
    * winner's manifest and fails loudly instead of silently emptying a
    * table the winner already filled — the check-then-act window a SQL
    * `CREATE TABLE` / CTAS pair would otherwise race through. */
  def createExclusive(rowSchema: org.apache.spark.sql.types.StructType): Unit =
    BucketedStateTable.lockFor(lockKey).synchronized { withLease {
      if (currentManifest().nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"table at $path already has a committed snapshot — " +
            "createExclusive is the creating commit only")
      val next = nextCommitId()
      beforePublish()
      writeManifest(manifest(next, Map.empty, Map.empty, Some(rowSchema.json)),
        basedOn = 0L)
      last = Some(CommitStats(next, Nil, Nil))
    } }

  /** Read-transform-replace as ONE exclusive operation: `f` maps the
    * current snapshot to the new contents, and BOTH the read and the
    * replacing commit happen under the lock + lease — a caller doing
    * `read()` then `replaceAll(...)` separately would silently discard
    * any merge a concurrent writer lands in between (the commit's
    * conflict check only compares manifest ids, and the interleaved
    * merge IS the newest manifest by then). No-op on an empty table. */
  def replaceAllTransformed(f: DataFrame => DataFrame): Unit =
    BucketedStateTable.lockFor(lockKey).synchronized { withLease {
      // monitor and lease are both reentrant, so the delegation keeps
      // full-rewrite semantics in ONE place
      read().foreach(cur => replaceAll(f(cur)))
    } }

  /** The full rewrite every relayout shares: re-hash the current
    * snapshot into `newNumBuckets` buckets under a fresh data commit and
    * publish it, fenced on the snapshot's base (a commit landing during
    * the rewrite withdraws the relayout — never a rebase: a layout
    * change conflicts with everything). `splitFactor` records a
    * split (`f`) or coalesce (`-f`) with its base. Zone maps come from
    * the writer for every rewritten bucket, so a 100-TB table changing
    * its layout keeps bucket pruning. Returns the published id. */
  private def relayout(newNumBuckets: Int, splitFactor: Option[Int]): Long = {
    val cur = currentManifest()
    val basedOn = cur.map(_.commitId).getOrElse(0L)
    val (snapshot, bytes) = cur.map(m => readSized(m, m.buckets.keys.toSeq))
      .getOrElse((None, 0L))
    val next = nextCommitId()
    val (pointers, files, zstats) = snapshot.fold(
      (Map.empty[Int, Long], Map.empty[Int, StateManifest.DataFile], Map.empty[Int, String]))(
      df => pointersOf(writeBuckets(df, newNumBuckets, planFull(newNumBuckets, bytes),
        next), next))
    beforePublish()
    writeManifest(manifest(next, pointers, files,
        snapshot.map(_.schema.json).orElse(cur.flatMap(_.schemaJson)),
        splitFactor = splitFactor,
        splitBasedOn = splitFactor.map(_ => basedOn),
        bucketStats = zstats,
        layout = newNumBuckets),
      basedOn)
    next
  }

  /** This table under a new bucket count. */
  private def relaidOut(newNumBuckets: Int): BucketedStateTable =
    new BucketedStateTable(spark, path, keyCols, newNumBuckets,
      keepCommits, retentionFloorMillis, bucketCols, leaseStaleMillis,
      leaseAcquireTimeoutMillis, leaseStore, statsCols)

  /** Re-shard the table into `newNumBuckets` buckets IN PLACE — the
    * maintenance op a table that grew 100× needs once [[stats]] shows
    * 100-GB buckets. A lease-guarded full rewrite (the heartbeat keeps
    * the lease alive however long it takes): the current snapshot is
    * re-hashed into the new bucket count under a fresh commit, the new
    * manifest (recording the new layout) publishes via the same atomic
    * rename as any commit, and old-layout manifests are dropped once
    * past the retention floor — history truncates at the rebucket point
    * (`readAt` across a layout change refuses via the layout check;
    * lingering young manifests are collected by later prunes).
    * A concurrent reader that already resolved an old manifest keeps
    * reading its files untouched — old data dirs outlive their
    * manifests by the retention floor, exactly as after any commit.
    *
    * Returns the NEW handle; this instance refuses further reads and
    * writes (its layout check no longer matches the manifest — by
    * design, so a stale handle cannot hash keys into wrong buckets). */
  def rebucket(newNumBuckets: Int): BucketedStateTable =
    BucketedStateTable.lockFor(lockKey).synchronized { withLease {
      require(newNumBuckets > 0, "newNumBuckets must be positive")
      // base captured BEFORE the rewrite and re-checked at the publish
      // (same fence as splitBuckets/coalesceBuckets): a commit landing
      // during the potentially hours-long rewrite must WITHDRAW this
      // relayout — reading the base afterwards would absorb the
      // interloper as basedOn and publish a snapshot missing its rows
      val next = relayout(newNumBuckets, splitFactor = None)
      // Truncate pre-rebucket manifests — through the same
      // condemn-then-reap shield prune() uses: a reader that listed a
      // manifest moments ago must still be able to open it and scan its
      // data for at least the floor. Younger old-layout manifests
      // linger briefly; they cannot be resolved through any handle (the
      // layout check refuses) and later prunes collect them.
      val now = System.currentTimeMillis()
      manifestFiles().filter(_._1 < next).foreach { case (id, st) =>
        condemnOrReap(s"m$id", st.getPath, recursive = false, now)
      }
      relaidOut(newNumBuckets)
    } }

  /** Grow the layout by an integer `factor` (B → B·factor buckets) —
    * the rebucket shape a LIVE table with change-feed consumers needs,
    * because the feed can diff ACROSS it ([[changesBetween]]): under
    * `bucket = hash mod B`, every new bucket `b'` descends from
    * exactly one parent `b' mod B` (for any n, `(n mod B·k) mod B =
    * n mod B`), so a pre-split commit range maps onto post-split
    * buckets without losing bucket pruning — a CDC replica keeps
    * tailing through the boundary instead of being stranded
    * ([[rebucket]] truncates history and the feed refuses, its
    * documented behavior for an arbitrary layout change).
    *
    * Physically this is the same full rewrite as [[rebucket]] (a
    * layout change must move rows; the heartbeat keeps the lease alive
    * however long it takes) with two differences: the split manifest
    * records `splitFactor`/`splitBasedOn` (the mapping evidence), and
    * pre-split manifests are NOT truncated — they age out through the
    * ordinary retention policy, which therefore also bounds how far
    * back a cross-split diff can reach (the feed's standard retention
    * contract). The split itself is a pure rewrite: zero NET row
    * changes, so a feed batch spanning only the split emits nothing.
    *
    * Returns the NEW handle; this instance refuses further reads and
    * writes (layout check), same as after [[rebucket]]. */
  def splitBuckets(factor: Int): BucketedStateTable =
    BucketedStateTable.lockFor(lockKey).synchronized { withLease {
      require(factor >= 2, s"splitBuckets wants a factor >= 2, got $factor")
      val newNumBuckets = math.multiplyExact(numBuckets, factor)
      relayout(newNumBuckets, splitFactor = Some(factor))
      prune()
      relaidOut(newNumBuckets)
    } }

  /** Shrink the layout by an integer `factor` (B → B/factor buckets) —
    * the inverse of [[splitBuckets]], for a table that retention shrank
    * far below its widest layout (an over-split table pays per-bucket
    * file and listing overhead forever otherwise). Same full-rewrite
    * mechanics and the SAME feed continuity: the manifest records the
    * factor NEGATED (`splitFactor = -factor`, `splitBasedOn` = the
    * pre-coalesce base), so the signed chain in
    * [[changedAcrossSplits]] keeps [[changesBetween]] — and every
    * change-feed consumer — exact and bucket-pruned across the
    * boundary in either direction (every old bucket `b`'s rows land in
    * exactly the one parent `b mod B/factor`). Pre-coalesce manifests
    * age out through ordinary retention, which bounds how far back a
    * cross-boundary diff reaches, as with a split. The coalesce itself
    * is a pure rewrite: zero net rows.
    *
    * Returns the NEW handle; this instance refuses further reads and
    * writes (layout check), same as after [[splitBuckets]]. */
  def coalesceBuckets(factor: Int): BucketedStateTable =
    BucketedStateTable.lockFor(lockKey).synchronized { withLease {
      require(factor >= 2, s"coalesceBuckets wants a factor >= 2, got $factor")
      require(numBuckets % factor == 0,
        s"coalesceBuckets($factor) must divide the layout evenly; " +
          s"$numBuckets buckets do not — coalesce by a divisor, or " +
          "rebucket (history-truncating) for an arbitrary count")
      val newNumBuckets = numBuckets / factor
      relayout(newNumBuckets, splitFactor = Some(-factor))
      prune()
      relaidOut(newNumBuckets)
    } }

  /** Export the current snapshot to `outPath` in `format` — the
    * migration bridge out of this bespoke commit log into a
    * production table format's import path (e.g. write parquet, then
    * `CONVERT TO DELTA` / Iceberg `add_files` on a real deployment;
    * those libraries aren't on this classpath, so the contract stops at
    * a clean columnar snapshot). Plain unpartitioned files keyed by
    * `keyCols` row order within each file; returns the exported row
    * count. The read resolves ONE manifest, so the export is a
    * consistent snapshot even if writers keep committing during it. */
  def exportTo(outPath: String, format: String = "parquet"): Long =
    read() match {
      case None =>
        // an empty table has no schema to export (the commit log never
        // saw a row) — create the target dir and export nothing. The
        // TARGET's filesystem, not the table's: the export may cross
        // schemes (hdfs table → s3 export), as Spark's writer does in
        // the non-empty branch
        new Path(outPath)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
          .mkdirs(new Path(outPath))
        0L
      case Some(df) =>
        val snap = df.sortWithinPartitions(keyCols.map(col): _*)
        snap.write.format(format).mode("overwrite").save(outPath)
        spark.read.format(format).load(outPath).count()
    }

  /** Adopt an existing plain-columnar snapshot directory as this
    * table's CREATING commit — the import half of the §7.6 migration
    * contract ([[exportTo]] is the out-bridge; the reference's
    * deployment equivalently assumes pre-populated state tables,
    * `createSequencesAndTablesProductionDB.sql:19-89`). The foreign
    * rows are hash-bucketed into THIS handle's layout (one shuffle on
    * the bucket hash), written per bucket sorted by key, and published
    * as one manifest; afterwards the directory at `inPath` is
    * independent history — the table owns its own copy, so deleting
    * the import source never touches the adopted state. With
    * `analyzeAfter = true` (requires a `statsCols` handle) an ANALYZE
    * pass retrofits zone-map bounds in a metadata-only second commit,
    * so point-lookup bucket pruning works from the first post-import
    * read.
    *
    * Creating-commit only, same discipline as [[createExclusive]]: a
    * table that already committed refuses loudly (merge into it
    * instead — an unconditional adopt would silently replace live
    * state). The snapshot must carry every key column; extra columns
    * import as payload; rows are adopted VERBATIM, including any
    * duplicate keys — dedup the source first if it is not keyed (a
    * later merge resolves duplicates last-write-wins per its own
    * contract, but the imported snapshot itself is not deduped).
    * Returns the adopted row count.
    *
    * 100 TB: one full-snapshot shuffle + write — the unavoidable
    * one-time price of re-bucketing foreign data; every later
    * incremental op is bucket-pruned as usual. Size `numBuckets` for
    * the imported volume UP FRONT (`numBuckets ≈ bytes /
    * targetBucketBytes`) — a rebucket right after an import is a
    * second full rewrite. */
  def importFrom(inPath: String, format: String = "parquet",
      analyzeAfter: Boolean = false): Long =
    BucketedStateTable.lockFor(lockKey).synchronized { withLease {
      if (currentManifest().nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"table at $path already has a committed snapshot — importFrom " +
            "adopts a foreign snapshot as the CREATING commit only; " +
            "merge() into the live table instead")
      require(!analyzeAfter || statsCols.nonEmpty,
        "importFrom(analyzeAfter = true) needs a handle constructed " +
          "with statsCols — there is nothing to ANALYZE otherwise")
      val rows =
        try spark.read.format(format).load(inPath)
        catch {
          // ONLY the no-schema case gets the createExclusive advice —
          // a wrong format, a corrupt footer, or a missing path must
          // surface with their real cause, not be misdiagnosed as an
          // empty export
          case e: org.apache.spark.sql.AnalysisException
              if Option(e.getCondition)
                .exists(_.startsWith("UNABLE_TO_INFER_SCHEMA")) =>
            throw new IllegalArgumentException(
              s"importFrom: the $format snapshot at $inPath has no " +
                "inferable schema (an empty export has no data files — " +
                "bootstrap an empty table with createExclusive instead)", e)
        }
      val missing = keyCols.filterNot(rows.columns.contains)
      require(missing.isEmpty,
        s"imported snapshot at $inPath lacks key column(s) " +
          s"${missing.mkString(", ")} of table $path")
      // stats columns validate BEFORE the creating commit, with the
      // EXACT predicate analyzeStats will apply (presence AND zone-map
      // type eligibility): analyzeStats runs after the commit has
      // published, so a snapshot it would reject would otherwise leave
      // a committed table behind a thrown import — and the retry then
      // refuses because the table has a commit
      require(!analyzeAfter || statsEligible(statsCols, rows.schema).nonEmpty,
        s"imported snapshot at $inPath carries none of the handle's " +
          s"stats column(s) [${statsCols.mkString(",")}] as a " +
          "zone-map-supported type — the analyzeAfter pass would refuse " +
          "AFTER the creating commit; import with analyzeAfter = false " +
          "or export an eligible column")
      rewriteAll(rows)
      if (analyzeAfter) analyzeStats()
      read().map(_.count()).getOrElse(0L)
    } }

  private[pipeline] override def tableRoot: Path = root
  private[pipeline] override def fileSystem = fs
}

object BucketedStateTable {
  /** The buckets a commit writes — the dirty set, its closure or the
    * whole table — in `tasks` write tasks, laid out by `packing`. */
  private final case class WritePlan(buckets: Seq[Int], tasks: Int,
      packing: BucketWriter.Packing)

  private val locks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(path: String): Object =
    locks.computeIfAbsent(path, _ => new Object)

  /** One location of a read — a data file or a legacy bucket
    * directory at `root` — with its files as the manifest names them or
    * the driver listed them, the requested buckets it holds with their
    * byte shares, and whether it also holds buckets not requested. */
  private[graft] final case class BucketFiles(root: Path,
      files: Seq[org.apache.hadoop.fs.FileStatus], shares: Map[Int, Long],
      partial: Boolean = false) {
    def bytes: Long = shares.values.sum
  }

  /** The data files of `locs`: a file straight from its manifest
    * pointers (path and size, no filesystem call), once however many
    * buckets name it; a legacy bucket directory by listing it
    * ([[listBuckets]]). */
  private[graft] def filesOf(fs: org.apache.hadoop.fs.FileSystem,
      locs: Seq[StateManifest.Location]): Seq[BucketFiles] = {
    val listed = listBuckets(fs,
      locs.filter(_.length.isEmpty).map(l => l.shares.head._1 -> l.path))
      .map(l => l.root -> l).toMap
    lazy val blockSize = fs.getDefaultBlockSize(locs.head.path)
    locs.map { l =>
      l.length match {
        case Some(n) =>
          BucketFiles(l.path, Seq(new org.apache.hadoop.fs.FileStatus(
            n, false, 1, blockSize, 0L, fs.makeQualified(l.path))), l.shares, l.partial)
        case None => listed(l.path)
      }
    }
  }

  /** Lists each `(bucket, dir)` with ONE `listStatus` on the driver,
    * keeping the data files and skipping `_`/`.`-prefixed names
    * (`_SUCCESS`, `.crc` checksums, `_temporary/`) the way Spark's own
    * file index does. A missing directory throws
    * `FileNotFoundException`: the snapshot was pruned under the reader.
    * Past [[ListingThreshold]] directories the calls run on a small
    * driver pool, so a wide read on an object store (one LIST round
    * trip per bucket) does not serialize thousands of them. */
  private[graft] def listBuckets(fs: org.apache.hadoop.fs.FileSystem,
      dirs: Seq[(Int, Path)]): Seq[BucketFiles] = {
    def one(b: Int, dir: Path) = {
      val files = fs.listStatus(dir).toSeq.filter { s =>
        val n = s.getPath.getName
        s.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
      BucketFiles(dir, files, Map(b -> files.map(_.getLen).sum))
    }
    if (dirs.size <= ListingThreshold) dirs.map { case (b, d) => one(b, d) }
    else dirs.map { case (b, d) => listingPool.submit(
        new java.util.concurrent.Callable[BucketFiles] { def call() = one(b, d) }) }
      .map { f =>
        try f.get()
        catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
      }
  }

  /** Spark's own `parallelPartitionDiscovery.threshold` default. */
  private val ListingThreshold = 32

  private lazy val listingPool = java.util.concurrent.Executors
    .newFixedThreadPool(8, { (r: Runnable) =>
      val t = new Thread(r, "graft-bucket-listing")
      t.setDaemon(true)
      t
    })

  /** A row's bucket under `layout` buckets of `cols`. */
  private[graft] def bucketExpr(cols: Seq[String], layout: Int): org.apache.spark.sql.Column =
    pmod(xxhash64(cols.map(col): _*), lit(layout.toLong)).cast("int")

  /** Scans already-listed bucket files as parquet relations over a
    * [[ListedFileIndex]], under `schema` (None = inferred from the
    * listed files' footers, for manifests that predate the schema
    * line). With `withBucket` the rows also carry their bucket id as
    * the `__bucket` column: the partition value of a one-bucket file,
    * computed from the bucket columns (`bucketing`, as
    * [[StateManifest.bucketing]] gives them) for a file holding several.
    * A `partial` file keeps only the rows of its requested buckets, so
    * a read of any bucket subset is exact. Building the frame launches
    * no Spark job: `spark.read.parquet` over more than
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32)
    * directories runs a listing job with one task per directory, which
    * dominated the state layer's reads at ~30 ms per task. */
  private[graft] def scanBuckets(spark: SparkSession, listed: Seq[BucketFiles],
      schema: Option[org.apache.spark.sql.types.StructType],
      withBucket: Boolean = false,
      bucketing: Option[(Seq[org.apache.spark.sql.types.StructField], Int)] = None)
      : DataFrame = {
    import org.apache.spark.sql.types._
    val format = new ParquetFileFormat
    val dataSchema = schema
      .orElse(format.inferSchema(spark, Map.empty, listed.flatMap(_.files)))
      .getOrElse(throw new IllegalStateException(
        "unable to infer a parquet schema: the manifest records none and " +
          s"the ${listed.size} listed bucket directories hold no data files"))
    // a file read whole needs its rows placed only for `withBucket`, and
    // then only when it holds several buckets
    val (plain, shared) = listed.partition(l =>
      !l.partial && (!withBucket || l.shares.size == 1))
    val plains = relation(spark, dataSchema, plain.map(l =>
      (l.files, if (withBucket) Some(l.shares.head._1) else None)), withBucket)
    if (shared.isEmpty) return plains
    val (fields, layout) = bucketing.getOrElse(throw new IllegalStateException(
      "a data file holds several buckets but the manifest records no layout"))
    val out = dataSchema.fieldNames.toSeq.map(StateOps.qcol) ++
      (if (withBucket) Seq(col(StateManifest.BucketCol)) else Nil)
    val wanted = shared.filter(_.partial).flatMap(_.shares.keys)
    val raw = relation(spark,
      StructType(dataSchema.fields ++ fields.filterNot(f => dataSchema.fieldNames.contains(f.name))),
      shared.map(l => (l.files, None)), withBucket = false)
    val placed =
      if (withBucket || wanted.nonEmpty)
        raw.withColumn(StateManifest.BucketCol, bucketExpr(fields.map(_.name), layout))
      else raw
    val kept =
      if (wanted.isEmpty) placed
      else placed.filter(col(StateManifest.BucketCol).isin(wanted.distinct.map(Integer.valueOf): _*))
    val packed = kept.select(out: _*)
    if (plain.isEmpty) packed else plains.union(packed)
  }

  /** One parquet relation over groups of files, each with its
    * `__bucket` partition value when `withBucket`. */
  private def relation(spark: SparkSession,
      dataSchema: org.apache.spark.sql.types.StructType,
      groups: Seq[(Seq[org.apache.hadoop.fs.FileStatus], Option[Int])],
      withBucket: Boolean): DataFrame = {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.execution.datasources.HadoopFsRelation
    val partitionSchema =
      if (withBucket) StructType(Seq(StructField(StateManifest.BucketCol, IntegerType)))
      else new StructType()
    val parts = groups.map { case (files, bucket) =>
      org.apache.spark.sql.execution.datasources.PartitionDirectory(
        bucket.fold(org.apache.spark.sql.catalyst.InternalRow.empty)(
          org.apache.spark.sql.catalyst.InternalRow(_)),
        files.toArray)
    }
    // file sources read every column as nullable, whatever the files or
    // the recorded schema say (DataSource.resolveRelation does the same)
    spark.baseRelationToDataFrame(HadoopFsRelation(
      ListedFileIndex(partitionSchema, parts),
      partitionSchema, asNullable(dataSchema).asInstanceOf[StructType],
      None, new ParquetFileFormat, Map.empty)(spark))
  }

  private def asNullable(
      dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = asNullable(f.dataType), nullable = true)))
      case a: ArrayType => ArrayType(asNullable(a.elementType), containsNull = true)
      case m: MapType => MapType(asNullable(m.keyType),
        asNullable(m.valueType), valueContainsNull = true)
      case other => other
    }
  }

  /** Static marker probe: was (batchId, streamScope) already committed
    * against the table at `path`? The cheap replay pre-check a sink
    * runs BEFORE ferrying a batch the guarded merge would discard
    * ([[graft.pipeline.StateTable]]'s BatchMarkers, same files). */
  def batchSeen(hadoopConf: org.apache.hadoop.conf.Configuration,
      path: String, batchId: Long, streamScope: String): Boolean = {
    val root = new Path(path)
    BatchMarkers.seen(root.getFileSystem(hadoopConf), root, batchId, streamScope)
  }

  /** Ids of the manifests currently published at `path`, oldest →
    * newest — the static twin of the instance's `commits()`, for
    * readers that hold no table instance (the DSv2 source). */
  def snapshotCommits(hadoopConf: org.apache.hadoop.conf.Configuration,
      path: String): Seq[Long] =
    listed(hadoopConf, path).map(_._1)

  /** `(commitId, publishedAtMillis)` per retained manifest, oldest →
    * newest, from the directory listing ALONE (no file reads) — what
    * `TIMESTAMP AS OF` resolution needs; on an object store this is one
    * LIST, never a GET per manifest. */
  def snapshotCommitTimes(hadoopConf: org.apache.hadoop.conf.Configuration,
      path: String): Seq[(Long, Long)] =
    listed(hadoopConf, path).map { case (id, s) => (id, s.getModificationTime) }

  /** `(commitId, publishedAtMillis, nBuckets)` for every retained
    * manifest, oldest → newest — the audit/history listing behind the
    * SQL `t$history` metadata table and `TIMESTAMP AS OF` resolution.
    * `publishedAtMillis` is the manifest file's modification time: the
    * atomic rename that published it, i.e. the moment the commit became
    * visible. Bounded by retention (`keepCommits` + the floor), so the
    * listing is always small. */
  def snapshotHistory(hadoopConf: org.apache.hadoop.conf.Configuration,
      path: String): Seq[(Long, Long, Int)] = {
    val root = new Path(path)
    val fs = root.getFileSystem(hadoopConf)
    StateManifest.list(fs, root).map { case m @ (id, s) =>
      (id, s.getModificationTime, StateManifest.load(fs, root, m).buckets.size)
    }
  }

  private def listed(hadoopConf: org.apache.hadoop.conf.Configuration,
      path: String) = {
    val root = new Path(path)
    StateManifest.list(root.getFileSystem(hadoopConf), root)
  }

  /** Resolve ONE committed snapshot of the table at `path` — the newest
    * manifest, or the manifest of `commit` (time travel) — to its
    * concrete bucket data, by bucket: each bucket's file, or its
    * directory for a bucket written in the legacy layout. A manifest is
    * immutable once published and its rename was the atomic commit
    * point, so the returned path list IS one consistent snapshot no
    * matter what writers do afterwards (pruning retains `keepCommits`
    * manifests plus a time floor, the same protection the instance
    * reader relies on). Nil when the table has no committed snapshot
    * (or the chosen commit published an empty table). No layout check:
    * a pure reader does not care how keys were hashed into buckets.
    * [[StateManifest.snapshot]] gives every other field of the same
    * manifest. */
  def snapshotPaths(hadoopConf: org.apache.hadoop.conf.Configuration,
      path: String, commit: Option[Long] = None): Seq[String] =
    StateManifest.snapshot(hadoopConf, path, commit).toSeq
      .flatMap(_.locations(new Path(path))).map(_.path.toString)

  /** The physical layout a writer must reproduce to mutate the table at
    * `path` — merge key, bucket columns, bucket count — as its newest
    * manifest records them ([[StateManifest.layout]]). This is what
    * lets a handle-less writer (the DSv2 SQL INSERT surface) construct
    * the exact [[BucketedStateTable]] instance and go through the real
    * commit protocol. */
  case class Layout(keyCols: Seq[String], bucketCols: Seq[String],
      numBuckets: Int,
      keepCommits: Option[Int] = None,
      retentionFloorMillis: Option[Long] = None,
      // the owner's zone-map policy: a handle-less writer (SQL INSERT/
      // DML) must keep recording the stats the owner's readers prune by
      statsCols: Seq[String] = Nil)

  /** Construct the exact instance a recorded layout describes — the ONE
    * place a handle-less consumer (the SQL write surface, the streaming
    * sink, the change-feed source) maps layout lines to constructor
    * parameters. Manifests that predate the retention-policy lines map
    * to NEVER-prune: a handle that does not know the owner's policy
    * must not prune history the owner keeps. */
  def fromLayout(spark: SparkSession, path: String,
      layout: Layout): BucketedStateTable =
    new BucketedStateTable(spark, path,
      keyCols = layout.keyCols, numBuckets = layout.numBuckets,
      keepCommits = layout.keepCommits.getOrElse(Int.MaxValue),
      retentionFloorMillis =
        layout.retentionFloorMillis.getOrElse(Long.MaxValue / 4),
      bucketCols =
        if (layout.bucketCols == layout.keyCols) Nil else layout.bucketCols,
      statsCols = layout.statsCols)
}

/** A file index over bucket files the driver has ALREADY listed
  * ([[BucketedStateTable.listBuckets]]): `listFiles` hands the listing
  * back, pruned by any partition (`__bucket`) filter, so a scan of any
  * number of bucket directories plans without Spark's listing job.
  * Equality is by the listed files, so two reads of the same snapshot
  * compare equal for plan reuse and caching, as Spark's own
  * path-keyed indexes do. */
private[graft] final case class ListedFileIndex(
    partitionSchema: org.apache.spark.sql.types.StructType,
    parts: Seq[org.apache.spark.sql.execution.datasources.PartitionDirectory])
    extends org.apache.spark.sql.execution.datasources.FileIndex {
  import org.apache.spark.sql.catalyst.expressions._
  import org.apache.spark.sql.execution.datasources.PartitionDirectory

  private def statuses = parts.flatMap(_.files).map(_.fileStatus)

  override def rootPaths: Seq[Path] =
    parts.flatMap(_.files.headOption).map(_.fileStatus.getPath.getParent).distinct

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    partitionFilters.reduceOption(And) match {
      case None => parts
      case Some(f) =>
        val keep = Predicate.createInterpreted(f.transform {
          case a: AttributeReference =>
            val i = partitionSchema.fieldIndex(a.name)
            BoundReference(i, partitionSchema(i).dataType, nullable = true)
        })
        parts.filter(p => keep.eval(p.values))
    }

  override def inputFiles: Array[String] =
    statuses.map(_.getPath.toString).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = statuses.map(_.getLen).sum
}

private[graft] object ListedFileIndex {
  /** Spark's own `InMemoryFileIndex` over data files the driver already
    * holds — the `PartitioningAwareFileIndex` a DSv2 parquet scan
    * needs. `roots` are `(path, files)`: a bucket file with itself, or
    * a legacy bucket directory with its listed files. The index's
    * status cache answers every root from `roots`, so building it lists
    * nothing and starts no Spark job, however many roots there are
    * (uncached, it lists them with a job past
    * `spark.sql.sources.parallelPartitionDiscovery.threshold`). Each
    * root is its own base path, so no partition column is inferred. */
  def partitionAware(spark: SparkSession,
      roots: Seq[(Path, Array[org.apache.hadoop.fs.FileStatus])],
      schema: Option[org.apache.spark.sql.types.StructType],
      options: Map[String, String])
      : org.apache.spark.sql.execution.datasources.InMemoryFileIndex = {
    val known = roots.toMap
    new org.apache.spark.sql.execution.datasources.InMemoryFileIndex(
      spark, roots.map(_._1), options, schema,
      new org.apache.spark.sql.execution.datasources.FileStatusCache {
        override def getLeafFiles(p: Path) = known.get(p)
        override def putLeafFiles(p: Path, files: Array[org.apache.hadoop.fs.FileStatus]): Unit = ()
        override def invalidateAll(): Unit = ()
      }, None, None)
  }
}
