package graft.pipeline

import org.apache.hadoop.fs.{FileSystem, Path}

/** Conditional-write primitive behind the writer lease — the seam that
  * closes the stale-takeover race where the backing store can (the
  * read-then-write windows a plain filesystem forces). Every
  * mutation is conditioned on the lease's CURRENT VALUE (value-CAS,
  * no etag bookkeeping): a holder's heartbeat can only refresh the
  * exact lease it last wrote, a waiter's stale break can only replace
  * the exact stale value it judged, and a release can only delete the
  * holder's own value — so with an atomic implementation, two writers
  * racing through takeover/beat/release can never clobber each other.
  *
  * Implementations:
  *  - [[HadoopLeaseStore]] — the local-FS / HDFS fallback. On the
  *    local FS: `tryCreate` via hard-link create-if-absent, refresh
  *    via ATOMIC_MOVE, `takeOver` via the rename-to-tombstone
  *    election. On any non-local FS it runs a VERSIONED-SLOT layout
  *    ([[VersionedSlotStore]]) in which every conditional write is a
  *    rename-refusing-existing election on the next version name —
  *    a true CAS wherever rename is atomic (HDFS is), and a holder's
  *    refresh NEVER passes through an absent slot (the pre-r19
  *    delete-then-rename window that let a waiter claim a LIVE
  *    holder's slot mid-heartbeat is gone).
  *  - [[InMemoryCasStore]] — a genuinely atomic value-CAS
  *    (AtomicReference), the reference implementation an object-store
  *    adapter (S3 If-Match, GCS generation preconditions, etcd) should
  *    mirror; also what the contention spec drives to prove the fenced
  *    protocol. One instance per coordination scope, shared by all
  *    in-process writers.
  *
  * Lease values are small opaque byte strings; content equality is the
  * condition. The protocol ([[WriterLease]]) makes every value unique
  * per write (holder UUID + stamp), so value-CAS is as strong as
  * version-CAS here. */
trait LeaseStore {
  // Error contract, shared by every method: a boolean `false` (or a
  // `None`) means the CONDITION genuinely failed — the value exists /
  // mismatches / is absent — never that the store was unreachable. A
  // transient store failure must surface as `java.io.IOException`
  // instead, so the protocol can retry it: a heartbeat that read
  // "usurped" from a network blip would stop beating permanently, a
  // long commit would then look stale, and a waiter would break the
  // lease MID-WRITE — the exact double-writer interleaving the lease
  // exists to prevent.

  /** Create-if-absent. True iff this call created the value. */
  def tryCreate(content: Array[Byte]): Boolean
  /** Current value, if any. */
  def read(): Option[Array[Byte]]
  /** Holder's refresh: replace `expect` with `next` iff the current
    * value equals `expect`. */
  def replaceIf(expect: Array[Byte], next: Array[Byte]): Boolean
  /** Waiter's stale break: same condition as [[replaceIf]], but
    * implementations without a true CAS may use a stronger-than-
    * overwrite election primitive here (the FS tombstone rename). */
  def takeOver(expect: Array[Byte], next: Array[Byte]): Boolean
  /** Delete iff the current value equals `expect`. */
  def deleteIf(expect: Array[Byte]): Boolean
}

/** Filesystem lease slot (`_lease` under the table root).
  *
  * Two layouts, picked once at construction:
  *  - '''Local FS''' — a single file at `path`. Publication is atomic
  *    via raw java.nio on the underlying file (Hadoop's local rename
  *    delegates to POSIX rename(2), which silently REPLACES an
  *    existing destination and would let two racing creates both
  *    "win"): `tryCreate` = hard-link create-if-absent WITH content,
  *    refresh = ATOMIC_MOVE rename-over, `takeOver` = the
  *    rename-to-tombstone election. `replaceIf`/`deleteIf` keep the
  *    read-compare-write window (best-effort), but a reader observes
  *    absent, the old value, or the new value — never empty bytes.
  *  - '''Non-local FS (HDFS-style)''' — delegates every operation to
  *    a [[VersionedSlotStore]] at `path` (a DIRECTORY of version
  *    files). There the version-name rename election makes every
  *    conditional write a true CAS wherever rename-refusing-existing
  *    is atomic (HDFS's namenode rename is), and — the r19 fix — a
  *    holder's heartbeat refresh never passes through an ABSENT slot,
  *    so a polling waiter can no longer claim a LIVE holder's slot
  *    mid-refresh (the old delete-then-rename overwrite's window).
  *
  * Correctness never rests on the lease — the manifest `basedOn`
  * check fences the loser — the lease only converts retry storms
  * into waiting; the versioned layout additionally removes the
  * spurious-lease-loss churn under contention. */
final class HadoopLeaseStore(fs: FileSystem, path: Path) extends LeaseStore {

  /** The underlying java.io.File when `fs` is the local filesystem
    * (checksummed or raw); None → go through the Hadoop API. */
  private def localFile(p: Path): Option[java.io.File] = fs match {
    case l: org.apache.hadoop.fs.LocalFileSystem => Some(l.pathToFile(p))
    case r: org.apache.hadoop.fs.RawLocalFileSystem => Some(r.pathToFile(p))
    case _ => None
  }

  /** Non-local FS → the versioned-slot layout (see class doc). */
  private val versioned: Option[VersionedSlotStore] =
    if (localFile(path).isDefined) None
    else Some(new VersionedSlotStore(fs, path))

  /** Drop a stale ChecksumFileSystem sidecar after a raw-nio publish:
    * the lease value never goes through `fs.create` on the local FS
    * anymore, so a leftover `.name.crc` from an older writer would
    * mismatch and fail reads forever. */
  private def dropCrcSidecar(dst: java.io.File): Unit = {
    val crc = new java.io.File(dst.getParentFile, s".${dst.getName}.crc")
    if (crc.exists()) crc.delete()
  }

  private def tmpFor(dst: java.io.File): java.io.File =
    new java.io.File(dst.getParentFile,
      s".${dst.getName}.tmp.${java.util.UUID.randomUUID()}")

  override def tryCreate(content: Array[Byte]): Boolean =
    versioned match {
      case Some(v) => v.tryCreate(content)
      case None =>
        val dst = localFile(path).get
        java.nio.file.Files.createDirectories(dst.getParentFile.toPath)
        val tmp = tmpFor(dst)
        java.nio.file.Files.write(tmp.toPath, content)
        try {
          java.nio.file.Files.createLink(dst.toPath, tmp.toPath)
          dropCrcSidecar(dst)
          true
        } catch {
          // the existence signal — the slot is held
          case _: java.nio.file.FileAlreadyExistsException => false
          // anything else is a transient store failure: propagates
          // per the trait contract
        } finally java.nio.file.Files.deleteIfExists(tmp.toPath)
    }

  override def read(): Option[Array[Byte]] = versioned match {
    case Some(v) => v.read()
    case None =>
      try {
        val in = fs.open(path)
        try {
          val buf = new java.io.ByteArrayOutputStream()
          val chunk = new Array[Byte](4096)
          var n = in.read(chunk)
          while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
          Some(buf.toByteArray)
        } finally in.close()
      } catch {
        // absent is the only IOException that MEANS "no value"; a
        // transient failure propagates so a heartbeat doesn't read it
        // as "usurped" and stop beating
        case _: java.io.FileNotFoundException => None
      }
  }

  override def replaceIf(expect: Array[Byte], next: Array[Byte]): Boolean =
    versioned match {
      case Some(v) => v.replaceIf(expect, next)
      case None =>
        read().exists(java.util.Arrays.equals(_, expect)) && {
          // the read-compare-write window is the documented local
          // best-effort residual; the PUBLICATION itself is atomic —
          // old value or new value, never empty bytes, never ABSENT
          val dst = localFile(path).get
          val tmp = tmpFor(dst)
          java.nio.file.Files.write(tmp.toPath, next)
          try {
            java.nio.file.Files.move(tmp.toPath, dst.toPath,
              java.nio.file.StandardCopyOption.ATOMIC_MOVE,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
            dropCrcSidecar(dst)
            true
          } finally java.nio.file.Files.deleteIfExists(tmp.toPath)
        }
    }

  override def takeOver(expect: Array[Byte], next: Array[Byte]): Boolean =
    versioned match {
      // the version-name election IS the break CAS: of N waiters that
      // judged the same stale value (same version), exactly one
      // publish of version+1 wins — no tombstone pass-through-absent
      case Some(v) => v.takeOver(expect, next)
      case None =>
        read().exists(java.util.Arrays.equals(_, expect)) && {
          // rename to a unique tombstone: of N waiters that all judged
          // the same stale value, exactly one rename wins and frees the
          // slot — delete-then-create would let two waiters both delete
          // (the second deleting the NEW holder's fresh lease) and both
          // acquire. A FALSE rename is the lost election; an
          // IOException is a store failure and propagates.
          val tomb = new Path(path.getParent,
            s"${path.getName}.broken.${java.util.UUID.randomUUID()}")
          if (fs.rename(path, tomb)) {
            try fs.delete(tomb, false)
            catch { case _: java.io.IOException => () } // residue is harmless
            tryCreate(next)
          } else false
        }
    }

  override def deleteIf(expect: Array[Byte]): Boolean = versioned match {
    case Some(v) => v.deleteIf(expect)
    case None =>
      read().exists(java.util.Arrays.equals(_, expect)) &&
        fs.delete(path, false)
  }
}

/** Versioned lease slot for HDFS-style filesystems: `dir` holds zero
  * or more version files `v<19-digit-seq>`; the slot's CURRENT value
  * is the highest version's bytes (empty bytes = a published
  * tombstone = absent). Every mutation publishes the NEXT version
  * under its exact name via rename — and rename-refusing-existing is
  * atomic on HDFS — so of N writers that judged the same current
  * version, exactly one election wins: a true value-CAS, with the
  * version number as the fencing token.
  *
  * The property this layout buys over a single overwritten file
  * (HDFS rename refuses an existing destination, forcing
  * delete-then-rename): '''no transition ever passes through an
  * observable ABSENT state''' (sole exception: the one-time migration
  * of a pre-r19 single-file slot, see `publish`). A holder's
  * heartbeat refresh publishes
  * v(n+1) while v(n) still exists; readers take the max, so they see
  * the old value or the new value, never a holderless slot — the
  * pre-r19 window in which a polling waiter could legitimately claim
  * a LIVE holder's slot mid-refresh is structurally gone. Even a
  * conditional DELETE publishes (a tombstone) rather than removing,
  * so a racing `tryCreate` must still win the next version's
  * election.
  *
  * Old versions are garbage-collected after each successful publish
  * (best-effort — readers take the max, so residue is harmless; a
  * reader whose listed top version vanishes mid-read simply rescans,
  * because a vanished top version PROVES a newer one exists). */
final class VersionedSlotStore(fs: FileSystem, dir: Path) extends LeaseStore {

  private val VersionName = raw"v(\d{19})".r

  /** Version-less listings after which [[scan]] takes the slot as
    * absent. */
  private val ConfirmAbsent = 3

  private def fileFor(v: Long): Path = new Path(dir, f"v$v%019d")

  /** Pre-r19 layouts left the lease as a single FILE at `dir`; the
    * versioned layout needs a DIRECTORY there. The legacy value reads
    * as version 0 (so conditional ops can judge and break it), and the
    * first publish migrates: it wins a one-time rename-aside election
    * on the file, then creates the directory. Without this, a live or
    * crashed old-layout holder would read as ABSENT and every publish
    * would fail against the occupying file — a permanently wedged slot
    * after an upgrade. */
  private def legacyFile(): Option[org.apache.hadoop.fs.FileStatus] =
    try {
      val st = fs.getFileStatus(dir)
      if (st.isFile) Some(st) else None
    } catch { case _: java.io.FileNotFoundException => None }

  private def readFully(p: Path): Array[Byte] = {
    val in = fs.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](4096)
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      buf.toByteArray
    } finally in.close()
  }

  /** (version, bytes) of the highest published version; None when the
    * slot directory is missing or holds no version file. A pre-r19
    * single-file slot reads as version 0. Retries when the top version
    * is GC'd between list and open (progress proof: each retry means a
    * strictly newer version was published).
    *
    * A listing that names no version is re-listed before it is
    * believed. Once created, a slot always holds its top version (GC
    * deletes strictly below it, a delete publishes a tombstone), but a
    * listing is not atomic: `RawLocalFileSystem.listStatus` reads the
    * directory's names, then stats each one and silently drops a name
    * deleted in between. A listing taken just before a refresh
    * published v(n+1) and GC'd v(n) therefore names neither, and a
    * polling waiter read a beating holder's slot as EMPTY. Only
    * [[ConfirmAbsent]] version-less listings in one scan answer None: a
    * slot whose first version is not yet published, or a crash
    * leftover. */
  private def scan(): Option[(Long, Array[Byte])] = {
    var attempts = 0
    var versionless = 0
    while (attempts < 64) {
      attempts += 1
      val listed =
        try fs.listStatus(dir)
        catch { case _: java.io.FileNotFoundException => return None }
      // legacy single-file slot: listStatus on a FILE path returns that
      // file's own status (no extra getFileStatus round-trip per scan —
      // reads and heartbeats stay one namenode RPC). A version file can
      // never alias this shape: their names are v-prefixed, not the
      // slot's own name.
      if (listed.length == 1 && listed(0).isFile &&
          listed(0).getPath.getName == dir.getName) {
        try return Some((0L, readFully(dir)))
        catch {
          // migrated (renamed aside) between the list and the read —
          // the directory layout exists now (or is being laid). Loop
          // back for a FRESH listing: the stale single-entry list has
          // no version names and would mis-answer None for a live
          // slot. Only FileNotFound means "migrated" (open on a
          // directory throws it on both local FS and HDFS); any other
          // IOException is a transient store failure and PROPAGATES
          // per the LeaseStore error contract — a blip must never
          // read as "absent".
          case _: java.io.FileNotFoundException => ()
        }
      } else {
        var top = -1L
        listed.foreach { st =>
          st.getPath.getName match {
            case VersionName(d) => val v = d.toLong; if (v > top) top = v
            case _ => ()
          }
        }
        if (top < 0L) {
          versionless += 1
          if (versionless >= ConfirmAbsent) return None
        } else try return Some((top, readFully(fileFor(top))))
        catch {
          // GC'd under us — a newer version exists; rescan
          case _: java.io.FileNotFoundException => ()
        }
      }
    }
    // pathological churn: surface as the transient-failure arm of the
    // LeaseStore error contract (the protocol retries after a poll)
    throw new java.io.IOException(
      s"versioned lease slot $dir: the top version kept vanishing " +
        "across 64 scans — extreme churn or a broken store")
  }

  /** Election publish of version `v`: true iff THIS call created it
    * AND it is still the top version afterwards. A refused rename
    * against an existing destination is the lost election; any other
    * refusal is a store failure and propagates.
    *
    * The post-win TOP CHECK closes a GC re-win hole: after a holder
    * publishes v6 then v7, its GC deletes v6 — so a slow writer that
    * judged at v5 could now create the FREED name v6 and believe it
    * won, while v7 is the real current version (two holders). A name
    * can only be re-created after some HIGHER version already exists
    * (GC deletes strictly below the top, so the top itself never
    * vanishes without a successor), therefore: top == v after the
    * rename ⟺ the win is genuine; top > v ⟹ withdraw (the file is
    * invisible to readers, who take the max) and report the loss. */
  private def publish(v: Long, content: Array[Byte],
      judged: Array[Byte]): Boolean = {
    // one-time legacy migration (see [[legacyFile]]): win the
    // rename-aside election on the pre-r19 single-file slot, VERIFY
    // the win, then lay the directory down. The migration is the ONLY
    // transition that passes through an observable ABSENT window —
    // once per upgraded slot, never per heartbeat. Two post-rename
    // verifications keep the election honest:
    //  - the renamed-aside object must be a FILE: a racer that
    //    migrated between our probe and our rename leaves a LIVE
    //    versioned DIRECTORY at the slot, and renaming THAT aside
    //    would destroy the racer's current lease — restore and lose;
    //  - its bytes must still equal `judged` (what the caller's scan
    //    observed): a live pre-r19 holder's in-place refresh landing
    //    between judgment and rename must defeat the break, the same
    //    value-conditional contract every other transition honors.
    val asideOpt: Option[Path] =
      if (legacyFile().isDefined) {
        val aside = new Path(dir.getParent,
          s"${dir.getName}.legacy.${java.util.UUID.randomUUID()}")
        if (!fs.rename(dir, aside)) return false // a racer migrated first
        // From here until the verified win, ANY failure must put the
        // slot back before surfacing — a thrown blip after the rename
        // would otherwise leave the live lease marooned under a UUID
        // name and the slot reading absent.
        val intact =
          try {
            val asideIsFile =
              try fs.getFileStatus(aside).isFile
              catch { case _: java.io.FileNotFoundException => false }
            asideIsFile && java.util.Arrays.equals(readFully(aside), judged)
          } catch {
            case e: java.io.IOException => restoreAside(aside); throw e
          }
        if (!intact) { restoreAside(aside); return false }
        // the verified legacy bytes stay renamed-aside until a
        // replacement VERSION FILE is durably in place — deleting them
        // here would let a crash or transient IOException in the
        // following mkdirs/create/rename destroy the lease value
        // permanently while the slot reads absent (r19 ADVICE)
        Some(aside)
      } else None
    // exception-path rollback for the migration: put the legacy file
    // back ONLY if the slot can be emptied without touching anyone
    // else's work — we delete OUR tmp file (exact name) and then the
    // directory NON-recursively, which the filesystem refuses if any
    // other object (a racer's version file, a racer's tmp) landed in
    // the window. A recursive delete here could destroy a racer's
    // just-won lease between our emptiness check and the delete —
    // check-then-delete is not atomic; delete-if-empty is. If the dir
    // cannot be emptied, a racer owns the slot and the aside stays as
    // inspectable residue. Best-effort: we are already surfacing the
    // original exception.
    val dst = fileFor(v)
    val tmp = new Path(dir, s".v.tmp.${java.util.UUID.randomUUID()}")
    def rollbackMigration(): Unit = asideOpt.foreach { aside =>
      try {
        try fs.delete(tmp, false)
        catch { case _: java.io.IOException => () }
        if (!fs.exists(dir) || fs.delete(dir, false)) restoreAside(aside)
      } catch { case _: java.io.IOException => () }
    }
    val renamed =
      try {
        fs.mkdirs(dir)
        val out = fs.create(tmp, false)
        try out.write(content) finally out.close()
        try {
          if (fs.rename(tmp, dst)) true
          else if (fs.exists(dst)) false
          else throw new java.io.IOException(
            s"lease publish: rename($tmp -> $dst) refused with no " +
              "existing destination")
        } finally {
          try fs.delete(tmp, false)
          catch { case _: java.io.IOException => () } // residue harmless
        }
      } catch { case e: Throwable => rollbackMigration(); throw e }
    // migration completes only now: either our version file is durably
    // named, or a racer's is (renamed == false ⟹ dst already existed)
    // — in both cases the slot holds a successor and the aside bytes
    // are superseded
    asideOpt.foreach { aside =>
      try fs.delete(aside, false)
      catch { case _: java.io.IOException => () } // residue harmless
    }
    val won = renamed && {
      val stillTop = !fs.listStatus(dir).exists(st =>
        st.getPath.getName match {
          case VersionName(d) => d.toLong > v
          case _ => false
        })
      if (!stillTop) {
        // superseded while we raced: our file can never be the max a
        // reader resolves — withdraw it and lose the election
        try fs.delete(dst, false)
        catch { case _: java.io.IOException => () }
      }
      stillTop
    }
    if (won) gcBelow(v)
    won
  }

  /** Undo a migration rename-aside: the slot must currently be ABSENT
    * for the restore to mean "exactly as we found it" — Hadoop rename
    * into an EXISTING directory succeeds by NESTING the source inside
    * it (burying a racer's live slot or the legacy lease), so a
    * rebuilt slot fails the restore loudly instead; if a racer slips
    * in between the check and the rename, the nested object is pulled
    * back out before failing, so nothing is ever silently buried.
    * Correctness under the loud failure is backed by the manifest
    * `basedOn` fence, as for every lease anomaly. */
  private def restoreAside(aside: Path): Unit = {
    def fail(): Nothing = throw new java.io.IOException(
      s"lease slot $dir: could not restore the renamed-aside slot " +
        s"$aside — a concurrent writer rebuilt the slot; manual " +
        "cleanup of the aside object may be needed")
    val occupied =
      try { fs.getFileStatus(dir); true }
      catch { case _: java.io.FileNotFoundException => false }
    if (occupied || !fs.rename(aside, dir)) fail()
    val nested = new Path(dir, aside.getName)
    val wasNested =
      try { fs.getFileStatus(nested); true }
      catch { case _: java.io.FileNotFoundException => false }
    if (wasNested) {
      // a racer rebuilt the slot between the check and the rename and
      // our restore nested into it — pull it back out, then fail loud
      try fs.rename(nested, aside)
      catch { case _: java.io.IOException => () }
      fail()
    }
  }

  /** Best-effort GC of versions `< v` — failures are harmless (readers
    * take the max) and must not fail the publish that already won. */
  private def gcBelow(v: Long): Unit =
    try fs.listStatus(dir).foreach { st =>
      st.getPath.getName match {
        case VersionName(d) if d.toLong < v =>
          try fs.delete(st.getPath, false)
          catch { case _: java.io.IOException => () }
        case _ => ()
      }
    } catch { case _: java.io.IOException => () }

  /** Empty bytes encode the tombstone; the lease protocol never writes
    * an empty value (`holder\nstamp\n`), so nothing legitimate is
    * excluded — but refuse loudly rather than silently publish an
    * "absent" that reads back as None. */
  private def requireNonEmpty(value: Array[Byte]): Unit =
    require(value.nonEmpty,
      "empty lease values are reserved for the tombstone encoding")

  override def tryCreate(content: Array[Byte]): Boolean = {
    requireNonEmpty(content)
    scan() match {
      case Some((_, bytes)) if bytes.nonEmpty => false // held
      case Some((v, bytes)) => // tombstone → elect next
        publish(v + 1, content, judged = bytes)
      case None => publish(1L, content, judged = Array.emptyByteArray)
    }
  }

  override def read(): Option[Array[Byte]] =
    scan().collect { case (_, bytes) if bytes.nonEmpty => bytes }

  override def replaceIf(expect: Array[Byte], next: Array[Byte]): Boolean = {
    requireNonEmpty(next)
    scan() match {
      case Some((v, bytes))
          if bytes.nonEmpty && java.util.Arrays.equals(bytes, expect) =>
        publish(v + 1, next, judged = bytes)
      case _ => false
    }
  }

  override def takeOver(expect: Array[Byte], next: Array[Byte]): Boolean =
    replaceIf(expect, next)

  override def deleteIf(expect: Array[Byte]): Boolean =
    scan() match {
      case Some((v, bytes))
          if bytes.nonEmpty && java.util.Arrays.equals(bytes, expect) =>
        publish(v + 1, Array.emptyByteArray, judged = bytes) // published "absent"
      case _ => false
    }
}

/** Atomic value-CAS lease slot — the semantics a conditional-put
  * object store gives. Linearized on the instance monitor with VALUE
  * comparison (an AtomicReference.compareAndSet would compare the
  * Option wrapper by reference and never match a value re-read through
  * [[read]]); in-process, so it also serves as real coordination for
  * multiple writer THREADS sharing a JVM, and as the contention spec's
  * probe that the [[WriterLease]] protocol is fully fenced when the
  * primitive is. */
final class InMemoryCasStore extends LeaseStore {
  private var cur: Option[Seq[Byte]] = None

  override def tryCreate(content: Array[Byte]): Boolean = synchronized {
    if (cur.isEmpty) { cur = Some(content.toSeq); true } else false
  }

  override def read(): Option[Array[Byte]] =
    synchronized { cur.map(_.toArray) }

  override def replaceIf(expect: Array[Byte], next: Array[Byte]): Boolean =
    synchronized {
      if (cur.contains(expect.toSeq)) { cur = Some(next.toSeq); true }
      else false
    }

  override def takeOver(expect: Array[Byte], next: Array[Byte]): Boolean =
    replaceIf(expect, next)

  override def deleteIf(expect: Array[Byte]): Boolean = synchronized {
    if (cur.contains(expect.toSeq)) { cur = None; true } else false
  }
}

/** The writer-lease protocol over a [[LeaseStore]]: acquire by
  * create-if-absent, keep alive by a heartbeat that refreshes only the
  * value it last wrote, break a stale holder by replacing exactly the
  * stale value observed, release by deleting only one's own value.
  * Staleness is judged from the STAMP inside the lease value (a live
  * holder's heartbeat refreshes it every `staleMillis/3`), against an
  * injectable `clock` — so a spec can force the takeover interleaving
  * without wall-clock sleeps.
  *
  * With an atomic store every transition is fenced: the usurped
  * holder's zombie beat fails its CAS and stops; its release fails its
  * CAS and leaves the usurper's lease intact. With the FS fallback the
  * same protocol runs with the documented best-effort windows. */
final class WriterLease(
    store: LeaseStore,
    what: String,
    staleMillis: Long,
    acquireTimeoutMillis: Long,
    pollMillis: Long = 50L,
    clock: () => Long = () => System.currentTimeMillis()) {

  /** One acquired lease: beat/release operate on the exact value this
    * holder last wrote. */
  final class Handle private[WriterLease] (val holder: String,
      @volatile private var current: Array[Byte]) {

    /** One heartbeat refresh. Returns false ONLY when the lease was
      * genuinely lost (usurped after a stale judgment) — the holder
      * must stop beating; its in-flight commit still ends at the
      * manifest conflict check. A transient store failure propagates
      * as IOException instead (the [[LeaseStore]] error contract), so
      * the heartbeat loop's existing catch retries on the next beat —
      * one network blip must not permanently silence a live holder's
      * heartbeat and invite a mid-write stale break. A missing value
      * (mid-break window) may be recreated at most once per
      * observation — the documented at-most-once recreate, aged out by
      * the next waiter. */
    def beat(): Boolean = {
      val next = content(holder)
      if (store.replaceIf(current, next)) { current = next; true }
      else store.read() match {
        case Some(cur) if holderOf(cur).contains(holder) =>
          // our own earlier write under a weak store — adopt and go on
          current = cur; true
        case Some(_) => false // genuinely usurped
        case None =>
          if (store.tryCreate(next)) { current = next; true }
          else store.read() match {
            case Some(cur) if holderOf(cur).contains(holder) =>
              current = cur; true
            case _ => false
          }
      }
    }

    /** Fenced release: deletes only this holder's own value; a
      * usurper's lease survives an old holder's release. */
    def release(): Unit = {
      if (!store.deleteIf(current))
        // weak-store fallback: the value may have been refreshed by a
        // racing beat of OUR OWN thread's last write; only ever delete
        // a value that still names this holder
        store.read() match {
          case Some(cur) if holderOf(cur).contains(holder) =>
            store.deleteIf(cur); ()
          case _ => ()
        }
      ()
    }
  }

  private def content(holder: String): Array[Byte] =
    s"$holder\n${clock()}\n".getBytes("UTF-8")

  private def holderOf(bytes: Array[Byte]): Option[String] =
    new String(bytes, "UTF-8").linesIterator.find(_.nonEmpty)

  private def stampOf(bytes: Array[Byte]): Option[Long] =
    new String(bytes, "UTF-8").linesIterator.filter(_.nonEmpty)
      .toSeq.lift(1).flatMap(_.toLongOption)

  /** Blocks until acquired (create-if-absent, or a CAS break of a
    * stale value), up to the configured timeout. */
  def acquire(holder: String): Handle = {
    val deadline = clock() + acquireTimeoutMillis
    while (true) {
      val mine = content(holder)
      try {
        if (store.tryCreate(mine)) return new Handle(holder, mine)
        store.read() match {
          case None =>
            // just freed — but sleep before the re-create all the same:
            // a store whose create persistently fails while reads see
            // nothing (permissions, a dead backend) must neither
            // busy-spin the CPU nor hammer the store, and must still
            // honor the deadline
            if (clock() > deadline)
              throw new IllegalStateException(
                s"writer lease for $what: create-if-absent kept failing " +
                  s"against an EMPTY slot past ${acquireTimeoutMillis}ms — " +
                  "check store permissions/health")
            else Thread.sleep(pollMillis)
          case Some(cur) =>
            val stale = stampOf(cur).forall(clock() - _ > staleMillis)
            if (stale) {
              // break by replacing EXACTLY the stale value observed: of
              // N waiters that judged the same value, one CAS wins; with
              // a fresh beat landing in between, everyone's CAS fails
              // and the holder is (correctly) treated as live again. A
              // failed break sleeps and still honors the deadline — a
              // pathological store that churns the value forever must
              // not hot-loop
              if (store.takeOver(cur, mine)) return new Handle(holder, mine)
              else if (clock() > deadline)
                throw new IllegalStateException(
                  s"writer lease for $what: stale-break lost its CAS " +
                    s"repeatedly past ${acquireTimeoutMillis}ms — a " +
                    "live writer churn or a store that never matches")
              else Thread.sleep(pollMillis)
            } else if (clock() > deadline) {
              throw new IllegalStateException(
                s"writer lease for $what held by a concurrent writer for " +
                  s"longer than ${acquireTimeoutMillis}ms — raise the " +
                  "timeout, or check for a wedged (not crashed) holder")
            } else Thread.sleep(pollMillis)
        }
      } catch {
        // transient store failure (the LeaseStore error contract):
        // retry after a poll — the slot's true state is unknown, so
        // neither arm above applies — but never past the deadline
        case e: java.io.IOException =>
          if (clock() > deadline)
            throw new IllegalStateException(
              s"writer lease for $what: the lease store kept failing " +
                s"past ${acquireTimeoutMillis}ms", e)
          else Thread.sleep(pollMillis)
      }
    }
    sys.error("unreachable: the acquire loop exits only by return or throw")
  }
}
