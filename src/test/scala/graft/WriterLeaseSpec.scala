package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path

import graft.pipeline.{BucketedStateTable, HadoopLeaseStore, InMemoryCasStore, WriterLease}

/** The writer-lease CAS seam: with an atomic conditional-write store,
  * the stale-takeover interleavings the table doc names as the FS
  * fallback's residual race are FULLY fenced — a usurped holder's
  * zombie beat fails its CAS and stops, its release cannot delete the
  * usurper's lease, N waiters judging the same stale value elect
  * exactly one winner, and a live holder's beat landing between a
  * waiter's judgment and its break defeats the break. All clock-driven
  * (injectable), no wall-clock sleeps. */
class WriterLeaseSpec extends SparkSpec {

  private def protoOver(store: InMemoryCasStore,
      clock: java.util.concurrent.atomic.AtomicLong) =
    new WriterLease(store, "spec", staleMillis = 1000L,
      acquireTimeoutMillis = 60_000L, pollMillis = 1L,
      clock = () => clock.get())

  test("forced stale takeover: the usurped holder's zombie beat and release cannot clobber the new lease") {
    val store = new InMemoryCasStore
    val clock = new java.util.concurrent.atomic.AtomicLong(0L)
    val lease = protoOver(store, clock)

    val hA = lease.acquire("writerA")
    assert(new String(store.read().get, "UTF-8").startsWith("writerA\n"))

    // A stalls (no beats); the clock advances past staleness and B
    // breaks the lease by CAS-replacing exactly the stale value
    clock.set(2000L)
    val hB = lease.acquire("writerB")
    assert(new String(store.read().get, "UTF-8").startsWith("writerB\n"),
      "B must hold after the stale break")

    // A's zombie heartbeat: its CAS names A's old value — it must fail
    // and tell A to stop, leaving B's lease byte-identical
    val bBytes = store.read().get
    assert(!hA.beat(), "a usurped holder's beat must report the loss")
    assert(java.util.Arrays.equals(store.read().get, bBytes),
      "a failed beat must not touch the usurper's lease")

    // A's release: CAS on A's old value — must NOT delete B's lease
    // (the third-writer window the FS fallback documents)
    hA.release()
    assert(store.read().isDefined &&
      new String(store.read().get, "UTF-8").startsWith("writerB\n"),
      "an old holder's release must leave the usurper's lease intact")

    // B is unharmed: its beat refreshes, its release frees the slot
    assert(hB.beat(), "the live holder's beat must keep working")
    hB.release()
    assert(store.read().isEmpty, "the rightful release frees the slot")
  }

  test("N waiters judging the same stale value elect exactly one winner") {
    val store = new InMemoryCasStore
    val stale = "crashed\n0\n".getBytes("UTF-8")
    assert(store.tryCreate(stale))
    val mine1 = "waiter1\n5000\n".getBytes("UTF-8")
    val mine2 = "waiter2\n5000\n".getBytes("UTF-8")
    val wins = Seq(store.takeOver(stale, mine1), store.takeOver(stale, mine2))
    assert(wins.count(identity) == 1,
      s"exactly one of two racing breaks may win, got $wins")
    assert(new String(store.read().get, "UTF-8").startsWith("waiter1\n"),
      "the first CAS wins; the second must observe the new value and lose")
  }

  test("a live holder's beat landing between a waiter's stale judgment and its break defeats the break") {
    val store = new InMemoryCasStore
    val clock = new java.util.concurrent.atomic.AtomicLong(0L)
    val lease = protoOver(store, clock)
    val hA = lease.acquire("writerA")
    // waiter B reads and judges the value stale...
    clock.set(2000L)
    val judged = store.read().get
    // ...but A's heartbeat lands first (A was slow, not dead)
    assert(hA.beat())
    // B's break conditions on the JUDGED value — it must lose
    assert(!store.takeOver(judged, "writerB\n2000\n".getBytes("UTF-8")),
      "a break conditioned on a refreshed-away value must fail")
    assert(new String(store.read().get, "UTF-8").startsWith("writerA\n"))
    hA.release()
    assert(store.read().isEmpty)
  }

  test("acquire honors its timeout against a LIVE (fresh-stamped) holder") {
    val store = new InMemoryCasStore
    val clock = new java.util.concurrent.atomic.AtomicLong(0L)
    val lease = new WriterLease(store, "spec", staleMillis = 1000L,
      acquireTimeoutMillis = 50L, pollMillis = 1L,
      clock = () => clock.getAndAdd(10L)) // each observation ticks time
    assert(store.tryCreate(s"other\n${clock.get()}\n".getBytes("UTF-8")))
    // keep the foreign stamp fresh relative to the ticking clock by
    // re-stamping it: the holder is alive, so acquire must time out
    val err = intercept[IllegalStateException] {
      val t = new Thread(() => while (true) {
        val cur = store.read().getOrElse(Array.emptyByteArray)
        store.replaceIf(cur, s"other\n${clock.get()}\n".getBytes("UTF-8"))
        Thread.sleep(1)
      })
      t.setDaemon(true); t.start()
      lease.acquire("me")
    }
    // either timeout arm is a correct outcome: the ticking clock and
    // the re-stamping thread race over whether the holder ever LOOKS
    // stale, but both paths must refuse within the deadline
    assert(err.getMessage.contains("held by a concurrent writer") ||
      err.getMessage.contains("stale-break lost its CAS"),
      err.getMessage)
  }

  test("a transient store failure propagates as IOException — beat() retries instead of reading it as usurpation") {
    // wraps the atomic store; every op throws ONCE per arm() call —
    // the network-blip shape the LeaseStore error contract names
    class FlakyStore(inner: InMemoryCasStore) extends graft.pipeline.LeaseStore {
      @volatile var failNext = false
      private def blip(): Unit =
        if (failNext) { failNext = false; throw new java.io.IOException("blip") }
      def tryCreate(c: Array[Byte]) = { blip(); inner.tryCreate(c) }
      def read() = { blip(); inner.read() }
      def replaceIf(e: Array[Byte], n: Array[Byte]) = { blip(); inner.replaceIf(e, n) }
      def takeOver(e: Array[Byte], n: Array[Byte]) = { blip(); inner.takeOver(e, n) }
      def deleteIf(e: Array[Byte]) = { blip(); inner.deleteIf(e) }
    }
    val store = new FlakyStore(new InMemoryCasStore)
    val clock = new java.util.concurrent.atomic.AtomicLong(0L)
    val lease = new WriterLease(store, "spec", staleMillis = 1000L,
      acquireTimeoutMillis = 60_000L, pollMillis = 1L,
      clock = () => clock.getAndAdd(1L))
    val h = lease.acquire("writerA")

    // one blip: beat() must PROPAGATE (the heartbeat loop's catch
    // retries next period) — never return false, which would stop the
    // heartbeat for good and invite a mid-write stale break
    store.failNext = true
    intercept[java.io.IOException] { h.beat() }
    assert(h.beat(), "the next beat after a blip must refresh normally")
    val held = new String(store.read().get, "UTF-8")
    assert(held.startsWith("writerA\n"), held)
    h.release()
    assert(store.read().isEmpty)

    // acquire() rides THROUGH a blip (retry after a poll) instead of
    // surfacing it or busy-spinning
    store.failNext = true
    val h2 = lease.acquire("writerB")
    assert(new String(store.read().get, "UTF-8").startsWith("writerB\n"))
    h2.release()
  }

  test("HadoopLeaseStore: a genuinely absent value still reads as None; create-if-absent still refuses on presence") {
    // the IO-contract change must not reclassify the NORMAL conditional
    // outcomes: missing file -> None (not an exception), present file
    // -> tryCreate false (FileAlreadyExists is the existence signal)
    val dir = Files.createTempDirectory("graft-lease-io").toString
    val p = new Path(s"$dir/_lease")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val store = new HadoopLeaseStore(fs, p)
    assert(store.read().isEmpty, "missing lease must read as None")
    assert(!store.deleteIf("x".getBytes("UTF-8")))
    assert(store.tryCreate("a\n1\n".getBytes("UTF-8")))
    assert(!store.tryCreate("b\n2\n".getBytes("UTF-8")),
      "existence must answer false, not throw")
  }

  test("HadoopLeaseStore: the FS fallback keeps the tombstone election and value-conditioned ops") {
    val dir = Files.createTempDirectory("graft-lease-store").toString
    val p = new Path(s"$dir/_lease")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val store = new HadoopLeaseStore(fs, p)

    val v0 = "a\n1\n".getBytes("UTF-8")
    assert(store.tryCreate(v0))
    assert(!store.tryCreate(v0), "create-if-absent must refuse a second create")
    assert(java.util.Arrays.equals(store.read().get, v0))

    // conditional ops condition on the VALUE, not on mtime (whose 1s
    // granularity could alias two same-length leases)
    val v1 = "b\n2\n".getBytes("UTF-8")
    assert(!store.replaceIf(v1, v1), "replace of a non-matching value must fail")
    assert(store.replaceIf(v0, v1))
    assert(!store.deleteIf(v0), "delete of a non-matching value must fail")
    assert(fs.exists(p))
    assert(!store.takeOver(v0, v1), "takeover of a non-matching value must fail")
    // a matching takeover renames through a unique tombstone and
    // leaves no residue
    val v2 = "c\n3\n".getBytes("UTF-8")
    assert(store.takeOver(v1, v2))
    assert(java.util.Arrays.equals(store.read().get, v2))
    assert(fs.listStatus(new Path(dir)).map(_.getPath.getName).toSet == Set("_lease"),
      "the tombstone must not linger")
    assert(store.deleteIf(v2))
    assert(store.read().isEmpty)
  }

  test("HadoopLeaseStore: publication is ATOMIC — hammering readers never observe empty or partial bytes") {
    // the r17 full-suite flake in one picture: create-then-write let a
    // concurrent read land between the two and observe ZERO bytes — an
    // empty slot parses holderless, so a waiter would break a LIVE
    // holder's lease mid-commit. With link/rename publication a reader
    // sees absent, the old value, or the new value — nothing else.
    val dir = Files.createTempDirectory("graft-lease-atomic").toString
    val p = new Path(s"$dir/_lease")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val store = new HadoopLeaseStore(fs, p)
    val vA = "holderA\n1111111\n".getBytes("UTF-8")
    val vB = "holderB\n2222222\n".getBytes("UTF-8")
    val ok = Set(vA.toSeq, vB.toSeq)
    val bad = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var go = true
    val readers = (1 to 4).map(_ => new Thread(() => {
      while (go) store.read().foreach { bytes =>
        if (!ok.contains(bytes.toSeq))
          bad.add(s"observed ${bytes.length} bytes: " +
            new String(bytes, "UTF-8"))
      }
    }))
    readers.foreach(_.start())
    val deadline = System.currentTimeMillis() + 3000
    while (System.currentTimeMillis() < deadline && bad.isEmpty) {
      assert(store.tryCreate(vA))
      store.replaceIf(vA, vB)
      store.deleteIf(vB)
    }
    go = false
    readers.foreach(_.join(10_000))
    assert(bad.isEmpty,
      s"readers observed non-published lease bytes: ${bad.peek()}")
  }

  /** HDFS rename semantics over the local FS: refuses an existing
    * destination, ATOMICALLY (the namenode's linearized rename,
    * emulated with a lock — POSIX rename(2) would silently replace).
    * Not a LocalFileSystem subtype, so [[HadoopLeaseStore]] takes its
    * NON-local branch: the versioned-slot layout under test. */
  private class HdfsSemanticsFs(inner: org.apache.hadoop.fs.FileSystem)
      extends org.apache.hadoop.fs.FilterFileSystem(inner) {
    private val renameLock = new Object
    override def rename(src: Path, dst: Path): Boolean =
      renameLock.synchronized {
        if (fs.exists(dst)) false else fs.rename(src, dst)
      }
  }

  private def versionedStore(tag: String): (HadoopLeaseStore, Path,
      org.apache.hadoop.fs.FileSystem) = {
    val dir = Files.createTempDirectory(tag).toString
    val p = new Path(s"$dir/_lease")
    val fs = new HdfsSemanticsFs(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration))
    (new HadoopLeaseStore(fs, p), p, fs)
  }

  test("VersionedSlotStore: the non-local branch keeps the full conditional-op matrix (now a version-election CAS)") {
    val (store, p, fs) = versionedStore("graft-lease-vslot")
    assert(store.read().isEmpty, "missing slot must read as None")
    assert(!store.deleteIf("x".getBytes("UTF-8")))

    val v0 = "a\n1\n".getBytes("UTF-8")
    assert(store.tryCreate(v0))
    assert(!store.tryCreate("b\n2\n".getBytes("UTF-8")),
      "create-if-absent must refuse while held")
    assert(java.util.Arrays.equals(store.read().get, v0))

    val v1 = "b\n2\n".getBytes("UTF-8")
    assert(!store.replaceIf(v1, v1), "replace of a non-matching value must fail")
    assert(store.replaceIf(v0, v1))
    assert(!store.deleteIf(v0), "delete of a non-matching value must fail")
    assert(store.read().isDefined)
    assert(!store.takeOver(v0, v1), "takeover of a non-matching value must fail")
    val v2 = "c\n3\n".getBytes("UTF-8")
    assert(store.takeOver(v1, v2))
    assert(java.util.Arrays.equals(store.read().get, v2))
    // deleteIf publishes a tombstone (never an observable ABSENT);
    // re-create must then win the NEXT version's election normally
    assert(store.deleteIf(v2))
    assert(store.read().isEmpty)
    val v3 = "d\n4\n".getBytes("UTF-8")
    assert(store.tryCreate(v3))
    assert(java.util.Arrays.equals(store.read().get, v3))
    // GC: a settled slot holds exactly ONE version file (+ nothing else)
    val names = fs.listStatus(p).map(_.getPath.getName).toSeq
    assert(names.size == 1 && names.head.matches("v\\d{19}"),
      s"expected one GC'd version file, got $names")
  }

  test("VersionedSlotStore: N concurrent breaks of the same stale value elect exactly one winner") {
    val (store, _, _) = versionedStore("graft-lease-vslot-elect")
    val stale = "crashed\n0\n".getBytes("UTF-8")
    assert(store.tryCreate(stale))
    val n = 8
    val ready = new java.util.concurrent.CountDownLatch(n)
    val go = new java.util.concurrent.CountDownLatch(1)
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = (1 to n).map(i => new Thread(() => {
      val mine = s"waiter$i\n5000\n".getBytes("UTF-8")
      ready.countDown(); go.await()
      if (store.takeOver(stale, mine)) wins.incrementAndGet()
      ()
    }))
    threads.foreach(_.start())
    ready.await(); go.countDown()
    threads.foreach(_.join(10_000))
    assert(wins.get() == 1,
      s"exactly one of $n racing version-name elections may win, got ${wins.get()}")
    val held = new String(store.read().get, "UTF-8")
    assert(held.startsWith("waiter"), held)
  }

  test("VersionedSlotStore: a GC-freed version name cannot be re-won — the slow waiter loses, no double holder") {
    // the r19 review hole: holder H publishes v2 then v3; its GC
    // deletes v2 — so a waiter W that judged the slot at v1 can now
    // CREATE the freed name v2 and (pre-fix) believe it won while v3
    // is the real current version: two holders. The post-win top check
    // must withdraw W's file and report the loss. Forced
    // deterministically: a hook on W's first tmp-file create (which
    // sits exactly between W's scan and W's rename) runs H's two
    // refreshes through a separate, unhooked store.
    val dir = Files.createTempDirectory("graft-lease-vslot-gcrace").toString
    val p = new Path(s"$dir/_lease")
    val plain = new HdfsSemanticsFs(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration))
    val holderStore = new HadoopLeaseStore(plain, p)

    val a = "holder\n1\n".getBytes("UTF-8")
    val b = "holder\n2\n".getBytes("UTF-8")
    val c = "holder\n3\n".getBytes("UTF-8")
    assert(holderStore.tryCreate(a)) // v1

    @volatile var fired = false
    val hooked = new HdfsSemanticsFs(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)) {
      override def create(f: Path,
          overwrite: Boolean): org.apache.hadoop.fs.FSDataOutputStream = {
        if (!fired && f.getName.startsWith(".v.tmp.")) {
          fired = true
          // H refreshes twice while W sits between scan and rename:
          // v2 lands (GC v1), then v3 (GC v2 — freeing the name W
          // is about to create)
          assert(holderStore.replaceIf(a, b))
          assert(holderStore.replaceIf(b, c))
        }
        super.create(f, overwrite)
      }
    }
    val waiterStore = new HadoopLeaseStore(hooked, p)
    assert(!waiterStore.takeOver(a, "waiter\n9\n".getBytes("UTF-8")),
      "a break that raced two GC'd refreshes must LOSE, not re-win the freed version name")
    assert(fired, "the interleaving hook must have run")
    assert(new String(holderStore.read().get, "UTF-8").startsWith("holder\n3"),
      "the live holder's newest value must survive")
    // and the withdrawn file is really gone: the holder's next refresh
    // and release work normally
    assert(holderStore.replaceIf(c, "holder\n4\n".getBytes("UTF-8")))
    assert(holderStore.deleteIf("holder\n4\n".getBytes("UTF-8")))
    assert(holderStore.read().isEmpty)
  }

  test("VersionedSlotStore: a pre-r19 single-FILE slot reads as the live value and migrates on the first conditional write") {
    // upgrade path: the old layout left a plain file at <root>/_lease;
    // the versioned store must neither read it as ABSENT (a waiter
    // would instantly break a live holder) nor wedge every publish
    // against the occupying file
    val dir = Files.createTempDirectory("graft-lease-vslot-legacy").toString
    val p = new Path(s"$dir/_lease")
    val fs = new HdfsSemanticsFs(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration))
    val legacy = "oldholder\n0\n".getBytes("UTF-8")
    val out = fs.create(p, false)
    try out.write(legacy) finally out.close()

    val store = new HadoopLeaseStore(fs, p)
    assert(java.util.Arrays.equals(store.read().get, legacy),
      "the legacy file's value must be visible, not ABSENT")
    assert(!store.tryCreate("x\n1\n".getBytes("UTF-8")),
      "create-if-absent must refuse while the legacy value is live")

    // the stale break migrates: rename-aside election, then v1
    val mine = "newholder\n5\n".getBytes("UTF-8")
    assert(store.takeOver(legacy, mine))
    assert(java.util.Arrays.equals(store.read().get, mine))
    assert(fs.getFileStatus(p).isDirectory,
      "after migration the slot is the versioned directory layout")
    // normal life continues on the migrated slot
    val nxt = "newholder\n6\n".getBytes("UTF-8")
    assert(store.replaceIf(mine, nxt))
    assert(store.deleteIf(nxt))
    assert(store.read().isEmpty)
    assert(store.tryCreate("again\n7\n".getBytes("UTF-8")))
  }

  test("legacy migration crash between aside and version publish restores the legacy file — the lease value is never destroyed") {
    // r19 ADVICE: the migration deleted the verified renamed-aside
    // legacy file BEFORE the first version file landed, so a crash in
    // the following mkdirs/create/rename destroyed the lease value
    // permanently and left the slot observably absent. The aside must
    // outlive the window, and the failure path must roll the slot back.
    val dir = Files.createTempDirectory("graft-lease-mig-crash").toString
    val p = new Path(s"$dir/_lease")
    val fs = new CrashOnTmpCreateFs(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration))
    val legacy = "oldholder\n0\n".getBytes("UTF-8")
    val out = fs.create(p, false)
    try out.write(legacy) finally out.close()
    val store = new HadoopLeaseStore(fs, p)

    fs.failTmpCreates = true
    val mine = "newholder\n5\n".getBytes("UTF-8")
    intercept[java.io.IOException](store.takeOver(legacy, mine))
    // the slot reads the legacy value again — NOT absent, NOT marooned
    assert(store.read().exists(java.util.Arrays.equals(_, legacy)),
      "legacy value lost across the failed migration")
    assert(fs.getFileStatus(p).isFile,
      "slot must roll back to the legacy single-file layout")
    val residue = fs.listStatus(p.getParent).map(_.getPath.getName)
      .filter(_.contains(".legacy."))
    assert(residue.isEmpty, s"aside residue left behind: ${residue.mkString(",")}")

    // once the fault clears, the same takeover migrates cleanly
    fs.failTmpCreates = false
    assert(store.takeOver(legacy, mine))
    assert(store.read().exists(java.util.Arrays.equals(_, mine)))
    assert(fs.getFileStatus(p).isDirectory)
  }

  /** Injects an IOException into the version-tmp-file create — the
    * exact middle of the migration's mkdirs/create/rename window. */
  private class CrashOnTmpCreateFs(inner: org.apache.hadoop.fs.FileSystem)
      extends HdfsSemanticsFs(inner) {
    @volatile var failTmpCreates = false
    override def create(f: Path,
        permission: org.apache.hadoop.fs.permission.FsPermission,
        overwrite: Boolean, bufferSize: Int, replication: Short,
        blockSize: Long,
        progress: org.apache.hadoop.util.Progressable)
        : org.apache.hadoop.fs.FSDataOutputStream = {
      if (failTmpCreates && f.getName.startsWith(".v.tmp"))
        throw new java.io.IOException("injected create failure")
      super.create(f, permission, overwrite, bufferSize, replication,
        blockSize, progress)
    }
  }

  test("VersionedSlotStore hammer: a beating holder is NEVER usurped by polling waiters (refresh never passes through ABSENT)") {
    // the r19 fix in one picture: the old non-local replaceIf was
    // delete-then-rename, so EVERY heartbeat refresh exposed a window
    // in which the slot read ABSENT and a polling waiter legitimately
    // acquired — spurious lease loss mid-commit. The versioned layout
    // publishes v(n+1) while v(n) still exists; this hammer drives
    // refresh-vs-acquire cycles down the non-local branch and asserts
    // no waiter ever gets in and no beat ever reports a loss.
    val (store, _, _) = versionedStore("graft-lease-vslot-hammer")
    val lease = new WriterLease(store, "hammer", staleMillis = 60_000L,
      acquireTimeoutMillis = 150L, pollMillis = 1L)
    val h = lease.acquire("holder")
    val lostBeats = new java.util.concurrent.atomic.AtomicInteger(0)
    val usurpations = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var go = true
    val beater = new Thread(() => {
      while (go) if (!h.beat()) lostBeats.incrementAndGet()
    })
    val waiters = (1 to 4).map(i => new Thread(() => {
      while (go) {
        try {
          val w = lease.acquire(s"waiter$i")
          usurpations.add(s"waiter$i acquired over a live beating holder")
          w.release()
        } catch {
          // the ONLY legal outcome while the holder lives: acquire
          // times out against a fresh-stamped lease
          case e: IllegalStateException =>
            if (!e.getMessage.contains("held by a concurrent writer"))
              failures.add(e.getMessage)
        }
      }
    }))
    beater.start(); waiters.foreach(_.start())
    Thread.sleep(3000)
    go = false
    (beater +: waiters).foreach(_.join(10_000))
    assert(usurpations.isEmpty, String.valueOf(usurpations.peek()))
    assert(lostBeats.get() == 0,
      s"${lostBeats.get()} beats reported a lost lease under pure refresh-vs-acquire contention")
    assert(failures.isEmpty, String.valueOf(failures.peek()))
    // the holder is still in charge; release frees the slot for real
    assert(h.beat())
    h.release()
    assert(store.read().isEmpty)
    lease.acquire("after-release").release()
  }

  /** HDFS semantics plus a local listing's non-atomicity, on demand:
    * once armed, the listing `skip` listings later takes its names,
    * runs `between` (a concurrent refresh), then drops every name
    * deleted meanwhile — as `RawLocalFileSystem.listStatus` drops a
    * name it can no longer stat. */
  private class ListRaceFs(inner: org.apache.hadoop.fs.FileSystem)
      extends HdfsSemanticsFs(inner) {
    @volatile var between: Option[() => Unit] = None
    @volatile var skip = 0
    override def listStatus(f: Path): Array[org.apache.hadoop.fs.FileStatus] = {
      val listed = super.listStatus(f)
      between match {
        case Some(run) if skip == 0 =>
          between = None
          run()
          listed.filter(st => exists(st.getPath))
        case Some(_) => skip -= 1; listed
        case None => listed
      }
    }
  }

  test("VersionedSlotStore: a listing that races a refresh's publish and GC reads the beating holder, never an EMPTY slot") {
    val dir = Files.createTempDirectory("graft-lease-list-race").toString
    val p = new Path(s"$dir/_lease")
    val fs = new ListRaceFs(p.getFileSystem(spark.sparkContext.hadoopConfiguration))
    val store = new HadoopLeaseStore(fs, p)
    // every clock reading is a second later: any waiter's deadline has
    // passed by its first check, while the holder's stamps stay fresh
    val now = new java.util.concurrent.atomic.AtomicLong
    val lease = new WriterLease(store, "list-race", staleMillis = 60_000L,
      acquireTimeoutMillis = 0L, pollMillis = 1L, clock = () => now.addAndGet(1000L))
    val h = lease.acquire("holder")
    def holderOf(b: Array[Byte]) = new String(b, "UTF-8").linesIterator.next()

    // the read lists v(n); the holder's beat publishes v(n+1) and GCs
    // v(n) before the listing stats it
    fs.between = Some(() => assert(h.beat()))
    val seen = store.read()
    assert(fs.between.isEmpty, "the race was not injected")
    assert(seen.map(holderOf).contains("holder"),
      "a beating holder's slot read as EMPTY")

    // the hammer's interleaving: a waiter's create-if-absent sees the
    // slot held, then its read races the holder's refresh
    fs.between = Some(() => assert(h.beat()))
    fs.skip = 1
    val e = intercept[IllegalStateException](lease.acquire("waiter"))
    assert(fs.between.isEmpty, "the race was not injected")
    assert(e.getMessage.contains("held by a concurrent writer"), e.getMessage)
    assert(h.beat())
    h.release()
    assert(store.read().isEmpty)
  }

  test("end-to-end: a BucketedStateTable over the CAS store commits and releases cleanly") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-lease-e2e").toString
    val store = new InMemoryCasStore
    val t = new BucketedStateTable(spark, s"$dir/state",
      keyCols = Seq("k"), numBuckets = 4, retentionFloorMillis = 0L,
      leaseStore = Some(store))
    t.merge(Seq(("a", 1L), ("b", 2L)).toDF("k", "v"), keys = Seq("k"))
    assert(t.read().get.count() == 2L)
    assert(store.read().isEmpty, "the CAS lease must release after the commit")
    // no _lease FILE exists — the injected store replaced the FS slot
    assert(!new java.io.File(s"$dir/state/_lease").exists())
  }
}
