package graft.pipeline

import java.sql.Timestamp
import java.util.concurrent.CountDownLatch

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.model.OaiRunResult
import graft.streaming.OffsetStateMachine

/** The deployment wiring (reference `ReportingManager.java:51-125`): two
  * independent poll loops — harvest and enrichment — that communicate
  * ONLY through the shared headers state table, each with the
  * reference's wait policy (ST1) and cooperative termination (ST6,
  * reference `TerminateableRunnable.java` + 60 s shutdown grace).
  *
  * Loop cadence mirrors the reference: harvest waits per the
  * `OffsetStateMachine.waitMillis` 4-case policy (first run 0, pagination
  * pending the 1 s floor, normal poll-interval-minus-elapsed, error full
  * interval); enrichment fast-drains while batches come back full and
  * sleeps `mets.pollseconds` when the queue is empty
  * (`MetsProcessor.java:260-268`).
  *
  * `clock` and `sleeper` are injectable so loop behavior is testable
  * without wall-clock waits.
  */
class ReportingRunner(
    spark: SparkSession,
    config: ReportingConfig,
    stateRoot: String,
    pageFetcher: PageFetcher,
    docFetcher: DocumentFetcher,
    headerFilter: DataFrame => DataFrame = identity,
    batchSize: Int = 100,
    clock: () => Long = () => System.currentTimeMillis(),
    sleeper: Long => Unit = Thread.sleep) {

  // headers/reporting are the tables that GROW, bucketed by record so a
  // merge rewrites only its dirty buckets; the runs table holds a few
  // checkpoint rows, one bucket keyed by run id
  private def growingTable(path: String): BucketedStateTable =
    new BucketedStateTable(spark, path,
      keyCols = Seq("record_identifier"), numBuckets = config.stateBuckets)

  val headersTable: StateTable = growingTable(s"$stateRoot/headers")
  val runsTable = new BucketedStateTable(spark, s"$stateRoot/runs",
    keyCols = Seq("id"), numBuckets = 1)
  val reportingTable: StateTable = growingTable(s"$stateRoot/reporting")

  Seq(headersTable, runsTable, reportingTable).foreach(t =>
    ReportingRunner.refuseRetiredLayout(t.fileSystem, t.tableRoot))

  val harvest = new HarvestPipeline(spark, headersTable, runsTable,
    config.oaiUrl, fc3CompatibilityMode = config.fc3CompatibilityMode,
    historyLengthHours = config.runResultHistoryHours,
    headerFilter = headerFilter)
  val enrichment = new EnrichmentPipeline(spark, headersTable,
    reportingTable, batchSize = batchSize,
    interRequestDelayMillis = config.metsInterRequestMillis,
    sleep = sleeper)

  @volatile private var running = true
  @volatile private var lastHarvestFailed = false
  // loop threads registered by start(); stop() interrupts them so a loop
  // parked in sleeper() — or blocked inside a Spark action — wakes
  // IMMEDIATELY instead of waiting out a full poll interval (reference
  // shutdownNow semantics, `ReportingManager.java:99-116`)
  @volatile private var loopThreads: List[Thread] = Nil

  // Every loop-thread Spark action carries this job group so stop()
  // can CANCEL it: a plain interrupt only wakes the blocked driver
  // thread — the action's tasks keep running on the executor threads
  // (local mode shares them with everything else in the JVM), and
  // under load those orphans can starve the loop's exit path past any
  // join grace. cancelJobGroup is Spark's shutdownNow analogue: tasks
  // are interrupted too (interruptOnCancel) and the slots free now.
  private val jobGroup =
    s"graft-runner-${java.util.UUID.randomUUID().toString.take(8)}"

  /** ST6 — cooperative stop: flips the flag, cancels the loops'
    * in-flight Spark jobs (tasks included), then interrupts the
    * registered loop threads. The flag alone would leave a loop asleep
    * for up to a full poll interval (hours, under production configs);
    * the cancel + interrupt wake `Thread.sleep`-based sleepers and
    * abort an in-flight Spark action AND its tasks, all of which the
    * loop body absorbs and re-checks `running`. */
  def stop(): Unit = {
    running = false
    try spark.sparkContext.cancelJobGroup(jobGroup)
    catch { case _: Throwable => () } // a stopped context cancels nothing
    loopThreads.foreach(_.interrupt())
  }
  def isRunning: Boolean = running

  private val MinWaitMs = 1000L // reference OaiHarvesterBuilder.java:33

  // The wait policy's checkpoint, cached across cycles: runOnce already
  // returns the checkpoint it appended, so re-reading the runs table
  // every ~1 s cycle (two identical top-1 jobs per poll) is pure waste.
  // Touched only by the harvest loop thread (and direct spec calls).
  private var cachedLastRun: Option[OaiRunResult] = None
  private var lastRunLoaded = false

  /** One harvest wait+poll cycle; returns the wait that was applied. */
  def harvestIteration(): Long = {
    if (!lastRunLoaded) {
      cachedLastRun = Option(harvest.lastRun()).filter(_.id > 0L)
      lastRunLoaded = true
    }
    val wait = OffsetStateMachine.waitMillis(cachedLastRun, lastHarvestFailed,
      clock(), config.oaiPollSeconds * 1000L, MinWaitMs)
    if (running && wait > 0) sleeper(wait)
    if (running) {
      // a THROW from runOnce (state-table conflict, FS error) must count
      // as a failed run for the next cycle's wait policy — otherwise the
      // loop's catch sleeps only the 1 s floor and waitMillis (computed
      // from the stale checkpoint) re-polls immediately: a hot retry
      // loop hammering the OAI endpoint for as long as the fault lasts
      val summary =
        try harvest.runOnce(pageFetcher, new Timestamp(clock()))
        catch { case e: Throwable => lastHarvestFailed = true; throw e }
      lastHarvestFailed = !summary.succeeded
      summary.checkpoint.foreach(cp => cachedLastRun = Some(cp))
    }
    wait
  }

  /** One enrichment drain cycle; re-polls at the 1 s floor whenever the
    * drained batch was non-empty (reference sets
    * `moreOAIHeadersToProcess` for ANY non-empty list,
    * `MetsProcessor.java:108-116`) — survivors of the ST5 check and
    * partial batches retry promptly, not a full poll interval later. */
  def enrichmentIteration(): Long = {
    val summary = enrichment.runOnce(docFetcher)
    val wait =
      if (summary.processed > 0) MinWaitMs
      else config.metsPollSeconds * 1000L
    if (running && wait > 0) sleeper(wait)
    wait
  }

  /** Start both loops as daemon threads (the reference's cached thread
    * pool with two runnables). Returns after both have started. */
  def start(): (Thread, Thread) = {
    val started = new CountDownLatch(2)
    def loop(name: String)(body: () => Unit): Thread = {
      val t = new Thread(() => {
        // job-group registration is thread-local; interruptOnCancel
        // makes a stop() cancellation interrupt the TASKS as well
        spark.sparkContext.setJobGroup(jobGroup,
          s"ReportingRunner $name loop", interruptOnCancel = true)
        started.countDown()
        while (running) {
          // reference loops log persistence errors and retry next cycle
          // (MetsProcessor.java:117-123) — an uncaught throw must not
          // silently kill the loop thread
          try body()
          catch {
            case _: InterruptedException => ()
            case e: Throwable =>
              System.err.println(s"[$name] iteration failed: ${e.getMessage}")
              try sleeper(MinWaitMs) catch { case _: InterruptedException => () }
          }
        }
      }, name)
      t.setDaemon(true)
      t.start()
      t
    }
    val h = loop("graft-harvest")(() => harvestIteration())
    val e = loop("graft-enrichment")(() => enrichmentIteration())
    loopThreads = List(h, e)
    started.await()
    (h, e)
  }

  /** Stop and await both loops (reference 60 s executor grace,
    * `ReportingManager.java:99-116`). Returns true when both exited;
    * on a timeout the straggler's stack is dumped to stderr so a
    * grace failure carries its own diagnosis. */
  def stopAndAwait(threads: (Thread, Thread), graceMillis: Long = 60000L): Boolean = {
    stop()
    threads._1.interrupt(); threads._2.interrupt()
    threads._1.join(graceMillis); threads._2.join(graceMillis)
    Seq(threads._1, threads._2).filter(_.isAlive).foreach { t =>
      System.err.println(s"[stopAndAwait] ${t.getName} still alive after " +
        s"${graceMillis}ms grace; stack:\n  " +
        t.getStackTrace.mkString("\n  "))
    }
    !threads._1.isAlive && !threads._2.isAlive
  }
}

object ReportingRunner {

  /** Throws if `root` is a state table in the retired versioned-snapshot
    * layout: `v<N>` version directories and no `_commits/`. A
    * [[BucketedStateTable]] reads such a root as never created, so the
    * harvest would silently restart from the initial checkpoint and the
    * queue would read empty. The message names the migration: import the
    * newest committed version (the newest `v<N>` holding a `_SUCCESS`
    * marker) with [[BucketedStateTable.importFrom]] into the table at the
    * same root, then delete the `v<N>` directories. */
  private[pipeline] def refuseRetiredLayout(fs: FileSystem, root: Path): Unit =
    if (fs.exists(root) && !fs.exists(StateManifest.commitsDir(root))) {
      val versions = fs.listStatus(root).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.matches("v\\d+"))
        .map(_.getPath).sortBy(_.getName.drop(1).toLong)
      if (versions.nonEmpty) {
        val newest = versions.reverse.find(v => fs.exists(new Path(v, "_SUCCESS")))
        throw new IllegalStateException(
          s"state table at $root is in the retired versioned-snapshot layout " +
            "(v<N> directories, no _commits/) that this version no longer reads. " +
            newest.fold("It holds no committed version; remove the v<N> directories.")(v =>
              s"Migrate it: importFrom(\"$root/${v.getName}\") on the BucketedStateTable at $root " +
                "(the runner's key and bucket count), then delete the v<N> directories."))
      }
    }
}
