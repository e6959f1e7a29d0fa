package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._
import graft.pipeline._

/** End-to-end deployment wiring: config layering, both loops over one
  * shared queue, wait policies, graceful stop. */
class ReportingRunnerSpec extends SparkSpec {

  test("config: three-layer precedence — defaults < file < system properties") {
    val f = Files.createTempFile("graft-conf", ".properties")
    Files.writeString(f, "oai.pollseconds=10\nmets.url=http://file-layer/mets\n")
    val cfg = ReportingConfig.load(
      defaultsFile = Some(f),
      systemProperties = Map("oai.pollseconds" -> "5", "ignored.key" -> "x"))
    assert(cfg.oaiPollSeconds == 5L)                  // system wins
    assert(cfg.metsUrl == "http://file-layer/mets")   // file beats defaults
    assert(cfg.metsPollSeconds == 600L)               // untouched default
    assert(cfg.fc3CompatibilityMode)
  }

  test("config: state.buckets must be a positive integer, named in the error") {
    assert(ReportingConfig.fromMap(Map("state.buckets" -> " 16 ")).stateBuckets == 16)
    Seq("0", "-4", "many", "2.5", "").foreach { v =>
      val e = intercept[IllegalArgumentException](
        ReportingConfig.fromMap(Map("state.buckets" -> v)))
      assert(e.getMessage.contains("state.buckets") && e.getMessage.contains(s"'$v'"),
        e.getMessage)
    }
  }

  test("runner: two loops drain OAI pages into reporting rows, then stop cleanly") {
    driveRunner()
  }

  test("runner: a state root in the retired versioned-snapshot layout is refused with its migration") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft-runner-retired").toString
    // the retired layout, by hand: committed version directories
    // (`v<N>` with a `_SUCCESS` marker), an uncommitted newer one from
    // a crashed write, and no `_commits/`
    val checkpoint = graft.model.OaiRunResult(7L,
      java.sql.Timestamp.valueOf("2024-03-01 10:00:00"),
      java.sql.Timestamp.valueOf("2024-03-01 10:00:00"), Some("tok"), None, None)
    Seq(1, 2).foreach { v =>
      val dir = java.nio.file.Paths.get(root, "runs", f"v$v%08d")
      Seq(checkpoint.copy(id = v + 5L)).toDF().coalesce(1).write.parquet(dir.toString)
      if (!Files.exists(dir.resolve("_SUCCESS"))) Files.createFile(dir.resolve("_SUCCESS"))
    }
    val orphan = Files.createDirectories(java.nio.file.Paths.get(root, "runs", "v00000003"))
    Files.writeString(orphan.resolve("part-junk.parquet"), "partial")
    val cfg = ReportingConfig.fromMap(Map("oai.url" -> "http://h/oai"))
    val none = new PageFetcher { def apply(uri: String) = Left("unused") }
    val noDocs = new DocumentFetcher { def apply(localId: String) = None }
    val e = intercept[IllegalStateException](
      new ReportingRunner(spark, cfg, root, none, noDocs))
    assert(e.getMessage.contains(s"""importFrom("$root/runs/v00000002")"""), e.getMessage)
    assert(!Files.exists(java.nio.file.Paths.get(root, "runs", "_commits")),
      "the refusal must write nothing")

    // the migration the message names: import the newest committed
    // version into the table at the same root, drop the version dirs
    StateLayouts.runs(spark, s"$root/runs").importFrom(s"$root/runs/v00000002")
    Seq(1, 2, 3).foreach(v => org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$root/runs/v0000000$v")))
    val runner = new ReportingRunner(spark, cfg, root, none, noDocs)
    assert(runner.harvest.lastRun() == checkpoint)
  }

  test("ST6: stop() alone wakes loops parked in a full poll-interval sleep") {
    val root = Files.createTempDirectory("graft-runner-wake").toString
    // 600 s poll intervals: after the first drain both loops park in a
    // REAL Thread.sleep for 10 minutes — only an interrupt can wake them
    val cfg = ReportingConfig.fromMap(Map(
      "oai.url" -> "http://h/oai",
      "oai.pollseconds" -> "600",
      "mets.pollseconds" -> "600"))
    val pages = new PageFetcher {
      def apply(uri: String): Either[String, String] =
        Right(fixture("/oai/listIdentifiers.xml"))
    }
    val mets = Map(
      "qucosa:1044" -> fixture("/mets/qucosa7455-mets.xml"),
      "qucosa:1234" -> fixture("/mets/qucosa13-mets.xml"))
    val docs = new DocumentFetcher {
      def apply(localId: String): Option[String] = mets.get(localId)
    }
    val longSleeps = new java.util.concurrent.atomic.AtomicInteger(0)
    val runner = new ReportingRunner(spark, cfg, root, pages, docs,
      // full-length interruptible sleep — NOT truncated like driveRunner's
      sleeper = ms => { if (ms >= 100000L) longSleeps.incrementAndGet(); Thread.sleep(ms) })
    val threads = runner.start()
    try {
      // wait (bounded) until BOTH loops have entered their 600 s park
      val deadline = System.currentTimeMillis() + 120000L
      while (longSleeps.get() < 2 && System.currentTimeMillis() < deadline)
        Thread.sleep(100L)
      assert(longSleeps.get() >= 2, "loops never reached their long sleep")
      Thread.sleep(200L) // let the increments' sleeps actually begin
      // stop() by itself — no stopAndAwait interrupt — must wake both
      // loops immediately; a flag-only stop would leave them parked for
      // the remaining ~10 minutes
      val t0 = System.nanoTime()
      runner.stop()
      threads._1.join(10000L); threads._2.join(10000L)
      val elapsedMs = (System.nanoTime() - t0) / 1000000L
      assert(!threads._1.isAlive && !threads._2.isAlive,
        s"loops still alive ${elapsedMs}ms after stop()")
      assert(elapsedMs < 10000L, s"stop() took ${elapsedMs}ms to wake the loops")
    } finally {
      assert(runner.stopAndAwait(threads, graceMillis = 60000L))
    }
  }

  private def driveRunner(): Unit = {
    val root = Files.createTempDirectory("graft-runner").toString
    val cfg = ReportingConfig.fromMap(Map(
      "oai.url" -> "http://h/oai",
      "oai.pollseconds" -> "1",
      "mets.pollseconds" -> "1",
      "state.buckets" -> "8"))

    val pages = new PageFetcher {
      def apply(uri: String): Either[String, String] =
        Right(fixture("/oai/listIdentifiers.xml")) // 2 headers, no token
    }
    val mets = Map(
      "qucosa:1044" -> fixture("/mets/qucosa7455-mets.xml"),
      "qucosa:1234" -> fixture("/mets/qucosa13-mets.xml"))
    val docs = new DocumentFetcher {
      def apply(localId: String): Option[String] = mets.get(localId)
    }

    val sleeps = new ConcurrentLinkedQueue[Long]()
    val runner = new ReportingRunner(spark, cfg, root, pages, docs,
      headerFilter = (df: DataFrame) =>
        df.filter(isQucosaId(col("record_identifier"))),
      sleeper = ms => { sleeps.add(ms); Thread.sleep(math.min(ms, 20L)) })

    val threads = runner.start()
    var n = 0L
    try {
      // wait (bounded) until the enrichment stage produced both rows
      val deadline = System.currentTimeMillis() + 120000L
      while (n < 2 && System.currentTimeMillis() < deadline) {
        Thread.sleep(200L)
        // a concurrent commit may prune the version between list and
        // count — retry on the next poll rather than failing the test
        n = scala.util.Try(
          runner.reportingTable.read().map(_.count()).getOrElse(0L)).getOrElse(n)
      }
    } finally {
      // reference grants the executor 60 s of shutdown grace
      // (ReportingManager.java:110) — match it; under suite-wide load a
      // loop can sit inside a Spark action when the flag flips
      assert(runner.stopAndAwait(threads, graceMillis = 60000L)) // ST6
    }
    assert(!runner.isRunning)
    // assertions run against QUIESCED tables (no more concurrent pruning)
    assert(n == 2L, s"reporting rows after drain: $n")
    assert(runner.harvest.lastRun().id >= 1L)
    // golden check: enrichment projected the right reporting fields
    val byId = runner.reportingTable.read().get.collect()
      .map(r => r.getAs[String]("record_identifier") ->
        r.getAs[String]("mandator")).toMap
    assert(byId("oai:example.org:qucosa:1044") == "slub")
    assert(byId("oai:example.org:qucosa:1234") == "SLUB")
    // headers and reporting are laid out in `state.buckets` buckets, the
    // checkpoints in one
    def layout(t: String) = StateManifest.snapshot(
      spark.sessionState.newHadoopConf(), s"$root/$t").flatMap(_.numBuckets)
    assert(Seq("headers", "reporting", "runs").map(layout) ==
      Seq(Some(8), Some(8), Some(1)))
  }
}
