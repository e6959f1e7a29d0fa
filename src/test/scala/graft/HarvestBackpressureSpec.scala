package graft

import java.nio.file.Files
import java.sql.Timestamp

import graft.pipeline.{HarvestPipeline, PageFetcher}

/** Long-resumption-chain backpressure: the reference's harvester
  * accumulates every harvested header of a run in one driver-side list
  * (`OaiHarvester.java:97,148-152` — `harvestedHeaders` grows for the
  * whole paginated chain), so a big backfill is bounded by driver
  * memory. The Spark pipeline must NOT inherit that shape: each page
  * merges into the state table and only O(1) scalars (counts, the
  * checkpoint row, the summary) survive the iteration.
  *
  * The probe drives a chain of pages whose BODIES total ~70 MB through
  * `runOnce` and asserts the GC'd driver heap after the chain sits
  * within a fraction of that total above its early-chain mark: any
  * per-page retention of bodies, parsed frames, or header collections
  * would hold the full ~60 MB processed after the warm-up mark. */
class HarvestBackpressureSpec extends SparkSpec {

  private val nPages = 70
  private val headersPerPage = 50
  private val padBytes = 1024 * 1024 // ~1 MB page body

  private def pageBody(i: Int): String = {
    val sb = new StringBuilder(padBytes + headersPerPage * 120 + 1024)
    sb ++= "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n"
    sb ++= "<OAI-PMH xmlns=\"http://www.openarchives.org/OAI/2.0/\">"
    sb ++= "<responseDate>2024-03-01T10:00:00Z</responseDate>"
    sb ++= "<request verb=\"ListIdentifiers\">http://h/oai</request>"
    // the payload bulk: a comment the parser walks and must then DROP
    sb ++= "<!--"; (0 until padBytes / 64).foreach(_ => sb ++= "x" * 64); sb ++= "-->"
    sb ++= "<ListIdentifiers>"
    (0 until headersPerPage).foreach { h =>
      sb ++= s"<header><identifier>oai:example.org:doc:${i}_$h</identifier>"
      sb ++= "<datestamp>2024-02-01T00:00:00Z</datestamp></header>"
    }
    if (i < nPages - 1)
      sb ++= ("<resumptionToken expirationDate=\"2099-01-01T00:00:00Z\" " +
        s"""completeListSize="${nPages * headersPerPage}" cursor="$i">t${i + 1}</resumptionToken>""")
    sb ++= "</ListIdentifiers></OAI-PMH>"
    sb.toString
  }

  private def usedHeap(): Long = {
    val rt = Runtime.getRuntime
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(80) }
    rt.totalMemory() - rt.freeMemory()
  }

  test("harvest: a 70-page (~70 MB) resumption chain holds driver heap flat") {
    val dir = Files.createTempDirectory("graft-backpressure").toString
    val headers = StateLayouts.records(spark, s"$dir/headers")
    val runs = StateLayouts.runs(spark, s"$dir/runs")
    val p = new HarvestPipeline(spark, headers, runs, "http://h/oai")

    // bodies are GENERATED per request — the fetcher holds none of them
    // strongly, but keeps a WEAK reference to each: after the chain, a
    // body the pipeline retained stays strongly reachable and its weak
    // ref never clears — a deterministic retention signal that does not
    // depend on heap-size arithmetic.
    val weakBodies =
      scala.collection.mutable.ArrayBuffer.empty[(Int, java.lang.ref.WeakReference[String])]
    val fetch = new PageFetcher {
      def apply(uri: String): Either[String, String] = {
        val i =
          if (uri.contains("resumptionToken=t"))
            uri.split("resumptionToken=t")(1).takeWhile(_.isDigit).toInt
          else 0
        val body = pageBody(i)
        weakBodies.synchronized {
          weakBodies += i -> new java.lang.ref.WeakReference(body)
        }
        Right(body)
      }
    }

    val now = Timestamp.valueOf("2024-03-01 10:00:00")
    val warmPages = 10
    var page = 0
    var continue = true
    var heapAtWarm = 0L
    while (continue && page < nPages) {
      val s = p.runOnce(fetch, now)
      assert(s.succeeded, s"page $page failed: ${s.errors}")
      assert(s.harvestedHeaders == headersPerPage.toLong)
      page += 1
      if (page == warmPages) heapAtWarm = usedHeap()
      continue = s.checkpoint.exists(_.hasResumptionToken)
    }
    assert(page == nPages, s"chain ended early at page $page")
    val heapAtEnd = usedHeap()

    // every header of every page landed in the state table — the chain
    // really processed the data it claims to have streamed
    assert(headers.read().get.count() == nPages.toLong * headersPerPage)
    // checkpoint advanced once per page
    assert(p.lastRun().id == nPages.toLong)

    // PRIMARY (deterministic) signal: every early-chain body must be
    // garbage — only the trailing few may still be pinned by the last
    // iteration's execution scaffolding. A pipeline that retains bodies
    // (or parsed frames holding them) keeps ~65 refs live here. GC is
    // advisory, so retry the collection a few times before judging.
    val earlyIdx = (i: Int) => i < nPages - 5
    val earlyCount = weakBodies.count(p => earlyIdx(p._1))
    def earlyLive(): Seq[Int] = weakBodies
      .collect { case (i, r) if earlyIdx(i) && r.get != null => i }.toSeq
    var gcTries = 0
    while (earlyLive().nonEmpty && gcTries < 10) {
      System.gc(); Thread.sleep(100); gcTries += 1
    }
    assert(earlyLive().isEmpty,
      s"${earlyLive().size}/$earlyCount early-chain page bodies are still " +
        s"strongly reachable after $gcTries GC attempts (pages " +
        s"${earlyLive().take(5).mkString(",")}…) — the chain is retaining " +
        "per-page state")

    // SECONDARY (coarse) signal: ~60 MB of page bodies crossed the
    // driver after the warm-up mark; retaining them would hold that
    // memory. Allow half the signal as GC/bookkeeping drift, and
    // re-measure a few times before failing — heap arithmetic alone is
    // noisy (JIT, metaspace, Spark bookkeeping), which is why the weak
    // refs above carry the verdict.
    val processedAfterWarm = (nPages - warmPages).toLong * padBytes
    var growth = heapAtEnd - heapAtWarm
    var measures = 0
    while (growth >= processedAfterWarm / 2 && measures < 5) {
      growth = usedHeap() - heapAtWarm; measures += 1
    }
    assert(growth < processedAfterWarm / 2,
      s"driver heap grew ${growth / 1024 / 1024} MB over " +
        s"${nPages - warmPages} pages (~${processedAfterWarm / 1024 / 1024} MB " +
        "of bodies) — the chain is retaining per-page state")
  }
}
