package graft

import java.net.InetSocketAddress

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.sources.OaiPageSource

/** S1 end-to-end over REAL sockets: a localhost HTTP server serves the
  * reference's own OAI fixture pages and the DSv2 source walks the
  * resumption-token chain through its default `HttpURLConnection`
  * transport — the rigor the reference applies by mocking at the
  * `CloseableHttpClient` seam (`OaiHarvesterTest.java:21-27`), here with
  * the actual network stack in the loop. */
class OaiHttpSpec extends SparkSpec {

  private def serve(handler: HttpExchange => Unit)(body: String => Unit): Unit = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/oai", (ex: HttpExchange) => handler(ex))
    server.start()
    try body(s"http://127.0.0.1:${server.getAddress.getPort}/oai")
    finally server.stop(0)
  }

  private def respond(ex: HttpExchange, status: Int, content: String): Unit = {
    val bytes = content.getBytes("UTF-8")
    ex.getResponseHeaders.set("Content-Type", "text/xml; charset=UTF-8")
    ex.sendResponseHeaders(status, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  /** First request (no token) → the fixture page carrying token
    * `111111111111111`; token request → the terminal empty-token page. */
  private def chainHandler(ex: HttpExchange): Unit = {
    val query = Option(ex.getRequestURI.getQuery).getOrElse("")
    val page =
      if (query.contains("resumptionToken=")) fixture("/oai/emptyResumptionToken.xml")
      else fixture("/oai/resumptionToken.xml")
    respond(ex, 200, page)
  }

  test("batch harvest walks a two-page token chain over real HTTP") {
    serve(chainHandler) { url =>
      val rows = spark.read.format("oai-pages")
        .option("url", url)
        .load()
        .collect().sortBy(_.getLong(0))
      assert(rows.length == 2)
      assert(rows(0).getString(1).contains("metadataPrefix=oai_dc"))
      assert(rows(1).getString(1).contains("resumptionToken=111111111111111"))
      assert(rows(1).getString(2).contains("<resumptionToken"))
    }
  }

  test("a mid-chain HTTP 500 fails the batch read (no silent truncation)") {
    serve { ex =>
      val query = Option(ex.getRequestURI.getQuery).getOrElse("")
      if (query.contains("resumptionToken="))
        respond(ex, 500, "boom")
      else
        respond(ex, 200, fixture("/oai/resumptionToken.xml"))
    } { url =>
      val e = intercept[Exception] {
        spark.read.format("oai-pages").option("url", url).load().collect()
      }
      def chain(t: Throwable): Seq[Throwable] =
        t +: Option(t.getCause).map(chain).getOrElse(Nil)
      assert(chain(e).exists(_.getMessage != null) &&
        chain(e).exists(t => Option(t.getMessage).exists(_.contains("transport failure"))),
        s"expected the fail-fast transport error, got $e")
    }
  }

  test("HarvestPipeline.runOnce completes a full harvest iteration over a real socket") {
    import graft.pipeline.{HarvestPipeline, PageFetcher}
    serve(chainHandler) { url =>
      val dir = java.nio.file.Files.createTempDirectory("graft-http-harvest").toString
      val headers = StateLayouts.records(spark, s"$dir/headers")
      val runs = StateLayouts.runs(spark, s"$dir/runs")
      val p = new HarvestPipeline(spark, headers, runs, url)
      // iteration 1: first request -> fixture page with a pending token;
      // headers merged, checkpoint carries the token
      val s1 = p.runOnce(PageFetcher.http(),
        java.sql.Timestamp.valueOf("2024-01-01 10:00:00"))
      assert(s1.succeeded, s"harvest over HTTP failed: ${s1.errors}")
      assert(s1.harvestedHeaders > 0)
      assert(s1.checkpoint.exists(_.resumptionToken.exists(_.trim.nonEmpty)))
      // iteration 2: token request -> terminal page, chain ends
      val s2 = p.runOnce(PageFetcher.http(),
        java.sql.Timestamp.valueOf("2024-01-01 10:01:00"))
      assert(s2.succeeded && s2.requestUri.contains("resumptionToken="))
      assert(s2.checkpoint.exists(_.resumptionToken.forall(_.trim.isEmpty)))
    }
  }

  test("httpFetch: non-200 and connection-refused map to None; 200 returns the body") {
    serve(chainHandler) { url =>
      assert(OaiPageSource.httpFetch(url + "?verb=ListIdentifiers&metadataPrefix=oai_dc")
        .exists(_.contains("<resumptionToken")))
    }
    serve(ex => respond(ex, 404, "nope")) { url =>
      assert(OaiPageSource.httpFetch(url).isEmpty)
    }
    // ephemeral port with no listener: transport error, not an exception
    assert(OaiPageSource.httpFetch("http://127.0.0.1:1/oai",
      connectTimeoutMs = 1000, readTimeoutMs = 1000).isEmpty)
  }
}
