package graft.perfbench

import java.time.{Instant, LocalDate, OffsetDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.util.hashing.MurmurHash3

import graft.pipeline.{DocumentFetcher, PageFetcher}

/** Seeded inputs for the reporting workloads: OAI `ListIdentifiers` pages
  * and the METS documents behind each record, together with the
  * reporting rows a correct pipeline must produce from them.
  *
  * Expected rows come from the generator's own record of what it wrote
  * (mandator, type, the instant a date string denotes), never from the
  * engine's projection, so the check is independent of the code under
  * test. */
object ReportingGen {

  /** A queued OAI header as the generator wrote it. */
  final case class Header(id: String, datestampS: Long, setSpecs: Seq[String],
      deleted: Boolean) {
    def qucosa: Boolean = ReportingGen.isQucosa(id)
  }

  /** The reporting row a valid METS document yields for a header. */
  final case class ReportRow(id: String, mandator: String, docType: String,
      distributionMs: Long, headerLastModifiedMs: Long)

  /** The METS document shapes the generator mixes, with their share out
    * of every 100 consecutive record numbers. The first four are valid
    * and reported; the last two are rejected (their queue rows are
    * still cleared). */
  sealed abstract class Shape(val share: Int, val valid: Boolean)
  case object Complete extends Shape(35, true)       // 2016-10-10T11:27:33+02:00
  case object DateOnly extends Shape(20, true)       // 2011-03-31
  case object NoColonOffset extends Shape(15, true)  // 2016-05-24T12:33:56+0200
  case object Pretty extends Shape(15, true)         // indented, padded text
  case object MissingAgent extends Shape(8, false)   // no EDITOR agent
  case object NotFound extends Shape(7, false)       // the fetch 404s
  val Shapes: Seq[Shape] =
    Seq(Complete, DateOnly, NoColonOffset, Pretty, MissingAgent, NotFound)

  private val Mandators = Seq("SLUB", "slub", "TU Dresden", "UB Leipzig",
    "TU Chemnitz", "HTWK Leipzig")
  private val DocTypes = Seq("issue", "article", "in_book", "monograph",
    "doctoral_thesis", "conference_object")

  val Authority = "oai:example.org:"
  private val QucosaId = ".+qucosa:\\d+".r

  def isQucosa(id: String): Boolean = QucosaId.matches(id)

  def h(seed: Long, parts: Any*): Int =
    MurmurHash3.orderedHash(parts, MurmurHash3.stringHash(seed.toString))

  private def pick[T](xs: Seq[T], seed: Long, parts: Any*): T =
    xs(Math.floorMod(h(seed, parts: _*), xs.size))

  /** Record number of a qucosa id (`…qucosa:123` → 123). */
  def number(id: String): Long = id.substring(id.lastIndexOf(':') + 1).toLong

  def qucosaId(n: Long): String = s"${Authority}qucosa:$n"

  /** Ids that fail the qucosa filter: system objects and
    * content-model ids. */
  def foreignId(seed: Long, n: Long): String =
    pick(Seq(s"${Authority}fedora-system:FedoraObject-$n",
      s"${Authority}qucosa:CModel$n", s"${Authority}qucosa:SDef$n",
      s"${Authority}fedora-system:ServiceDeployment-$n"), seed, "foreign", n)

  /** Shape of record `n`: fixed shares per 100 consecutive numbers, the
    * order inside each block of 100 rotated by the seed. */
  def shape(seed: Long, n: Long): Shape = {
    var slot = Math.floorMod(n + Math.floorMod(h(seed, "rot"), 100), 100L)
    Shapes.find { s => slot -= s.share; slot < 0 }.get
  }

  private val Iso = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")

  def isoZ(epochS: Long): String =
    Iso.format(Instant.ofEpochSecond(epochS).atOffset(ZoneOffset.UTC)) + "Z"

  /** (text written into dateIssued, the instant it denotes). */
  private def distribution(seed: Long, n: Long, s: Shape): (String, Long) = {
    val day = LocalDate.of(2005, 1, 1)
      .plusDays(Math.floorMod(h(seed, "day", n), 6000).toLong)
    val secs = Math.floorMod(h(seed, "sec", n), 86400).toLong
    val offH = Math.floorMod(h(seed, "off", n), 5) - 2
    val local = day.atStartOfDay().plusSeconds(secs)
    val off = ZoneOffset.ofHours(offH)
    val instantMs = OffsetDateTime.of(local, off).toInstant.toEpochMilli
    s match {
      case DateOnly =>
        (day.toString, day.atStartOfDay().toInstant(ZoneOffset.UTC).toEpochMilli)
      case NoColonOffset =>
        (Iso.format(local) + f"${if (offH < 0) "-" else "+"}${math.abs(offH)}%02d00",
          instantMs)
      case _ =>
        (Iso.format(local) + (if (offH == 0) "Z" else off.getId), instantMs)
    }
  }

  /** The reporting row record `id` yields when drained with header
    * datestamp `datestampS`, or None when its document is rejected. */
  def expected(seed: Long, id: String, datestampS: Long): Option[ReportRow] = {
    val n = number(id)
    val s = shape(seed, n)
    if (!s.valid) None
    else Some(ReportRow(id, pick(Mandators, seed, "mandator", n),
      pick(DocTypes, seed, "type", n), distribution(seed, n, s)._2,
      datestampS * 1000L))
  }

  /** The METS document served for local id `qucosa:<n>`; None is a
    * 404. */
  def mets(seed: Long, localId: String): Option[String] = {
    val n = number(localId)
    val s = shape(seed, n)
    if (s == NotFound) None
    else {
      val mandator = pick(Mandators, seed, "mandator", n)
      val docType = pick(DocTypes, seed, "type", n)
      val date = distribution(seed, n, s)._1
      val mods = if (Math.floorMod(h(seed, "ns", n), 2) == 0) "mods" else "v3"
      val (nl, ind) = if (s == Pretty) ("\n", "    ") else ("", "")
      val name =
        if (s == Pretty) s"\n$ind$ind  $mandator\n$ind$ind" else mandator
      val agent =
        if (s == MissingAgent) ""
        else s"""$ind<mets:agent ROLE="EDITOR" TYPE="ORGANIZATION">$nl$ind$ind<mets:name>$name</mets:name>$nl$ind</mets:agent>$nl"""
      val classifications = (0 until 1 + Math.floorMod(h(seed, "cls", n), 6))
        .map(i => s"""$ind$ind<$mods:classification authority="ddc">${300 + i * 7}</$mods:classification>$nl""")
        .mkString
      Some(
        s"""<?xml version="1.0" encoding="UTF-8"?>$nl""" +
        s"""<mets:mets OBJID="$localId" xmlns:mets="http://www.loc.gov/METS/" xmlns:xsi="http://www.w3.org/2001/XMLSchema-instance">$nl""" +
        s"""<mets:metsHdr RECORDSTATUS="ACTIVE" CREATEDATE="2016-05-24T10:33:56.975+00:00">$nl$agent</mets:metsHdr>$nl""" +
        s"""<mets:dmdSec ID="DMD_000" STATUS="ACTIVE"><mets:mdWrap MDTYPE="MODS"><mets:xmlData>$nl""" +
        s"""$ind<$mods:mods xmlns:$mods="http://www.loc.gov/mods/v3">$nl""" +
        s"""$ind$ind<$mods:titleInfo lang="ger"><$mods:title>Record $n</$mods:title></$mods:titleInfo>$nl""" +
        classifications +
        s"""$ind$ind<$mods:originInfo eventType="distribution">$nl""" +
        s"""$ind$ind$ind<$mods:publisher>Saechsische Landesbibliothek</$mods:publisher>$nl""" +
        s"""$ind$ind$ind<$mods:dateIssued encoding="iso8601" keyDate="yes">$date</$mods:dateIssued>$nl""" +
        s"""$ind$ind</$mods:originInfo>$nl""" +
        s"""$ind$ind<$mods:originInfo eventType="publication"/>$nl""" +
        s"""$ind</$mods:mods>$nl</mets:xmlData></mets:mdWrap></mets:dmdSec>$nl""" +
        s"""<mets:structMap TYPE="LOGICAL"><mets:div TYPE="$docType" ID="LOG_$n"/></mets:structMap>$nl""" +
        "</mets:mets>")
    }
  }

  /** A header with seeded set specs and deleted flag. */
  def header(seed: Long, id: String, datestampS: Long): Header =
    Header(id, datestampS,
      (0 until Math.floorMod(h(seed, "sets", id), 3)).map(i => s"set:$i"),
      Math.floorMod(h(seed, "del", id), 10) == 0)

  /** One `ListIdentifiers` response. `token` None ends the list with an
    * empty resumption token; Some(t) continues it. */
  def page(headers: Seq[Header], responseS: Long, token: Option[String],
      cursor: Long, completeListSize: Long): String = {
    val hs = headers.map { hd =>
      val status = if (hd.deleted) " status=\"deleted\"" else ""
      val sets = hd.setSpecs.map(s => s"<setSpec>$s</setSpec>").mkString
      s"<header$status><identifier>${hd.id}</identifier><datestamp>${isoZ(hd.datestampS)}</datestamp>$sets</header>"
    }.mkString("\n    ")
    val tok = token match {
      case Some(t) =>
        s"""<resumptionToken expirationDate="${isoZ(responseS + 86400)}" completeListSize="$completeListSize" cursor="$cursor">$t</resumptionToken>"""
      case None =>
        s"""<resumptionToken completeListSize="$completeListSize" cursor="$cursor"/>"""
    }
    s"""<?xml version="1.0" encoding="UTF-8"?>
       |<OAI-PMH xmlns="http://www.openarchives.org/OAI/2.0/" xmlns:xsi="http://www.w3.org/2001/XMLSchema-instance">
       |  <responseDate>${isoZ(responseS)}</responseDate>
       |  <request verb="ListIdentifiers" metadataPrefix="oai_dc">${PageStub.BaseUrl}</request>
       |  <ListIdentifiers>
       |    $hs
       |    $tok
       |  </ListIdentifiers>
       |</OAI-PMH>""".stripMargin
  }
}

/** Counting page transport: serves the page registered for the request's
  * resumption token, or the `""` entry for a request without one. */
final class PageStub extends PageFetcher {
  private val pages = new java.util.concurrent.ConcurrentHashMap[String, String]()

  def register(token: String, body: String): Unit = { pages.put(token, body); () }

  def apply(uri: String): Either[String, String] = {
    val marker = "resumptionToken="
    val token = uri.indexOf(marker) match {
      case -1 => ""
      case i  => java.net.URLDecoder.decode(uri.substring(i + marker.length), "UTF-8")
    }
    Option(pages.get(token)) match {
      case Some(body) =>
        TransportCounters.pagesServed.incrementAndGet()
        Right(body)
      case None => Left(s"no page for $uri")
    }
  }
}

object PageStub {
  val BaseUrl = "http://oai.bench.invalid/oai"
}

/** Counting document transport: renders the seeded METS document for a
  * local id on the executor, so no document map ships with the task. */
final class DocStub(seed: Long) extends DocumentFetcher {
  def apply(localId: String): Option[String] = {
    val doc = ReportingGen.mets(seed, localId)
    if (doc.isEmpty) TransportCounters.docMisses.incrementAndGet()
    else TransportCounters.docsServed.incrementAndGet()
    doc
  }
}
