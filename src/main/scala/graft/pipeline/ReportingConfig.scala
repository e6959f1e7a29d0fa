package graft.pipeline

import java.io.{InputStreamReader, Reader}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.Properties

import scala.jdk.CollectionConverters._

/** Typed configuration for the two-stage reporting deployment, with the
  * reference's exact three-layer precedence
  * (`ReportingProperties.java:43-89`):
  *
  *   1. a defaults properties file (reference:
  *      `/opt/reporting/config/default.properties`),
  *   2. an optional classpath `local.properties` overlay,
  *   3. `db.*` / `oai.*` / `mets.*` JVM system properties, highest.
  *
  * Keys and defaults mirror the reference's
  * `src/main/resources/default.properties`.
  */
case class ReportingConfig(
    dbUrl: String,
    dbUser: String,
    dbPassword: String,
    oaiUrl: String,
    oaiPollSeconds: Long,
    fc3CompatibilityMode: Boolean,
    runResultHistoryHours: Long,
    metsUrl: String,
    metsPollSeconds: Long,
    metsInterRequestMillis: Long,
    stateBuckets: Int)

object ReportingConfig {

  val Defaults: Map[String, String] = Map(
    "db.url" -> "jdbc:postgresql://localhost:5432/reporting",
    "db.user" -> "reportingDB",
    "db.passwd" -> "reportingDB",
    "oai.url" -> "http://localhost:8080/fedora/oai",
    "oai.pollseconds" -> "360",
    "oai.fc3compatibility" -> "true",
    "oai.runresulthistorylengthhours" -> "48",
    "mets.url" -> "http://localhost:8080/mets",
    "mets.pollseconds" -> "600",
    // reference hardcodes a 1 s floor between METS requests
    // (ReportingManager.java:85); 0 disables pacing for bulk backfills
    "mets.interrequestmillis" -> "1000",
    // graft extension (no reference analogue — its state is PostgreSQL):
    // the bucket count of the headers/reporting tables, so merges
    // rewrite only dirty buckets; size buckets ≈ state/1–16 GB
    "state.buckets" -> "1024")

  private val Prefixes = Seq("db.", "oai.", "mets.", "state.")

  /** Load with full layering. `defaultsFile` is optional (falls back to
    * compiled-in defaults), as is the classpath overlay. */
  def load(
      defaultsFile: Option[Path] = Some(Paths.get("/opt/reporting/config/default.properties")),
      localPropertiesResource: String = "/local.properties",
      systemProperties: Map[String, String] =
        sys.props.toMap): ReportingConfig = {
    val props = new Properties()
    Defaults.foreach { case (k, v) => props.setProperty(k, v) }

    // UTF-8 when the bytes decode cleanly, else the reference's
    // ISO-8859-1 (ReportingProperties.java:36): UTF-8-authored configs
    // keep their non-ASCII values intact and a migrated Latin-1 file
    // still loads instead of crashing the decoder.
    defaultsFile.filter(Files.exists(_)).foreach { p =>
      loadBytes(props, Files.readAllBytes(p))
    }
    Option(getClass.getResourceAsStream(localPropertiesResource)).foreach { in =>
      try loadBytes(props, in.readAllBytes()) finally in.close()
    }
    systemProperties.foreach { case (k, v) =>
      if (Prefixes.exists(k.startsWith)) props.setProperty(k, v)
    }
    fromProperties(props)
  }

  private def loadBytes(props: Properties, bytes: Array[Byte]): Unit = {
    val text =
      try {
        StandardCharsets.UTF_8.newDecoder()
          .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
          .decode(java.nio.ByteBuffer.wrap(bytes)).toString
      } catch {
        case _: java.nio.charset.CharacterCodingException =>
          new String(bytes, StandardCharsets.ISO_8859_1)
      }
    val reader: Reader = new java.io.StringReader(text)
    try props.load(reader) finally reader.close()
  }

  def fromProperties(props: Properties): ReportingConfig = {
    def get(k: String): String =
      Option(props.getProperty(k)).getOrElse(Defaults(k))
    ReportingConfig(
      dbUrl = get("db.url"),
      dbUser = get("db.user"),
      dbPassword = get("db.passwd"),
      oaiUrl = get("oai.url"),
      oaiPollSeconds = get("oai.pollseconds").trim.toLong,
      // Boolean.parseBoolean semantics (reference: non-"true" → false),
      // not Scala's throwing toBoolean — the reference boots on
      // oai.fc3compatibility=yes, so must we
      fc3CompatibilityMode =
        java.lang.Boolean.parseBoolean(get("oai.fc3compatibility").trim),
      runResultHistoryHours = get("oai.runresulthistorylengthhours").trim.toLong,
      metsUrl = get("mets.url"),
      metsPollSeconds = get("mets.pollseconds").trim.toLong,
      metsInterRequestMillis = get("mets.interrequestmillis").trim.toLong,
      stateBuckets = positiveInt("state.buckets", get("state.buckets")))
  }

  /** `value` of `key` as a positive Int, or an error naming both. */
  private def positiveInt(key: String, value: String): Int =
    value.trim.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"$key must be a positive integer, got '$value'"))

  def fromMap(entries: Map[String, String]): ReportingConfig = {
    val props = new Properties()
    (Defaults ++ entries).foreach { case (k, v) => props.setProperty(k, v) }
    fromProperties(props)
  }
}
