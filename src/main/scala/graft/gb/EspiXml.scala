package graft.gb

import java.io.StringReader
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}

import scala.collection.mutable.ArrayBuffer

/** Staging-table row types (SURVEY.md §1.2). One ParsedFeed per XML file;
  * the four staging tables are derived from it by explode (operator S4 —
  * relational shredding of the entry union).
  */
object Schemas {
  /** Atom entry envelope (reference entry.rs:16-31). entryType is the
    * flattened tagged union: "IntervalBlock" | "ReadingType" |
    * "LocalTimeParameters" | "Other"; rtIndex carries the
    * ReadingTypeWithIndex payload (-1 when n/a).
    */
  case class EntryRaw(
      idx: Int,
      entryType: String,
      rtIndex: Int,
      href: String,
      title: String,
      publishedUnix: Long,
      updatedUnix: Long,
      relatedMeterReadingHref: String,
      relatedReadingTypeHref: String)

  /** interval_reading.rs:11-25. cost NaN = missing; quality 16 = "other". */
  /** seq = document-order position of the reading within its file (the
    * reference CLI emits rows in file-then-document order, main.rs:30-38 —
    * seq lets callers restore that order after a shuffle). */
  case class IntervalReadingRaw(
      entryIdx: Int,
      seq: Int,
      cost: Float,
      quality: Int,
      value: Long,
      tou: Int,
      startUnix: Long,
      durationSec: Int)

  /** reading_type.rs:7-22. phase defaults to 0 = "none". */
  case class ReadingTypeRaw(
      rtIndex: Int,
      entryIdx: Int,
      accumulationBehaviour: Int,
      commodity: Int,
      currency: Int,
      dataQualifier: Int,
      flowDirection: Int,
      kind: Int,
      powerOfTenMultiplier: Int,
      phase: Int,
      uom: Int)

  /** local_time_parameters.rs:15-22; rules are u32 parsed from hex. */
  case class LocalTimeParamsRaw(
      dstStartRule: Long,
      dstEndRule: Long,
      dstOffset: Long,
      tzOffset: Long)

  /** One parsed file. error != null ⇒ the file failed to parse and the
    * other fields are empty (multi-file scan skips it in permissive mode —
    * reference cli-frontend/src/main.rs:34-37). */
  case class ParsedFeed(
      file: String,
      error: String,
      entries: Seq[EntryRaw],
      readings: Seq[IntervalReadingRaw],
      readingTypes: Seq[ReadingTypeRaw],
      localTimeParams: Seq[LocalTimeParamsRaw])
}

/** ESPI Atom-XML shredder (operators S1, S4-S8). Pure Scala StAX pull
  * parser — streaming, no DOM allocation, runs inside a `map` over whole
  * files (one task per file, no driver involvement).
  *
  * Behavior contract is the reference parser
  * (lib/personalgreenbutton/src/{lib,entry,content,interval_reading,
  * reading_type,local_time_parameters,time_period,parse_helpers}.rs):
  *   - per-entry Atom envelope: title, published/updated (RFC-3339 parsed
  *     with the zone offset *discarded* — naive local treated as UTC,
  *     entry.rs:96-111), self link href, related ReadingType link href, and
  *     the MeterReading parent href extracted from the self href by regex;
  *   - content dispatch by espi element; mixed entity types error;
  *     multiple IntervalBlocks tolerated (Hydro One bug, content.rs:27-39);
  *     repeated ReadingType/LocalTimeParameters keep the last (reference
  *     keeps the last captured node); unknown tags error;
  *   - text-or-default: concatenated trimmed descendant text, empty →
  *     type default (Hydro One empty-cost bug, parse_helpers.rs:27-40);
  *   - defaults: cost NaN, quality 16, tou 0, phase 0; all other fields
  *     required (missing → file error).
  */
object EspiXml {
  import Schemas._

  private val MeterReadingRe = "(.*MeterReading/[^/]*)/".r.unanchored

  /** Exception type for file-scoped parse failures. */
  final class EspiParseException(msg: String) extends RuntimeException(msg)

  private def fail(msg: String): Nothing = throw new EspiParseException(msg)

  // XMLInputFactory is not thread-safe to configure; one per thread.
  private val factory = new ThreadLocal[XMLInputFactory] {
    override def initialValue(): XMLInputFactory = {
      val f = XMLInputFactory.newInstance()
      f.setProperty(XMLInputFactory.IS_COALESCING, java.lang.Boolean.TRUE)
      f.setProperty(XMLInputFactory.IS_NAMESPACE_AWARE, java.lang.Boolean.TRUE)
      f.setProperty(XMLInputFactory.SUPPORT_DTD, java.lang.Boolean.FALSE)
      f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES,
        java.lang.Boolean.FALSE)
      f
    }
  }

  /** Iterate the child *elements* of the element the reader is positioned
    * on; `f` is called with the reader ON each child's START_ELEMENT and
    * must consume that child through its END_ELEMENT. Consumes the parent's
    * END_ELEMENT. */
  private def eachChild(r: XMLStreamReader)(f: String => Unit): Unit = {
    var done = false
    while (!done) r.next() match {
      case XMLStreamConstants.START_ELEMENT => f(r.getLocalName)
      case XMLStreamConstants.END_ELEMENT => done = true
      case XMLStreamConstants.END_DOCUMENT => done = true
      case _ =>
    }
  }

  /** Consume the current element entirely, ignoring its content. */
  private def skipElement(r: XMLStreamReader): Unit = {
    var depth = 1
    while (depth > 0) r.next() match {
      case XMLStreamConstants.START_ELEMENT => depth += 1
      case XMLStreamConstants.END_ELEMENT => depth -= 1
      case _ =>
    }
  }

  /** parse_helpers.rs:14-25 — all descendant text nodes, each trimmed,
    * concatenated (coalescing mode ⇒ one CHARACTERS event per text node).
    * Consumes the current element. */
  private def allText(r: XMLStreamReader): String = {
    val sb = new java.lang.StringBuilder
    var depth = 1
    while (depth > 0) r.next() match {
      case XMLStreamConstants.START_ELEMENT => depth += 1
      case XMLStreamConstants.END_ELEMENT => depth -= 1
      case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA =>
        sb.append(r.getText.trim)
      case _ =>
    }
    sb.toString
  }

  /** parse_helpers.rs:27-40 — empty text → default. */
  private def textOrDefault[T](r: XMLStreamReader, parse: String => T, default: T): T = {
    val t = allText(r)
    if (t.isEmpty) default
    else
      try parse(t)
      catch { case e: Exception => fail(s"Bad value '$t': ${e.getMessage}") }
  }

  /** RFC-3339 → unix seconds with the reference's naive-local quirk: the
    * clock time as written is interpreted as UTC, discarding the offset. */
  private def rfc3339NaiveUnix(text: String): Long =
    try java.time.OffsetDateTime.parse(text).toLocalDateTime
      .toEpochSecond(java.time.ZoneOffset.UTC)
    catch { case e: Exception => fail(s"Bad timestamp '$text': ${e.getMessage}") }

  /** Parse one feed document. Never throws — failures land in
    * ParsedFeed.error (the multi-file scan decides skip-vs-fail). */
  def parseFeed(file: String, xml: String): ParsedFeed =
    try parseFeedOrThrow(file, xml)
    catch {
      case e: Exception =>
        ParsedFeed(file, s"${e.getClass.getSimpleName}: ${e.getMessage}",
          Nil, Nil, Nil, Nil)
    }

  def parseFeedOrThrow(file: String, xml: String): ParsedFeed = {
    val r = factory.get().createXMLStreamReader(new StringReader(xml))
    try parseDocument(file, r)
    finally r.close()
  }

  private def parseDocument(file: String, r: XMLStreamReader): ParsedFeed = {
    // advance to root
    while (r.getEventType != XMLStreamConstants.START_ELEMENT) r.next()
    if (r.getLocalName != "feed") fail("Missing feed")

    val entries = ArrayBuffer.empty[EntryRaw]
    val readings = ArrayBuffer.empty[IntervalReadingRaw]
    val readingTypes = ArrayBuffer.empty[ReadingTypeRaw]
    val ltps = ArrayBuffer.empty[LocalTimeParamsRaw]

    eachChild(r) {
      case "entry" =>
        parseEntry(r, entries.length, entries, readings, readingTypes, ltps)
      case _ => skipElement(r)
    }

    ParsedFeed(file, null, entries.toSeq,
      readings.toSeq.zipWithIndex.map { case (ir, i) => ir.copy(seq = i) },
      readingTypes.toSeq, ltps.toSeq)
  }

  private def parseEntry(r: XMLStreamReader, idx: Int,
                         entries: ArrayBuffer[EntryRaw],
                         readings: ArrayBuffer[IntervalReadingRaw],
                         readingTypes: ArrayBuffer[ReadingTypeRaw],
                         ltps: ArrayBuffer[LocalTimeParamsRaw]): Unit = {
    var title: Option[String] = None
    var published: Option[Long] = None
    var updated: Option[Long] = None
    var href: Option[String] = None
    var relatedMr = ""
    var relatedRt = ""
    var sawContent = false

    // content dispatch state (content.rs:14-74)
    var entryType = ""
    def setType(t: String): Unit =
      if (entryType.isEmpty || entryType == t) entryType = t
      else fail("Entry has mixed content types.")
    var rtIndex = -1
    var lastRt: Option[ReadingTypeRaw] = None
    var lastLtp: Option[LocalTimeParamsRaw] = None
    val entryReadings = ArrayBuffer.empty[IntervalReadingRaw]

    eachChild(r) {
      case "title" =>
        val t = allText(r)
        if (t.isEmpty) fail("Empty title.")
        title = Some(t)
      case "published" => published = Some(rfc3339NaiveUnix(allText(r)))
      case "updated" => updated = Some(rfc3339NaiveUnix(allText(r)))
      case "link" =>
        val h = r.getAttributeValue(null, "href")
        val rel = r.getAttributeValue(null, "rel")
        val typ = r.getAttributeValue(null, "type")
        if (h != null && h.nonEmpty) {
          if (rel == "related" && typ == "espi-entry/ReadingType") relatedRt = h
          if (rel == "self") {
            href = Some(h)
            h match {
              case MeterReadingRe(mr) => relatedMr = mr
              case _ =>
            }
          }
        }
        skipElement(r)
      case "content" =>
        sawContent = true
        eachChild(r) {
          case "IntervalBlock" =>
            setType("IntervalBlock")
            parseIntervalBlock(r, idx, entryReadings)
          case "ReadingType" =>
            setType("ReadingType")
            rtIndex = readingTypes.length
            lastRt = Some(parseReadingType(r, idx, rtIndex))
          case "LocalTimeParameters" =>
            setType("LocalTimeParameters")
            lastLtp = Some(parseLocalTimeParams(r))
          case "MeterReading" | "UsagePoint" | "UsageSummary" |
              "ElectricPowerQualitySummary" =>
            setType("Other"); skipElement(r)
          case other => fail(s"Unknown tag name $other")
        }
      case _ => skipElement(r)
    }

    if (!sawContent) fail("Missing content node")
    readings ++= entryReadings
    lastRt.foreach(readingTypes += _)
    lastLtp.foreach(ltps += _)

    entries += EntryRaw(
      idx = idx,
      entryType = if (entryType.isEmpty) "Unset" else entryType,
      rtIndex = rtIndex,
      href = href.getOrElse(fail("Missing field href")),
      title = title.getOrElse(fail("Missing field title")),
      publishedUnix = published.getOrElse(fail("Missing field published")),
      updatedUnix = updated.getOrElse(fail("Missing field updated")),
      relatedMeterReadingHref = relatedMr,
      relatedReadingTypeHref = relatedRt)
  }

  private def parseIntervalBlock(r: XMLStreamReader, entryIdx: Int,
                                 out: ArrayBuffer[IntervalReadingRaw]): Unit =
    eachChild(r) {
      case "IntervalReading" => out += parseIntervalReading(r, entryIdx)
      case _ => skipElement(r)
    }

  private def parseIntervalReading(r: XMLStreamReader, entryIdx: Int): IntervalReadingRaw = {
    var cost = Float.NaN // NaN = missing (interval_reading.rs:16-17)
    var quality = 16 // "other"
    var value: Option[Long] = None
    var tou = 0
    var start: Option[Long] = None
    var duration: Option[Int] = None
    eachChild(r) {
      // ESPI stores cost in 1/100000ths of the currency unit
      case "cost" => cost = textOrDefault(r, _.toFloat, 0f) / 100000.0f
      case "ReadingQuality" => quality = textOrDefault(r, _.toInt, 0)
      case "value" => value = Some(textOrDefault(r, _.toLong, 0L))
      case "tou" => tou = textOrDefault(r, _.toInt, 0)
      case "timePeriod" =>
        eachChild(r) {
          case "start" => start = Some(textOrDefault(r, _.toLong, 0L))
          case "duration" => duration = Some(textOrDefault(r, _.toInt, 0))
          case _ => skipElement(r)
        }
        if (start.isEmpty) fail("Missing start time.")
        if (duration.isEmpty) fail("Missing duration")
      case other => fail(s"Unmatched tag name: $other")
    }
    IntervalReadingRaw(entryIdx, 0 /* seq assigned at document end */, cost,
      quality, value.getOrElse(fail("Missing field value")), tou,
      start.getOrElse(fail("Missing field time_period_start_unix")),
      duration.getOrElse(fail("Missing field time_period_duration_seconds")))
  }

  private def parseReadingType(r: XMLStreamReader, entryIdx: Int,
                               rtIndex: Int): ReadingTypeRaw = {
    val f = scala.collection.mutable.Map.empty[String, Int]
    eachChild(r) {
      case k @ ("accumulationBehaviour" | "commodity" | "currency" |
          "dataQualifier" | "flowDirection" | "kind" |
          "powerOfTenMultiplier" | "phase" | "uom") =>
        f(k) = textOrDefault(r, _.toInt, 0)
      case _ => skipElement(r) // other ReadingType fields (intervalLength, …)
    }
    def req(k: String): Int = f.getOrElse(k, fail(s"Missing field $k"))
    ReadingTypeRaw(rtIndex, entryIdx,
      accumulationBehaviour = req("accumulationBehaviour"),
      commodity = req("commodity"),
      currency = req("currency"),
      dataQualifier = req("dataQualifier"),
      flowDirection = req("flowDirection"),
      kind = req("kind"),
      powerOfTenMultiplier = req("powerOfTenMultiplier"),
      phase = f.getOrElse("phase", 0),
      uom = req("uom"))
  }

  private def parseLocalTimeParams(r: XMLStreamReader): LocalTimeParamsRaw = {
    var startRule: Option[Long] = None
    var endRule: Option[Long] = None
    var dstOffset: Option[Long] = None
    var tzOffset: Option[Long] = None
    eachChild(r) {
      // DST rules are hex-encoded u32 (local_time_parameters.rs:152-159)
      case "dstStartRule" =>
        startRule = Some(textOrDefault(r, java.lang.Long.parseLong(_, 16), 0L))
      case "dstEndRule" =>
        endRule = Some(textOrDefault(r, java.lang.Long.parseLong(_, 16), 0L))
      case "dstOffset" => dstOffset = Some(textOrDefault(r, _.toLong, 0L))
      case "tzOffset" => tzOffset = Some(textOrDefault(r, _.toLong, 0L))
      case other => fail(s"Unmatched tag name: $other")
    }
    LocalTimeParamsRaw(
      startRule.getOrElse(fail("Missing field dst_start_rule")),
      endRule.getOrElse(fail("Missing field dst_end_rule")),
      dstOffset.getOrElse(fail("Missing field dst_offset")),
      tzOffset.getOrElse(fail("Missing field tz_offset")))
  }
}
