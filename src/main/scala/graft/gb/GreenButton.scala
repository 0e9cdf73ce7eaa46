package graft.gb

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import Schemas._

/** Parse mode for the multi-file scan (S2): Permissive skips files that fail
  * to parse or denormalize (reference CLI skip-with-warning,
  * cli-frontend/src/main.rs:34-37); FailFast raises on the first bad file
  * (reference library behavior — parse_xml returns Err).
  */
sealed trait ParseMode
case object Permissive extends ParseMode
case object FailFast extends ParseMode

/** The Green Button engine: ESPI Atom-XML feeds → one denormalized
  * TimeSeries DataFrame (SURVEY.md §1-§3) → CSV / Parquet / InfluxDB sinks.
  *
  * Spark-first design, per file like the reference: the `espi` scan
  * ([[graft.sources.EspiDataSource]]) parses each file inside a scan task
  * and runs the reference's denormalize_and_link
  * (lib/personalgreenbutton/src/lib.rs:32-190) on it with hash lookups
  * ([[link]], [[denormalizeFeed]]): the LocalTimeParameters check, the
  * two-hop link map, the enum decode and pow10 once per reading type, and
  * the per-year DST memo. A file's metadata never leaves its own task, so
  * nothing is joined, shuffled or broadcast, and the plan stays one narrow
  * stage whatever the number of files; the only per-task side input is the
  * fixed enum dictionary (a few hundred codes). The staging API
  * ([[parse]], [[staging]], [[denormalize]], [[skippedFiles]]) runs the
  * same two functions over a `Dataset[ParsedFeed]`, for callers that want
  * the parsed feeds or the raw entry tables.
  */
object GreenButton {

  /** The 15-column output schema, in reference order (timeseries.rs:244-262). */
  val outputColumns: Seq[String] = Seq(
    "title", "cost", "quality", "value", "tou",
    "time_period_start_unix", "time_period_duration_seconds",
    "accumulation_behaviour", "commodity", "currency", "data_qualifier",
    "flow_direction", "kind", "phase", "uom")

  /** One denormalized reading: the 15 output columns plus `file` and `seq`,
    * the keys of the reference CLI's file-then-document row order. */
  case class TimeSeriesRow(
      file: String, seq: Int, title: String, cost: Float, quality: String,
      value: Float, tou: Int, time_period_start_unix: Long,
      time_period_duration_seconds: Int, accumulation_behaviour: String,
      commodity: String, currency: String, data_qualifier: String,
      flow_direction: String, kind: String, phase: String, uom: String)

  // ---------------------------------------------------------------- sources

  /** S1/S2: scan files (glob ok) → one ParsedFeed row per file. */
  def parse(spark: SparkSession, path: String): Dataset[ParsedFeed] = {
    import spark.implicits._
    spark.read.format("binaryFile").load(path)
      .select("path", "content")
      .as[(String, Array[Byte])]
      .map { case (p, bytes) =>
        EspiXml.parseFeed(p, new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
      }
  }

  /** Parse in-memory documents (tests, incremental ingest S3). */
  def parseStrings(spark: SparkSession, docs: Seq[(String, String)]): Dataset[ParsedFeed] = {
    import spark.implicits._
    docs.toDS().map { case (name, xml) => EspiXml.parseFeed(name, xml) }
  }

  /** The parsed feeds (the input of [[denormalize]] and [[skippedFiles]])
    * and the staging tables derived from them (relational shredding S4),
    * each carrying the `file` key. */
  case class Staging(feeds: Dataset[ParsedFeed], entries: DataFrame,
                     readings: DataFrame, readingTypes: DataFrame,
                     localTimeParams: DataFrame, errors: DataFrame)

  def staging(parsed: Dataset[ParsedFeed]): Staging = {
    val ok = parsed.filter(col("error").isNull)
    def exploded(field: String): DataFrame =
      ok.select(col("file"), explode(col(field)).as("x")).select(col("file"), col("x.*"))
    Staging(
      feeds = parsed,
      entries = exploded("entries"),
      readings = exploded("readings"),
      readingTypes = exploded("readingTypes"),
      localTimeParams = exploded("localTimeParams"),
      errors = parsed.filter(col("error").isNotNull).select(col("file"), col("error")))
  }

  // ----------------------------------------------------------- denormalize

  /** A file-level fault: the skip reason [[skippedFiles]] reports and the
    * message FailFast raises. */
  private[graft] final case class Fault(reason: String, message: String)

  /** A feed's link map and its faults in the reference's order
    * (lib.rs:42-83): a parse error alone, or exactly one
    * LocalTimeParameters, then the two-hop link entry → meter-reading
    * entry → reading-type entry for every entry with a meter link (the
    * first bad entry by idx names the error), then a reading type for every
    * entry that carries readings. `rtOf` maps an entry to the reading-type
    * indexes its links reach, one per match (duplicate hrefs fan out like
    * an equi-join); None is a missing hop. */
  private[graft] final case class Linked(rtOf: Map[Int, Seq[Option[Int]]],
                                         faults: Seq[Fault])

  private[graft] def link(f: ParsedFeed): Linked = {
    if (f.error != null)
      return Linked(Map.empty, Seq(Fault(f.error, s"${f.file}: ${f.error}")))
    val faults = mutable.ArrayBuffer.empty[Fault]
    if (f.entries.nonEmpty) f.localTimeParams.size match {
      case 1 =>
      case 0 => faults += Fault("LocalTimeParameters count != 1",
        "Missing LocalTimeParameters.")
      case _ => faults += Fault("LocalTimeParameters count != 1",
        "Input with multiple LocalTimeParameters is currently unsupported.")
    }
    val byHref = f.entries.groupBy(_.href)
    def hop(href: String): Seq[EntryRaw] = byHref.getOrElse(href, Nil)
    var linkErr: String = null
    def bad(msg: String): Unit = if (linkErr == null) linkErr = msg
    val rtOf = f.entries.filter(_.relatedMeterReadingHref.nonEmpty).map { e =>
      e.idx -> (hop(e.relatedMeterReadingHref) match {
        case Seq() =>
          bad(s"Missing meter reading entry ${e.relatedMeterReadingHref}")
          Seq(None)
        case mrs => mrs.flatMap { mr =>
          hop(mr.relatedReadingTypeHref) match {
            case Seq() => bad("Mismatched reading type missing"); Seq(None)
            case rts => rts.map { rt =>
              if (rt.entryType != "ReadingType")
                bad(s"Mismatched reading type ${rt.entryType}")
              Some(rt.rtIndex)
            }
          }
        }
      })
    }.toMap
    if (linkErr != null)
      faults += Fault("unresolvable reading-type link", linkErr)
    if (f.readings.exists(r =>
        rtOf.getOrElse(r.entryIdx, Seq(None)).contains(None)))
      faults += Fault("Missing reading type", "Missing reading type")
    Linked(rtOf, faults.toSeq)
  }

  /** One feed's denormalize_and_link given its [[link]]: its TimeSeries
    * rows, or none when the feed has a fault (Permissive) — FailFast throws
    * the first fault's message instead, a parse error included. */
  private[graft] def denormalizeFeed(f: ParsedFeed, linked: Linked,
                                     failFast: Boolean): Iterator[TimeSeriesRow] = {
    if (linked.faults.nonEmpty) {
      if (failFast)
        throw new EspiXml.EspiParseException(linked.faults.head.message)
      return Iterator.empty
    }
    if (f.entries.isEmpty) return Iterator.empty
    val ltp = f.localTimeParams.head
    // F3: the enova patch keys off the FIRST entry's href (timeseries.rs:173-177)
    val enova = f.entries.head.href.contains("enova")
    val titles = f.entries.map(e => e.idx -> e.title).toMap
    // J5 + F1, once per reading type: the 8 enum decodes (gb_type_details.rs:
    // 8-31) and 10^powerOfTenMultiplier in f32 (lib.rs:86-108, 171-173)
    val rtCodes = GbTypeDetails.readingTypeCodes
    val qualityCodes = GbTypeDetails.qualityCodes
    def code(field: String, v: Int): String =
      rtCodes.getOrElse((field, v), GbTypeDetails.MissingAppInfo)
    val decoded = f.readingTypes.map { rt =>
      rt.rtIndex -> (graft.functions.Pow10F.pow10(rt.powerOfTenMultiplier),
        Array(code("accumulationBehaviour", rt.accumulationBehaviour),
          code("commodity", rt.commodity), code("currency", rt.currency),
          code("dataQualifier", rt.dataQualifier),
          code("flowDirection", rt.flowDirection), code("kind", rt.kind),
          code("phase", rt.phase), code("uom", rt.uom)))
    }.toMap
    // F7/F8: the year's DST transitions, memoized per UTC year (lib.rs:117-156)
    val dst = mutable.HashMap.empty[Int, (Option[Long], Option[Long])]
    def localStart(s: Long): Long = {
      val y = java.time.LocalDate.ofEpochDay(Math.floorDiv(s, 86400L).toInt).getYear
      val inDst = dst.getOrElseUpdate(y, (DstRules.epochOrNone(ltp.dstStartRule, y),
        DstRules.epochOrNone(ltp.dstEndRule, y))) match {
        // strict bounds, naive-UTC space (lib.rs:157-162)
        case (Some(start), Some(end)) => s > start && s < end
        case _ => false
      }
      s + ltp.tzOffset + (if (inDst) ltp.dstOffset else 0L)
    }
    f.readings.iterator.flatMap { r =>
      val cost = if (enova) r.cost * 100.0f else r.cost
      val quality = qualityCodes.getOrElse(r.quality, GbTypeDetails.MissingAppInfo)
      val start = localStart(r.startUnix)
      linked.rtOf(r.entryIdx).map { rt =>
        val (pow10, d) = decoded(rt.get)
        TimeSeriesRow(f.file, r.seq, titles(r.entryIdx), cost, quality,
          r.value.toFloat * pow10, r.tou, start, r.durationSec,
          d(0), d(1), d(2), d(3), d(4), d(5), d(6), d(7))
      }
    }
  }

  /** The full denormalize_and_link over staged feeds, file by file.
    * Output: the 15 TimeSeries columns plus `file` and `seq`. */
  def denormalize(spark: SparkSession, st: Staging,
                  mode: ParseMode = FailFast): DataFrame = {
    val failFast = mode == FailFast
    st.feeds.flatMap(f => denormalizeFeed(f, link(f), failFast))(
      Encoders.product[TimeSeriesRow]).toDF()
  }

  /** Public diagnostics: (file, reason) for every staged file the permissive
    * pipeline skips — parse failures plus denormalize violations, each
    * reason once per file. */
  def skippedFiles(spark: SparkSession, st: Staging): DataFrame = {
    import spark.implicits._
    st.feeds.flatMap(f => link(f).faults.map(v => (f.file, v.reason)))
      .toDF("file", "reason")
  }

  /** The `espi` scan over path globs: `file`, `seq`, the 15 TimeSeries
    * columns and `skip_reason`, set on the rows of skipped files
    * ([[graft.sources.EspiDataSource]]). */
  private[graft] def scan(spark: SparkSession, mode: ParseMode,
                          paths: String*): DataFrame =
    spark.read.format("espi").option("mode", modeOption(mode)).load(paths: _*)

  /** The `espi` source's `mode` option for a [[ParseMode]]. */
  private[graft] def modeOption(mode: ParseMode): String =
    if (mode == FailFast) "failfast" else "permissive"

  private val keyColumns = Seq("file", "seq", "skip_reason")

  /** The scanned rows of the files kept, as the 15 TimeSeries columns. */
  private[graft] def kept(scanned: DataFrame): DataFrame =
    scanned.filter(col("skip_reason").isNull).drop(keyColumns: _*)

  /** [[kept]] in the reference CLI's output order — file order then
    * document order (cli-frontend/src/main.rs:30-38 never sorts; row order
    * is ingestion order). */
  private[graft] def keptInputOrdered(scanned: DataFrame): DataFrame =
    scanned.filter(col("skip_reason").isNull)
      .orderBy(col("file"), col("seq")).drop(keyColumns: _*)

  /** End-to-end: path glob → TimeSeries DataFrame (15 columns; file order is
    * not retained — the reference CLI doesn't sort either, use
    * [[TimeSeriesOps.sortSeries]] for the deterministic order). */
  def timeseries(spark: SparkSession, path: String,
                 mode: ParseMode = Permissive): DataFrame =
    kept(scan(spark, mode, path))

  /** Like [[timeseries]] but rows come back in the reference CLI's output
    * order ([[keptInputOrdered]]). */
  def timeseriesInputOrdered(spark: SparkSession, path: String,
                             mode: ParseMode = Permissive): DataFrame =
    keptInputOrdered(scan(spark, mode, path))

  /** Like [[timeseries]] over in-memory documents, through [[staging]]. */
  def timeseriesFromStrings(spark: SparkSession, docs: Seq[(String, String)],
                            mode: ParseMode = FailFast): DataFrame =
    denormalize(spark, staging(parseStrings(spark, docs)), mode)
      .drop("file", "seq")
}
