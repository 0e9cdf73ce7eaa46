package graft.sources

import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.gb.{EspiXml, GreenButton}
import graft.gb.GreenButton.TimeSeriesRow

/** DataSource V2 for ESPI Atom-XML feeds: `spark.read.format("espi")
  * .load(pathGlob, ...)` yields the denormalized TimeSeries table — one row
  * per reading: `file`, `seq` (document order within the file), the 15
  * TimeSeries columns and a null `skip_reason`. This is the one place the
  * product paths (the CLI, `GreenButton.timeseries*`,
  * `StreamingIngest.ingestXmlStream`) open an ESPI file.
  *
  * Scale shape: files are packed into input partitions by size like Spark's
  * own file splits (a file is never split; feeds are single-digit MB);
  * parsing and denormalize_and_link run inside the scan's task
  * (`GreenButton.link` / `denormalizeFeed`), so the plan is one narrow
  * stage. `file` predicates prune whole files at planning time.
  *
  * Options:
  *   - `mode=permissive` (default): a file that fails to parse or to link
  *     gives one row per skip reason (`GreenButton.skippedFiles`' reasons)
  *     with every column but `file` and `skip_reason` null, the permissive
  *     `_corrupt_record` convention of Spark's CSV and JSON sources;
  *   - `mode=failfast`: the first bad file raises its message;
  *   - `maxFilesPerTrigger` bounds a streaming micro-batch.
  */
class EspiDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "espi"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    EspiDataSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new EspiTable

  override def supportsExternalMetadata(): Boolean = false
}

object EspiDataSource {
  private[sources] lazy val rowEncoder: ExpressionEncoder[TimeSeriesRow] =
    ExpressionEncoder[TimeSeriesRow]()

  /** The row encoder's output plus `skip_reason`; every column but `file`
    * is nullable, since a skip row carries only its file and reason. */
  val schema: StructType = StructType(
    rowEncoder.schema.fields.map(f => f.copy(nullable = f.name != "file")) :+
      StructField("skip_reason", StringType, nullable = true))
}

class EspiTable extends Table with SupportsRead {
  override def name(): String = "espi"
  override def schema(): StructType = EspiDataSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new EspiScanBuilder(options)
}

class EspiScanBuilder(options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownFilters {
  private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty

  /** `file` predicates prune WHOLE FILES at planning time (a query for one
    * meter's feed out of a 100TB corpus never lists, opens, or parses the
    * rest). Every filter is also returned as a post-scan filter, so Spark
    * re-applies them — pushdown is a pure pruning optimization, never a
    * semantics change. */
  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    pushed = filters.filter(EspiScan.pushable)
    filters
  }

  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
    pushed

  override def build(): Scan = {
    // `load(p1, p2, ...)` passes its paths as one JSON array
    val paths = Option(options.get("paths")).toSeq.flatMap(json =>
      new com.fasterxml.jackson.databind.ObjectMapper()
        .readValue(json, classOf[Array[String]]).toSeq) ++
      Option(options.get("path")).toSeq
    val failfast =
      Option(options.get("mode")).exists(_.equalsIgnoreCase("failfast"))
    val maxFilesPerTrigger =
      Option(options.get("maxFilesPerTrigger")).map(_.trim.toInt)
    // grace resolved ONCE here (option > session conf > default): offset
    // planning and batch planning on different driver threads must observe
    // the SAME lateness horizon, or the isNew/seenBy algebra the
    // exactly-once contract depends on skews mid-query
    val graceMs = Option(options.get("graceMs")).map(_.trim.toLong)
      .getOrElse(EspiOffset.graceMs)
    new EspiScan(paths, failfast, pushed, maxFilesPerTrigger, graceMs)
  }
}

/** The files one task reads, in path order. */
case class EspiFilePartition(paths: Seq[String]) extends InputPartition

object EspiScan {
  import org.apache.spark.sql.sources._

  /** Filters usable for pruning: file-path predicates (whole-file skip). */
  def pushable(f: Filter): Boolean = f match {
    case EqualTo("file", _) | In("file", _) | StringStartsWith("file", _) |
         StringEndsWith("file", _) | StringContains("file", _) => true
    case _ => false
  }

  /** Evaluate the pushed predicates against a file path (conjunction). */
  def accepts(filters: Seq[Filter], path: String): Boolean =
    filters.forall {
      case EqualTo(_, v) => path == v
      case In(_, vs) => vs.contains(path)
      case StringStartsWith(_, p) => path.startsWith(p)
      case StringEndsWith(_, s) => path.endsWith(s)
      case StringContains(_, s) => path.contains(s)
      case _ => true
    }
}

class EspiScan(paths: Seq[String], failfast: Boolean,
               pushed: Seq[org.apache.spark.sql.sources.Filter] = Seq.empty,
               private[sources] val maxFilesPerTrigger: Option[Int] = None,
               // default arg evaluates at CONSTRUCTION (driver thread with
               // the session active), so direct constructions also pin one
               // grace horizon for the scan's lifetime
               private[sources] val graceMs: Long = EspiOffset.graceMs)
    extends Scan with Batch {
  override def readSchema(): StructType = EspiDataSource.schema
  override def toBatch: Batch = this

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new EspiMicroBatchStream(this)

  /** (path, modificationTime, length) per matched file, in path order —
    * mod times drive the compacted streaming offset's watermark.
    * `mustMatch` raises PATH_NOT_FOUND for a path or glob that matches
    * nothing, as Spark's batch file sources do; a stream's watch directory
    * may still be empty. */
  private[sources] def listFilesWithStats(mustMatch: Boolean = false)
      : Seq[(String, Long, Long)] = {
    val conf = hadoopConf
    paths.flatMap { p =>
      val hp = new Path(p)
      val fs = hp.getFileSystem(conf)
      val matched = Option(fs.globStatus(hp)).map(_.toSeq).getOrElse(Seq.empty)
      if (mustMatch && matched.isEmpty)
        throw new org.apache.spark.sql.AnalysisException(
          "PATH_NOT_FOUND", Map("path" -> hp.toString))
      matched.flatMap { st =>
        if (st.isDirectory) fs.listStatus(st.getPath).toSeq.filter(_.isFile)
        else Seq(st)
      }.map(st => (st.getPath.toString, st.getModificationTime, st.getLen))
    }.distinctBy(_._1)
      .filter { case (p, _, _) => EspiScan.accepts(pushed, p) }
      .sortBy(_._1)
  }

  private[sources] def listFilesWithTimes(): Seq[(String, Long)] =
    listFilesWithStats().map { case (p, mt, _) => p -> mt }

  /** Packs files, in path order, into partitions the way Spark's file
    * sources pack splits: a file costs its length plus
    * `spark.sql.files.openCostInBytes`, and a partition holds up to
    * max(openCost, min(`spark.sql.files.maxPartitionBytes`,
    * total cost / default parallelism)). A delivery of many small feeds
    * then runs a few tasks, not one per file. */
  private[sources] def partitions(files: Seq[(String, Long)]): Array[InputPartition] = {
    val conf = org.apache.spark.sql.internal.SQLConf.get
    val openCost = conf.filesOpenCostInBytes
    val parallelism = org.apache.spark.sql.SparkSession.active
      .sparkContext.defaultParallelism
    val maxBytes = math.min(conf.filesMaxPartitionBytes, math.max(openCost,
      files.map(_._2 + openCost).sum / parallelism))
    val packed = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    var cur = Vector.empty[String]
    var size = 0L
    files.foreach { case (p, len) =>
      if (cur.nonEmpty && size + len > maxBytes) {
        packed += cur; cur = Vector.empty; size = 0L
      }
      cur :+= p
      size += len + openCost
    }
    if (cur.nonEmpty) packed += cur
    packed.map(EspiFilePartition(_): InputPartition).toArray
  }

  private[sources] def readerFactory(): PartitionReaderFactory =
    new EspiReaderFactory(failfast,
      new org.apache.spark.util.SerializableConfiguration(hadoopConf))

  override def description(): String =
    s"espi PushedFilters: [${pushed.mkString(", ")}]"

  private def hadoopConf = org.apache.spark.sql.SparkSession.active
    .sparkContext.hadoopConfiguration

  // partition pruning inside the listing: a file whose path fails the
  // pushed predicates is never opened, read, or parsed
  override def planInputPartitions(): Array[InputPartition] =
    partitions(listFilesWithStats(mustMatch = true)
      .map { case (p, _, len) => p -> len })

  // ships the session's Hadoop conf to the executors so filesystem
  // settings/credentials (e.g. object-store keys) apply at read time,
  // same as the listing uses
  override def createReaderFactory(): PartitionReaderFactory =
    readerFactory()
}

/** Log-compacted streaming offset: `watermark` is the highest file
  * modification time fully ingested, `recent` the (sorted) files whose mod
  * time falls within [[EspiOffset.graceMs]] of it. A file is NEW iff its
  * mod time is past the watermark, or inside the grace window but not in
  * `recent` — so the offset is O(arrival-rate × grace), not O(files ever
  * seen): a year-long watch of a million-file directory checkpoints a
  * handful of paths, not the full history (the round-3 review's unbounded-
  * offset gap). The grace window absorbs filesystem timestamp granularity
  * and listing races; a file that materializes with a mod time older than
  * `watermark − graceMs` is NOT picked up — the same bounded-lateness
  * contract as Spark's own FileStreamSource `maxFileAge`.
  *
  * `watermark == Long.MinValue` marks the initial offset AND deserialized
  * legacy offsets (pre-compaction checkpoints stored the full file list as
  * a bare JSON array): for those, `recent` IS the complete seen set and
  * membership alone decides newness, so existing checkpoints restart
  * correctly and the very next offset written is the compacted form.
  */
case class EspiOffset(watermark: Long, recent: Seq[String],
                      mts: Seq[Long] = Seq.empty)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  // `mts` carries the LAST-KNOWN modification time per `recent` entry
  // (aligned by index; empty on legacy/hand-built offsets = unknown). It
  // exists so a path that disappears from the listing (deleted after
  // ingest — a standard retention pattern) still AGES OUT of the offset
  // within one grace window instead of being retained forever: without a
  // stored mtime, an absent path is indistinguishable from a transient
  // listing flicker and the safe direction (retain) grows the offset
  // without bound. With it, retention is exactly the window in which
  // isNew could re-admit the path — the FileStreamSource maxFileAge
  // semantics.
  /** Last-known mtime per member; `default` for legacy offsets. */
  def mtMap(default: Long): Map[String, Long] =
    if (mts.length == recent.length) recent.zip(mts).toMap
    else recent.map(_ -> default).toMap
  // escape ALL control characters too: the offset log is line-oriented, so
  // a (legal) file name containing a newline would otherwise split the
  // offset across log lines and corrupt recovery
  private def esc(f: String): String =
    "\"" + f.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  // "m" MUST precede "r": the r-parser collects every quoted string after
  // the "r": key, so a trailing "m" KEY would be swallowed as a path
  override def json(): String =
    s"""{"w":$watermark,"m":${mts.mkString("[", ",", "]")},""" +
      s""""r":${recent.map(esc).mkString("[", ",", "]")}}"""
}

object EspiOffset {
  /** Mod-time slack absorbed by the `recent` set: files whose mod time is
    * within this window of the watermark stay in the dedup set, and a file
    * materializing with an OLDER mod time than `watermark - graceMs` is
    * permanently dropped (bounded lateness, like FileStreamSource's
    * maxFileAge). The default covers the canonical atomic-delivery pattern
    * (mv/rsync/cp -p preserve the ORIGINAL mtime, so a file can enter the
    * watch dir minutes "late" by mod time). Session-configurable —
    * `spark.graft.espi.graceMs` — because the trade is offset size
    * (O(arrivals within grace)) vs lateness tolerance; like maxFileAge,
    * changing it mid-checkpoint shifts the lateness horizon for
    * subsequent batches only.
    */
  val defaultGraceMs: Long = 300000L
  def graceMs: Long =
    org.apache.spark.sql.SparkSession.getActiveSession
      .flatMap(sp => scala.util.Try(
        sp.conf.get("spark.graft.espi.graceMs").toLong).toOption)
      .getOrElse(defaultGraceMs)

  val initial: EspiOffset = EspiOffset(Long.MinValue, Seq.empty)

  /** Is (path, modTime) NOT yet ingested as of `off`? Membership in
    * `recent` always wins: a file's mod time can ADVANCE after it was
    * listed and ingested (non-atomic create-then-write, copies into the
    * watch dir, mtime bumped on close) and a bare `modTime > watermark`
    * test would re-ingest it — an observed exactly-once violation under
    * load. Like Spark's FileStreamSource, a modification to an
    * already-seen file is NOT a new file; only a path unseen in the grace
    * window is. (A file touched long after aging out of `recent`
    * re-enters as new — the same bounded-memory trade `maxFileAge`
    * makes.) */
  def isNew(off: EspiOffset, recentSet: Set[String], path: String,
            modTime: Long, grace: Long = graceMs): Boolean =
    if (off.watermark == Long.MinValue) !recentSet.contains(path) // legacy/initial
    else !recentSet.contains(path) && modTime >= off.watermark - grace

  /** Was (path, modTime) already listed when `off` was taken? (Bounds a
    * batch's end: a file that raced in after the end offset waits for the
    * next batch — exactly-once.) */
  def seenBy(off: EspiOffset, recentSet: Set[String], path: String,
             modTime: Long, grace: Long = graceMs): Boolean =
    if (off.watermark == Long.MinValue) recentSet.contains(path)
    else modTime < off.watermark - grace || recentSet.contains(path)

  /** Monotone high-water advance: a freshly-listed offset may only move
    * the committed frontier forward — an empty/partial listing (lower
    * watermark) holds the previous offset, and an equal-watermark listing
    * unions the membership sets (a partial listing at the same watermark
    * must not drop same-mtime files from the dedup set). Pure — property-
    * tested in PropertySpec against arbitrary arrival schedules. */
  def advance(hw: EspiOffset, listed: EspiOffset,
              grace: Long = graceMs): EspiOffset =
    if (hw == null) listed
    else if (listed.watermark < hw.watermark) hw
    else if (listed.watermark == hw.watermark)
      build(hw.watermark,
        hw.mtMap(hw.watermark) ++ listed.mtMap(listed.watermark), grace)
    else listed

  /** Assemble an offset from a path→last-known-mtime map, keeping only
    * members still inside the grace window of `w` — the single aging
    * rule every construction path shares. */
  private def build(w: Long, byPath: Map[String, Long],
                    grace: Long): EspiOffset = {
    val kept = byPath.toSeq.filter(_._2 >= w - grace).sortBy(_._1)
    EspiOffset(w, kept.map(_._1), kept.map(_._2))
  }

  /** Compact a full listing into an offset. */
  def ofListing(listing: Seq[(String, Long)], grace: Long = graceMs): EspiOffset =
    if (listing.isEmpty) initial
    else build(listing.map(_._2).max, listing.toMap, grace)

  /** End-offset algebra for an admitted batch: the planned end must
    * DOMINATE the start. A bare `ofListing(frontier)` breaks it two ways:
    * (a) when every admitted file is late-within-grace (mt < start
    * watermark — the mv/rsync old-mtime deliveries the grace window
    * exists for), the frontier's watermark is BELOW start's, a
    * monotonicity guard then holds `start`, and the identical empty batch
    * recurs every trigger — the late file is withheld forever; (b) when
    * the frontier's watermark EQUALS start's, the frontier compaction
    * contains only frontier files, silently dropping already-ingested
    * same-mtime paths that sort after the admitted frontier — they
    * re-enter as new next trigger (re-ingestion). So: watermark =
    * max(start, frontier), recent = union of both memberships, and every
    * member ages by its best-known mtime (current listing first, then the
    * mtime stored in the offset, then — legacy offsets without stored
    * mtimes — the new watermark, i.e. retained one full grace window).
    * A path below the grace horizon is dropped whether listed or absent:
    * isNew can never re-admit it, so dropping is free, and retaining
    * ABSENT paths forever would grow the offset without bound under
    * delete-after-ingest retention; a transiently flickering path is
    * still protected for exactly the window in which it could re-enter. */
  def dominate(start: EspiOffset, frontier: EspiOffset,
               listing: Seq[(String, Long)], grace: Long): EspiOffset = {
    val w = math.max(start.watermark, frontier.watermark)
    val listedMt = listing.toMap
    val merged = (start.mtMap(w) ++ frontier.mtMap(frontier.watermark))
      .map { case (p, mt) => p -> listedMt.getOrElse(p, mt) }
    build(w, merged, grace)
  }

  def fromJson(json: String): EspiOffset = {
    val t = json.trim
    if (t.startsWith("[")) EspiOffset(Long.MinValue, parseStrings(t)) // legacy
    else {
      // {"w":N,"m":[...],"r":[...]} — the key tokens are safe to search
      // for: quotes inside file-name strings are escaped, and "w"/"m"
      // precede the only string content, so the FIRST "r": is the real
      // key. Offsets from before the mtime field ({"w":N,"r":[...]})
      // deserialize with mts empty = unknown.
      val rPos = t.indexOf("\"r\":")
      val wPos = t.indexOf("\"w\":") + 4
      require(rPos > 0 && wPos >= 4, s"malformed espi offset: $t")
      val w = t.substring(wPos, t.indexOf(',', wPos)).trim.toLong
      val mPos = t.indexOf("\"m\":")
      val mts =
        if (mPos < 0 || mPos > rPos) Seq.empty[Long]
        else {
          val body = t.substring(t.indexOf('[', mPos) + 1,
            t.indexOf(']', mPos))
          if (body.trim.isEmpty) Seq.empty[Long]
          else body.split(',').toSeq.map(_.trim.toLong)
        }
      val paths = parseStrings(t.substring(rPos + 4))
      EspiOffset(w, paths,
        if (mts.length == paths.length) mts else Seq.empty)
    }
  }

  // parse a JSON string array (no nested structures; escapes: \" \\ \uXXXX)
  private def parseStrings(json: String): Seq[String] = {
    val items = scala.collection.mutable.ArrayBuffer.empty[String]
    val sb = new StringBuilder
    var inStr = false
    var i = 0
    while (i < json.length) {
      val c = json.charAt(i)
      if (inStr) {
        if (c == '\\') {
          val n = json.charAt(i + 1)
          if (n == 'u') {
            sb.append(Integer.parseInt(json.substring(i + 2, i + 6), 16).toChar)
            i += 5
          } else { sb.append(n); i += 1 }
        } else if (c == '"') { items += sb.result(); sb.clear(); inStr = false }
        else sb.append(c)
      } else if (c == '"') inStr = true
      i += 1
    }
    items.toSeq
  }
}

/** Micro-batch stream over an ESPI feed directory: each batch is the set of
  * newly arrived files (packed into partitions by the same rule and read by
  * the same reader as the batch scan, so file pushdown applies to the
  * stream too). `spark.readStream.format("espi")`. */
class EspiMicroBatchStream(scan: EspiScan)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit,
    ReadMaxFiles}

  // Monotonicity guard: a transient empty/partial listing (object-store
  // hiccup, glob race, dir briefly moved) must not regress the offset —
  // committing a REGRESSED end (worst case `initial`) would erase the
  // dedup state and re-ingest every still-present file on the next
  // trigger. The high-water offset only ever advances within a run;
  // across restarts the committed offset log plays the same role (a
  // regressed end never gets committed, so no start ever goes backward).
  @volatile private var highWater: EspiOffset = null
  // last offset actually computed by a planning call — reportLatestOffset
  // returns this instead of performing an independent second listing per
  // trigger (cost on object stores, and two listings can observe different
  // directory snapshots, making the reported offset disagree with the
  // planned one)
  @volatile private var lastComputed: EspiOffset = null

  override def initialOffset(): Offset = EspiOffset.initial

  override def latestOffset(): Offset = {
    val next = EspiOffset.advance(highWater,
      EspiOffset.ofListing(scan.listFilesWithTimes(), scan.graceMs))
    highWater = next
    lastComputed = next
    next
  }

  // ---- admission control (maxFilesPerTrigger): bound each micro-batch to
  // N new files so a backfill against a full directory proceeds in
  // bounded-size batches instead of one giant batch 0. The end offset of a
  // capped batch is the compaction of the listing PREFIX at-or-before the
  // admitted frontier in (modTime, path) order — the same offset algebra,
  // just evaluated on a prefix, so isNew/seenBy bound the batch exactly
  // and the files beyond the frontier surface as new on the next trigger.
  override def getDefaultReadLimit: ReadLimit =
    scan.maxFilesPerTrigger.map(ReadLimit.maxFiles)
      .getOrElse(ReadLimit.allAvailable())

  override def reportLatestOffset(): Offset =
    if (lastComputed != null) lastComputed else latestOffset()

  // This is the engine's ONLY planning path once SupportsAdmissionControl
  // is implemented (MicroBatchExecution calls it even for allAvailable),
  // so the end offset must DOMINATE start — see EspiOffset.dominate for
  // the two failure modes of a bare frontier compaction (late-within-grace
  // withholding; same-mtime membership drop).
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val grace = scan.graceMs
    val s = start.asInstanceOf[EspiOffset]
    val sRecent = s.recent.toSet
    val listing = scan.listFilesWithTimes()
    val fresh = listing
      .filter { case (p, mt) => EspiOffset.isNew(s, sRecent, p, mt, grace) }
      .sortBy { case (p, mt) => (mt, p) }
    val admitted = limit match {
      case rm: ReadMaxFiles => fresh.take(rm.maxFiles())
      case _ => fresh
    }
    val end =
      if (admitted.isEmpty) s // nothing new (or a listing hiccup): hold
      else {
        val (lastP, lastMt) = admitted.last
        val frontier = listing.filter { case (p, mt) =>
          mt < lastMt || (mt == lastMt && p <= lastP) }
        EspiOffset.dominate(s, EspiOffset.ofListing(frontier, grace),
          listing, grace)
      }
    lastComputed = end
    end
  }

  // The compacted offset no longer carries the batch's file list, so the
  // batch is re-derived from a fresh listing bounded by (start, end]:
  // new-as-of-start AND already-listed-by-end. Replay of a committed batch
  // therefore requires the source files to still exist — the same contract
  // as every file-based streaming source — AND assumes no file
  // materializes with a mod time older than end.watermark - graceMs
  // between the original attempt and the replay (such a file would pass
  // seenBy's below-grace branch and join the replayed batch). Both halves
  // of that listing-stability assumption are the price of O(grace)
  // offsets; widen spark.graft.espi.graceMs if deliveries carry old
  // mtimes (mv/rsync -a).
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[EspiOffset]
    val e = end.asInstanceOf[EspiOffset]
    val sRecent = s.recent.toSet
    val eRecent = e.recent.toSet
    scan.partitions(scan.listFilesWithStats().collect {
      case (p, mt, len) if EspiOffset.isNew(s, sRecent, p, mt, scan.graceMs) &&
        EspiOffset.seenBy(e, eRecent, p, mt, scan.graceMs) => p -> len
    })
  }

  override def createReaderFactory(): PartitionReaderFactory =
    scan.readerFactory()

  override def deserializeOffset(json: String): Offset = EspiOffset.fromJson(json)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

class EspiReaderFactory(failfast: Boolean,
                        conf: org.apache.spark.util.SerializableConfiguration)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new EspiPartitionReader(
      partition.asInstanceOf[EspiFilePartition].paths, failfast, conf.value)
}

/** Opens each file of a partition in turn, parses, links and denormalizes
  * it, and serves its TimeSeries rows (through the [[TimeSeriesRow]]
  * encoder) followed by one skip row per fault — in Permissive mode only,
  * since FailFast raises the first fault instead. */
class EspiPartitionReader(paths: Seq[String], failfast: Boolean,
                          conf: org.apache.hadoop.conf.Configuration)
    extends PartitionReader[InternalRow] {

  private val toRow = EspiDataSource.rowEncoder.createSerializer()
  private val noReason = new GenericInternalRow(1)
  private val joined = new JoinedRow

  private def rowsOf(path: String): Iterator[InternalRow] = {
    val hp = new Path(path)
    val in = hp.getFileSystem(conf).open(hp)
    // readAllBytes reads in blocks; Hadoop's readFullyToByteArray reads
    // byte by byte and costs more than the parse on multi-MB feeds
    val bytes = try in.readAllBytes() finally in.close()
    val feed = EspiXml.parseFeed(path,
      new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
    val linked = GreenButton.link(feed)
    val file = UTF8String.fromString(path)
    GreenButton.denormalizeFeed(feed, linked, failfast)
      .map(r => joined(toRow(r), noReason): InternalRow) ++
      linked.faults.iterator.map { f =>
        val skip = new GenericInternalRow(EspiDataSource.schema.length)
        skip.update(0, file)
        skip.update(skip.numFields - 1, UTF8String.fromString(f.reason))
        skip
      }
  }

  private val rows = paths.iterator.flatMap(rowsOf)
  private var cur: InternalRow = _

  override def next(): Boolean = {
    val h = rows.hasNext
    if (h) cur = rows.next()
    h
  }

  override def get(): InternalRow = cur

  override def close(): Unit = ()
}
