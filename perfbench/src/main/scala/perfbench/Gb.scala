package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import graft.gb.{EspiXml, GreenButton, GreenButtonCli, Permissive, TimeSeriesOps}
import graft.streaming.StreamingIngest

import Main.{deleteTree, seconds}

/** `gb_ingest`: a cycle lands one delivery of small feeds, ingested by one
  * `ingestXmlStream` query whose increment is written with `writeInflux`,
  * then the CLI converts a corpus of interval feeds to csv and to parquet
  * (the influx sink runs in the delivery). Traced, the conversion runs the
  * CLI's layers one at a time over cached inputs and writes all three
  * formats. */
final class GbIngest(p: Map[String, String]) extends Main.Workload {
  private val bulk = p("bulk.dir")
  private val bulkReadings = p("bulk.readings").toDouble
  private val pending = p("deliveries.dir")
  private val landing = p("landing.dir")
  private val out = p("out.dir")
  private val formats = Seq("csv", "parquet")
  private var warmRuns = 0

  /** One CLI conversion. The CLI leaves its parsed feeds cached in the
    * session; clearing the cache afterwards gives every conversion the
    * fresh session a CLI process would have. */
  private def convert(spark: SparkSession, fmt: String, in: String,
                      to: String): Unit = {
    GreenButtonCli.run(Array("--filetype", fmt, "--out", to, s"$in/*.xml"),
      spark)
    spark.catalog.clearCache()
  }

  def warm(spark: SparkSession): Unit = {
    convert(spark, "csv", p("warm.dir"), s"$out/warm$warmRuns")
    warmRuns += 1
  }

  def run(spark: SparkSession, deadlineNs: Long, res: Main.Result,
          trace: Trace): Unit = {
    var cycle = 0
    do {
      // a delivery's latency runs from its last file written, so the
      // landing copy stays outside the timed body
      val tag = f"delivery_$cycle%03d"
      land(f"$pending/d$cycle%03d", tag)
      res.timed("delivery", p(s"delivery.$cycle.readings").toDouble) {
        Main.layer(trace, "stream")(ingest(spark, tag, trace))
      }
      if (trace == null) formats.foreach { f =>
        deleteTree(s"$out/$f")
        res.timed(f, bulkReadings)(convert(spark, f, bulk, s"$out/$f"))
      } else tracedConversion(spark, res, trace)
      cycle += 1
    } while (System.nanoTime() < deadlineNs && cycle < p("deliveries.count").toInt)
    res.extra("cycles") = cycle
  }

  /** Writes one delivery's files into its own landing directory. */
  private def land(src: String, tag: String): Unit = {
    val dir = new File(s"$landing/$tag")
    dir.mkdirs()
    new File(src).listFiles().filter(_.getName.endsWith(".xml"))
      .sortBy(_.getName)
      .foreach(f => Files.copy(f.toPath, new File(dir, f.getName).toPath))
  }

  /** Ingests a landed delivery until its increment is fully written. */
  private def ingest(spark: SparkSession, tag: String, trace: Trace): Unit = {
    var sinkS = 0.0
    val (q, startS) = seconds(StreamingIngest.ingestXmlStream(spark,
      s"$landing/$tag",
      (ts, id) => sinkS += seconds(
        TimeSeriesOps.writeInflux(ts, s"$out/$tag/b$id"))._2,
      Permissive))
    q.awaitTermination()
    q.exception.foreach(e => throw e)
    if (trace != null) {
      val d = q.recentProgress.toSeq.map(_.durationMs.asScala)
      def ms(keys: String*): Double =
        d.map(m => keys.map(k => m.get(k).map(_.toDouble).getOrElse(0.0)).sum).sum
      trace.add("stream.start", "ms", startS * 1e3)
      trace.add("stream.latest_offset", "ms", ms("latestOffset"))
      trace.add("stream.planning", "ms", ms("queryPlanning"))
      trace.add("stream.add_batch", "ms", ms("addBatch"))
      trace.add("stream.sink", "ms", sinkS * 1e3)
      trace.add("stream.commit", "ms", ms("walCommit", "commitOffsets"))
    }
  }

  /** The CLI's conversion, one layer at a time, each materialised over the
    * cached output of the layer before it; writes all three formats. */
  private def tracedConversion(spark: SparkSession, res: Main.Result,
                               trace: Trace): Unit = {
    val glob = s"$bulk/*.xml"
    res.attempted += 1
    val raw = trace.span("gb.read") {
      val df = spark.read.format("binaryFile").load(glob)
        .select("path", "content").persist()
      df.count()
      df
    }
    trace.add("gb.read", "input_mb", new File(bulk).listFiles()
      .filter(_.getName.endsWith(".xml")).map(_.length).sum / 1e6)
    val docs = raw.collect().map(r => (r.getString(0),
      new String(r.getAs[Array[Byte]](1), StandardCharsets.UTF_8)))
    raw.unpersist(true)
    val n = trace.span("gb.parse") {
      docs.map { case (path, xml) => EspiXml.parseFeed(path, xml).readings.size }
        .sum
    }
    trace.add("gb.parse", "readings_per_s", n / trace.last("gb.parse"))

    val parsed = trace.span("gb.encode") {
      val d = GreenButton.parse(spark, glob)
        .persist(StorageLevel.MEMORY_AND_DISK)
      d.count()
      d
    }
    val st = GreenButton.staging(parsed)
    val rows = trace.span("gb.staging") {
      Seq(st.entries, st.readings, st.readingTypes, st.localTimeParams,
        st.errors).map(_.count()).sum
    }
    trace.add("gb.staging", "rows", rows.toDouble)
    val ts = trace.span("gb.denormalize") {
      val t = GreenButton.denormalize(spark, st, Permissive).persist()
      t.count()
      t
    }
    trace.span("gb.skipped") { GreenButton.skippedFiles(spark, st).collect() }
    val sorted = trace.span("gb.sort") {
      val s = ts.orderBy(col("file"), col("seq")).drop("file", "seq").persist()
      s.count()
      s
    }
    val sinks: Seq[(String, String, DataFrame => Unit)] = Seq(
      ("csv", "gb.sink_csv", d => TimeSeriesOps.writeCsv(d, s"$out/csv")),
      ("parquet", "gb.sink_parquet",
        d => TimeSeriesOps.writeParquet(d, s"$out/parquet")),
      ("influxdb", "gb.sink_influx",
        d => TimeSeriesOps.writeInflux(d, s"$out/influxdb")))
    sinks.foreach { case (f, span, write) =>
      deleteTree(s"$out/$f")
      trace.span(span)(write(sorted))
    }
    spark.catalog.clearCache()
  }
}
