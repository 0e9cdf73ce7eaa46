package graft.gb

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col

import graft.SparkTestBase

/** Every branch of the per-file denormalize (LocalTimeParameters check,
  * two-hop link map, reading-type presence, enum decode, DST memo, enova
  * patch) in both parse modes, with expected rows and messages worked by
  * hand from the reference semantics (lib.rs:32-190, FIXTURES.md). */
class DenormalizeSpec extends SparkTestBase {

  private val up = "/espi/UsagePoint/1"
  private val rtHref = s"$up/MeterReading/7/ReadingType/9"

  private def feed(entries: String*): String =
    s"""<?xml version="1.0" encoding="UTF-8"?>
       |<feed xmlns="http://www.w3.org/2005/Atom"
       |      xmlns:espi="http://naesb.org/espi">${entries.mkString}</feed>""".stripMargin

  private def entry(title: String, self: String, content: String,
                    related: String = ""): String =
    s"""<entry><title>$title</title>
       |<published>2024-01-01T00:00:00Z</published>
       |<updated>2024-01-01T00:00:00Z</updated>
       |<link rel="self" href="$self"/>${
         if (related.isEmpty) ""
         else s"""<link rel="related" type="espi-entry/ReadingType" href="$related"/>"""
       }<content>$content</content></entry>""".stripMargin

  private def ltp(self: String = "/espi/LocalTimeParameters/1",
                  startRule: String = "FFFFFFFF",
                  endRule: String = "FFFFFFFF"): String =
    entry("ltp", self,
      s"""<espi:LocalTimeParameters>
         |<espi:dstStartRule>$startRule</espi:dstStartRule>
         |<espi:dstEndRule>$endRule</espi:dstEndRule>
         |<espi:dstOffset>3600</espi:dstOffset>
         |<espi:tzOffset>-18000</espi:tzOffset>
         |</espi:LocalTimeParameters>""".stripMargin)

  private def rt(self: String = rtHref, uom: Int = 42, pow10: Int = -3): String =
    entry("rt", self,
      s"""<espi:ReadingType>
         |<espi:accumulationBehaviour>4</espi:accumulationBehaviour>
         |<espi:commodity>7</espi:commodity>
         |<espi:currency>124</espi:currency>
         |<espi:dataQualifier>12</espi:dataQualifier>
         |<espi:flowDirection>1</espi:flowDirection>
         |<espi:kind>58</espi:kind>
         |<espi:powerOfTenMultiplier>$pow10</espi:powerOfTenMultiplier>
         |<espi:uom>$uom</espi:uom>
         |</espi:ReadingType>""".stripMargin)

  private def mr(self: String = s"$up/MeterReading/7",
                 related: String = rtHref): String =
    entry("mr", self, "<espi:MeterReading/>", related)

  /** An IntervalBlock entry; its self href names its meter reading. */
  private def ib(readings: String,
                 self: String = s"$up/MeterReading/7/IntervalBlock/1"): String =
    entry("Meter data", self, s"<espi:IntervalBlock>$readings</espi:IntervalBlock>")

  private def reading(value: Long, start: Long = 1670025600L,
                      cost: Option[Long] = None,
                      quality: Option[Int] = None): String =
    s"""<espi:IntervalReading>${
         cost.fold("")(c => s"<espi:cost>$c</espi:cost>")
       }${
         quality.fold("")(q => s"<espi:ReadingQuality>$q</espi:ReadingQuality>")
       }<espi:timePeriod><espi:duration>3600</espi:duration>
       |<espi:start>$start</espi:start></espi:timePeriod>
       |<espi:value>$value</espi:value></espi:IntervalReading>""".stripMargin

  private def good(readings: String = reading(58000)): String =
    feed(ltp(), rt(), mr(), ib(readings))

  private def staging(docs: (String, String)*): GreenButton.Staging =
    GreenButton.staging(GreenButton.parseStrings(spark, docs))

  private def rows(docs: Seq[(String, String)], mode: ParseMode): Seq[Row] =
    GreenButton.denormalize(spark, staging(docs: _*), mode)
      .orderBy(col("file"), col("seq")).collect().toSeq

  private def skipped(docs: (String, String)*): Set[(String, String)] =
    GreenButton.skippedFiles(spark, staging(docs: _*)).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet

  /** The messages of an exception chain. */
  private def msgs(t: Throwable): Seq[String] =
    if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)

  /** FailFast on one file: the message its exception chain carries. */
  private def failure(xml: String): Seq[String] =
    msgs(intercept[Exception] {
      GreenButton.denormalize(spark, staging("bad.xml" -> xml), FailFast)
        .collect()
    })

  /** FailFast raises `msg`; Permissive drops the whole file, keeps a good
    * one, and reports `reasons` for it. */
  private def rejects(xml: String, msg: String, reasons: String*): Unit = {
    val m = failure(xml)
    assert(m.exists(_.contains(msg)), s"expected '$msg', got $m")
    val kept = rows(Seq("good.xml" -> good(), "bad.xml" -> xml), Permissive)
    assert(kept.map(_.getAs[String]("file")) == Seq("good.xml"))
    assert(skipped("good.xml" -> good(), "bad.xml" -> xml) ==
      reasons.map("bad.xml" -> _).toSet)
  }

  private val ltpReason = "LocalTimeParameters count != 1"
  private val linkReason = "unresolvable reading-type link"
  private val rtReason = "Missing reading type"

  test("a clean feed: every column worked by hand") {
    val Seq(r) = rows(Seq("a.xml" -> good(
      reading(58000, cost = Some(250000), quality = Some(8)))), FailFast)
    assert(r.toSeq == Seq("a.xml", 0, "Meter data",
      2.5f, // 250000 / 100000
      "estimated using reference day", // QualityOfReading 8
      58000f * 0.001f, // value × 10^-3 in f32
      0, 1670025600L - 18000L, 3600,
      "deltaData", "naturalGas", "CAD", "normal", "forward", "volume",
      "none", "m3"))
  }

  test("zero LocalTimeParameters: FailFast message, Permissive skips the file") {
    rejects(feed(rt(), mr(), ib(reading(1))),
      "Missing LocalTimeParameters.", ltpReason)
  }

  test("two LocalTimeParameters: FailFast message, Permissive skips the file") {
    rejects(feed(ltp(), ltp("/espi/LocalTimeParameters/2"), rt(), mr(),
      ib(reading(1))),
      "Input with multiple LocalTimeParameters is currently unsupported.",
      ltpReason)
  }

  test("a dangling meter-reading link on an entry with zero readings " +
      "fails the file") {
    rejects(feed(ltp(), rt(), mr(), ib(reading(1)),
      ib("", self = "/espi/UsagePoint/9/MeterReading/7/IntervalBlock/1")),
      "Missing meter reading entry /espi/UsagePoint/9/MeterReading/7",
      linkReason)
  }

  test("a link to a non-ReadingType entry, on an entry with zero readings, " +
      "fails the file") {
    // the meter reading's related link points at the LTP entry
    rejects(feed(ltp(), rt(), mr(related = "/espi/LocalTimeParameters/1"),
      ib("")),
      "Mismatched reading type LocalTimeParameters", linkReason)
  }

  test("a meter reading whose related link reaches no entry fails the file") {
    rejects(feed(ltp(), rt(), mr(related = "/nowhere"), ib("")),
      "Mismatched reading type missing", linkReason)
  }

  test("a reading entry with no reading-type link: Missing reading type") {
    // the self href names no MeterReading, so the entry has no meter link
    rejects(feed(ltp(), rt(), mr(), ib(reading(4), self = "/espi/Other/1")),
      "Missing reading type", rtReason)
  }

  test("several faults in one file: LTP, then link, then missing reading " +
      "type; Permissive lists every reason") {
    val danglingIb =
      ib(reading(4), self = "/espi/UsagePoint/9/MeterReading/7/IntervalBlock/1")
    val unlinkedIb = ib(reading(5), self = "/espi/Other/1")
    val all = feed(rt(), danglingIb, unlinkedIb)
    assert(failure(all).exists(_.contains("Missing LocalTimeParameters.")))
    // a dangling entry's readings lack a reading type too
    assert(skipped("bad.xml" -> all) ==
      Set(ltpReason, linkReason, rtReason).map("bad.xml" -> _))
    // the unlinked entry comes FIRST: the link error still wins
    val linkAndRt = feed(ltp(), rt(), mr(), unlinkedIb, danglingIb)
    val m = failure(linkAndRt)
    assert(m.exists(_.contains(
      "Missing meter reading entry /espi/UsagePoint/9/MeterReading/7")), m)
    // of two bad links the lower entry idx names the error
    val twoLinks = feed(ltp(), rt(), mr(related = "/nowhere"),
      ib("", self = "/espi/UsagePoint/9/MeterReading/7/IntervalBlock/1"))
    assert(failure(twoLinks).exists(_.contains(
      "Mismatched reading type missing")))
  }

  test("unknown enum and quality codes decode to Missing app info") {
    val x = feed(ltp(), rt(uom = 9999), mr(),
      ib(reading(6, quality = Some(77)) + reading(7, quality = Some(0))))
    val rs = rows(Seq("u.xml" -> x), FailFast)
    assert(rs.map(_.getAs[String]("uom")) ==
      Seq("Missing app info", "Missing app info"))
    assert(rs.map(_.getAs[String]("quality")) == Seq("Missing app info", "valid"))
    assert(rs.map(_.getAs[String]("kind")) == Seq("volume", "volume"))
  }

  test("DST: readings exactly on the start and end transitions do not shift") {
    // 360E2000 → 2024-03-12 02:00 = 1710208800; B40E2000 → 2024-11-05
    // 02:00 = 1730772000 (DstTransitionGoldenSpec pins both); bounds are
    // strict, so only instants strictly between them gain dstOffset 3600
    val starts = Seq(1710208799L, 1710208800L, 1710208801L,
      1730771999L, 1730772000L, 1730772001L)
    val x = feed(ltp(startRule = "360E2000", endRule = "B40E2000"), rt(), mr(),
      ib(starts.zipWithIndex.map { case (s, i) => reading(i, start = s) }.mkString))
    for (mode <- Seq(FailFast, Permissive)) {
      val local = rows(Seq("d.xml" -> x), mode)
        .map(_.getAs[Long]("time_period_start_unix"))
      assert(local == Seq(
        1710208799L - 18000L, 1710208800L - 18000L, 1710208801L - 14400L,
        1730771999L - 14400L, 1730772000L - 18000L, 1730772001L - 18000L),
        s"$mode: $local")
    }
  }

  test("enova: the cost x100 patch keys off the FIRST entry's href only") {
    val enovaLtp = "https://enova.example/espi/LocalTimeParameters/1"
    val first = feed(ltp(self = enovaLtp), rt(), mr(),
      ib(reading(1, cost = Some(100000))))
    assert(rows(Seq("e.xml" -> first), FailFast)
      .map(_.getAs[Float]("cost")) == Seq(100.0f))
    // the same href on a later entry (the first is the plain LTP) is ignored
    val later = feed(ltp(), rt(), mr(), ib(reading(1, cost = Some(100000))),
      entry("x", "https://enova.example/espi/Other/1", "<espi:UsageSummary/>"))
    assert(rows(Seq("e.xml" -> later), FailFast)
      .map(_.getAs[Float]("cost")) == Seq(1.0f))
  }

  test("a feed with no entries yields no rows and no error in either mode") {
    val empty = feed()
    for (mode <- Seq(FailFast, Permissive))
      assert(rows(Seq("empty.xml" -> empty), mode).isEmpty)
    assert(skipped("empty.xml" -> empty).isEmpty)
  }

  test("an unparseable file raises under FailFast through the staging " +
      "path and the scan alike") {
    val m = failure("<notfeed/>")
    assert(m.exists(_.contains("bad.xml: EspiParseException: Missing feed")),
      s"staging path: $m")
    val fromStrings = intercept[Exception] {
      GreenButton.timeseriesFromStrings(spark, Seq("bad.xml" -> "<notfeed/>"),
        FailFast).collect()
    }
    assert(msgs(fromStrings).exists(_.contains(
      "bad.xml: EspiParseException: Missing feed")), msgs(fromStrings))
    val dir = java.nio.file.Files.createTempDirectory("failfast_parse").toFile
    val f = new java.io.File(dir, "bad.xml")
    java.nio.file.Files.writeString(f.toPath, "<notfeed/>")
    val scanned = intercept[Exception] {
      GreenButton.timeseries(spark, f.getAbsolutePath, FailFast).collect()
    }
    assert(msgs(scanned).exists(_.contains(
      s"file:${f.getAbsolutePath}: EspiParseException: Missing feed")),
      msgs(scanned))
    // Permissive skips it with the parse error as its reason
    assert(GreenButton.timeseries(spark, f.getAbsolutePath).count() == 0)
    assert(skipped("bad.xml" -> "<notfeed/>") ==
      Set("bad.xml" -> "EspiParseException: Missing feed"))
  }

  test("duplicate hrefs fan out like an equi-join: one row per match") {
    // two ReadingType entries share the href the meter reading links to;
    // each reading yields one row per reading type, in entry order
    val x = feed(ltp(), rt(), rt(uom = 72, pow10 = 2), mr(),
      ib(reading(8) + reading(9)))
    val rs = rows(Seq("dup.xml" -> x), FailFast)
      .map(r => (r.getAs[Int]("seq"), r.getAs[String]("uom"),
        r.getAs[Float]("value")))
    assert(rs.sortBy(t => (t._1, t._2)) == Seq(
      (0, "Wh", 800f), (0, "m3", 8f * 0.001f),
      (1, "Wh", 900f), (1, "m3", 9f * 0.001f)))
  }
}
