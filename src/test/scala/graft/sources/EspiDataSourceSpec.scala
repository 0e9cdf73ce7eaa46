package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.gb.{EspiCorpus, EspiXml, GreenButton, Permissive}

class EspiDataSourceSpec extends SparkTestBase {

  private val corpus = EspiCorpus.glob

  lazy val df = spark.read.format("espi").load(corpus)

  private def name(file: String): String = file.substring(file.lastIndexOf('/') + 1)

  /** The files a micro-batch from `start` to `end` reads, in plan order. */
  private def planned(stream: EspiMicroBatchStream,
                      start: org.apache.spark.sql.connector.read.streaming.Offset,
                      end: org.apache.spark.sql.connector.read.streaming.Offset)
      : Seq[String] =
    stream.planInputPartitions(start, end).toSeq
      .flatMap(_.asInstanceOf[EspiFilePartition].paths)

  private val parseError =
    EspiXml.parseFeed("f.xml", EspiCorpus.text("feed_0001.xml")).error

  private val skipReasons = Map(
    "feed_0001.xml" -> Set(parseError), // truncated
    "feed_0002.xml" -> Set("unresolvable reading-type link",
      "Missing reading type"), // dangling ReadingType link
    "feed_0003.xml" -> Set("LocalTimeParameters count != 1"))

  test("reads one row per reading: file, seq, the 15 TimeSeries columns " +
      "and skip_reason") {
    assert(df.schema.fieldNames.toSeq ==
      Seq("file", "seq") ++ GreenButton.outputColumns :+ "skip_reason")
    val perFile = df.filter(col("skip_reason").isNull).groupBy("file").count()
      .collect().map(r => name(r.getString(0)) -> r.getLong(1)).toMap
    assert(perFile == EspiCorpus.manifest.filterNot(_._3)
      .map { case (n, rows, _) => n -> rows.toLong }.toMap)
  }

  test("rows match the generator's ground truth") {
    val got = df.filter(col("skip_reason").isNull).orderBy("file", "seq")
      .collect().toSeq
    assert(got.length == EspiCorpus.expected.length)
    got.zip(EspiCorpus.expected).foreach { case (r, e) =>
      val Seq(file, seq, title, start, value, cost, quality, tou, dur, flow,
        currency) = e
      def f32(s: String): Float =
        if (s == "nan") Float.NaN else s.toDouble.toFloat
      val exp = Seq(file, seq.toInt, title, start.toLong, f32(value),
        f32(cost), quality, tou.toInt, dur.toInt, flow, currency)
      val act = Seq(name(r.getAs[String]("file")), r.getAs[Int]("seq"),
        r.getAs[String]("title"), r.getAs[Long]("time_period_start_unix"),
        r.getAs[Float]("value"), r.getAs[Float]("cost"),
        r.getAs[String]("quality"), r.getAs[Int]("tou"),
        r.getAs[Int]("time_period_duration_seconds"),
        r.getAs[String]("flow_direction"), r.getAs[String]("currency"))
      // compare floats as bits: NaN cost equals NaN cost
      def bits(v: Any): Any = v match {
        case x: Float => java.lang.Float.floatToIntBits(x)
        case o => o
      }
      assert(act.map(bits) == exp.map(bits), s"row $act, expected $exp")
    }
  }

  test("permissive: a skipped file gives one row per reason, data columns " +
      "null") {
    val skips = df.filter(col("skip_reason").isNotNull).collect().toSeq
    val got = skips.groupBy(r => name(r.getAs[String]("file")))
      .map { case (n, rs) => n -> rs.map(_.getAs[String]("skip_reason")) }
    assert(got.keySet == skipReasons.keySet)
    got.foreach { case (n, reasons) =>
      assert(reasons.sorted == skipReasons(n).toSeq.sorted, s"$n: $reasons")
    }
    skips.foreach { r =>
      assert((1 until r.length - 1).forall(r.isNullAt), s"data in $r")
    }
  }

  test("the scan and the staging path give the same rows and skips") {
    val st = GreenButton.staging(GreenButton.parse(spark, corpus))
    val viaStaging = GreenButton.denormalize(spark, st, Permissive).collect()
    val viaScan = df.filter(col("skip_reason").isNull).drop("skip_reason")
      .collect()
    assert(viaScan.toSet == viaStaging.toSet)
    assert(viaScan.length == viaStaging.length)
    assert(df.filter(col("skip_reason").isNotNull)
      .select("file", "skip_reason").collect().toSet ==
      GreenButton.skippedFiles(spark, st).collect().toSet)
  }

  test("failfast raises the first bad file's message") {
    val e = intercept[Exception] {
      spark.read.format("espi").option("mode", "failfast").load(corpus)
        .collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(m => m.contains(s"feed_0001.xml: $parseError") ||
      m.contains("Mismatched reading type missing") ||
      m.contains("Missing LocalTimeParameters.")), msgs(e).mkString("\n"))
  }

  test("load(p1, p2) reads every glob") {
    val two = spark.read.format("espi")
      .load(EspiCorpus.path("feed_000[0-3].xml"),
        EspiCorpus.path("feed_000[4-7].xml"))
    assert(two.collect().toSet == df.collect().toSet)
  }

  test("small files pack into at most one partition per core, each file " +
      "once, in path order") {
    val dir = java.nio.file.Files.createTempDirectory("espi_pack").toFile
    (0 until 30).foreach(i => java.nio.file.Files.writeString(
      new java.io.File(dir, f"f$i%03d.xml").toPath, "<feed/>"))
    val scan = new EspiScan(Seq(dir.getAbsolutePath + "/*.xml"),
      failfast = false)
    val parts = scan.planInputPartitions().toSeq
      .map(_.asInstanceOf[EspiFilePartition].paths)
    assert(parts.length <= spark.sparkContext.defaultParallelism,
      s"${parts.length} partitions for 30 small files")
    assert(parts.flatten == (0 until 30).map(i =>
      "file:" + new java.io.File(dir, f"f$i%03d.xml").getAbsolutePath))
  }

  test("a batch path that matches nothing raises PATH_NOT_FOUND") {
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.read.format("espi").load(corpus, EspiCorpus.path("nope_*.xml"))
        .collect()
    }
    assert(e.getCondition == "PATH_NOT_FOUND", e.getMessage)
  }

  test("file-predicate pushdown prunes whole files before they are opened") {
    // a good and a malformed file; failfast would throw if the bad file
    // were ever parsed — the file predicate must prune it at planning time
    val read = spark.read.format("espi").option("mode", "failfast")
      .load(EspiCorpus.path("feed_000[01].xml"))
    val n = read.filter(col("file").endsWith("feed_0000.xml")).count()
    assert(n == 12)
    // and the pushed filter is visible in the plan
    val plan = read.filter(col("file").endsWith("feed_0000.xml"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") || plan.contains("StringEndsWith"),
      s"pushdown not visible:\n$plan")
    // sanity: without the predicate, failfast does hit the bad file
    intercept[Exception] { read.count() }
  }

  test("streaming: micro-batch source ingests newly arrived files exactly once") {
    val dir = java.nio.file.Files.createTempDirectory("espi_stream").toFile
    val ckpt = java.nio.file.Files.createTempDirectory("espi_ckpt").toFile
    val feed = EspiCorpus.text("feed_0005.xml")
    java.nio.file.Files.writeString(
      new java.io.File(dir, "a.xml").toPath, feed)
    val q = spark.readStream.format("espi")
      .load(dir.getAbsolutePath + "/*.xml")
      .select("file", "seq")
      .writeStream.format("memory").queryName("espi_mem")
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .start()
    try {
      q.processAllAvailable()
      val n1 = spark.sql("SELECT count(*) FROM espi_mem").head.getLong(0)
      assert(n1 == 48)
      // second file arrives; only its rows are appended (exactly once)
      java.nio.file.Files.writeString(
        new java.io.File(dir, "b.xml").toPath, feed)
      q.processAllAvailable()
      val n2 = spark.sql("SELECT count(*) FROM espi_mem").head.getLong(0)
      assert(n2 == 2 * n1, s"expected ${2 * n1}, got $n2")
      // no new files → no new rows
      q.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM espi_mem").head.getLong(0) == n2)
    } finally q.stop()
  }

  test("streaming: restart from checkpoint does not reprocess committed files") {
    val dir = java.nio.file.Files.createTempDirectory("espi_restart").toFile
    val ckpt = java.nio.file.Files.createTempDirectory("espi_restart_ck").toFile
    val feed = EspiCorpus.text("feed_0005.xml")
    val out = java.nio.file.Files.createTempDirectory("espi_restart_out").toFile
    java.nio.file.Files.writeString(new java.io.File(dir, "a.xml").toPath, feed)
    // file sink: supports checkpoint recovery (the memory sink doesn't)
    def startQuery() = spark.readStream.format("espi")
      .load(dir.getAbsolutePath + "/*.xml")
      .select("file", "seq")
      .writeStream.format("parquet")
      .option("path", out.getAbsolutePath)
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .start()
    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop()
    val n1 = spark.read.parquet(out.getAbsolutePath).count()
    assert(n1 > 0)
    // new query, same checkpoint: a.xml is committed; only b.xml is new
    java.nio.file.Files.writeString(new java.io.File(dir, "b.xml").toPath, feed)
    val q2 = startQuery()
    try {
      q2.processAllAvailable()
      val rows = spark.read.parquet(out.getAbsolutePath)
      assert(rows.count() == 2 * n1,
        s"expected ${2 * n1} total rows, got ${rows.count()}")
      val perFile = rows.groupBy("file").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(perFile.size == 2 && perFile.values.forall(_ == n1),
        s"per-file counts off (a.xml reprocessed?): $perFile")
    } finally q2.stop()
  }

  test("streaming offset is log-compacted: O(grace-window), not O(files-seen)") {
    // pin the (session-configurable) grace window so the mod-time spacing
    // below puts exactly one file inside it
    spark.conf.set("spark.graft.espi.graceMs", "5000")
    val dir = java.nio.file.Files.createTempDirectory("espi_compact").toFile
    val nFiles = 30
    val base = System.currentTimeMillis() - 1000L * 3600
    (0 until nFiles).foreach { i =>
      val f = new java.io.File(dir, f"f$i%03d.xml")
      java.nio.file.Files.writeString(f.toPath, "<feed/>")
      // spread mod times 60s apart — far beyond the 5s grace window
      assert(f.setLastModified(base + i * 60000L))
    }
    val scan = new EspiScan(Seq(dir.getAbsolutePath + "/*.xml"),
      failfast = false)
    val stream = new EspiMicroBatchStream(scan)
    val latest = stream.latestOffset().asInstanceOf[EspiOffset]
    // only files within graceMs of the newest mod time ride the offset
    assert(latest.recent.size == 1,
      s"offset not compacted: ${latest.recent.size} of $nFiles files retained")
    assert(latest.watermark == base + (nFiles - 1) * 60000L)
    // ...yet the first batch still covers every file
    val batch = planned(stream, stream.initialOffset(), latest)
    assert(batch.length == nFiles)
    // and a no-change step is empty (no reprocessing)
    assert(planned(stream, latest, latest).isEmpty)
    // ties inside the grace window stay in `recent` and are deduped by name
    val lateTwin = new java.io.File(dir, "f999.xml")
    java.nio.file.Files.writeString(lateTwin.toPath, "<feed/>")
    assert(lateTwin.setLastModified(latest.watermark)) // same mtime as max
    val latest2 = stream.latestOffset().asInstanceOf[EspiOffset]
    assert(latest2.recent.toSet ==
      Set(latest.recent.head, lateTwin.getAbsolutePath.replaceFirst("^", "file:")))
    val batch2 = planned(stream, latest, latest2)
    assert(batch2.length == 1, s"grace-window twin missed or duplicated: " +
      batch2.mkString(","))
  }

  test("admission control: maxFilesPerTrigger bounds each micro-batch and " +
      "every file still ingests exactly once across batches") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    spark.sparkContext // force the shared session (listing reads its conf)
    val dir = java.nio.file.Files.createTempDirectory("espi_admit").toFile
    val base = System.currentTimeMillis() - 1000L * 600
    (0 until 5).foreach { i =>
      val f = new java.io.File(dir, f"f$i.xml")
      java.nio.file.Files.writeString(f.toPath, "<feed/>")
      assert(f.setLastModified(base + i * 60000L)) // distinct mod times
    }
    // option wiring: the DataFrameReader option string reaches the scan
    val viaBuilder = new EspiScanBuilder(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("path", dir.getAbsolutePath + "/*.xml",
          "maxFilesPerTrigger", "2"))).build().asInstanceOf[EspiScan]
    assert(viaBuilder.maxFilesPerTrigger == Some(2))
    val scan = new EspiScan(Seq(dir.getAbsolutePath + "/*.xml"),
      failfast = false,
      maxFilesPerTrigger = Some(2))
    val stream = new EspiMicroBatchStream(scan)
    assert(stream.getDefaultReadLimit.toString.contains("2"))
    // drive the admission loop the way MicroBatchExecution does
    var start = stream.initialOffset().asInstanceOf[EspiOffset]
    val batches = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    var done = false
    while (!done) {
      val end = stream.latestOffset(start, ReadLimit.maxFiles(2))
        .asInstanceOf[EspiOffset]
      if (end == start) done = true
      else {
        batches += planned(stream, start, end)
          .toSeq.sorted
        start = end
      }
    }
    assert(batches.map(_.size) == Seq(2, 2, 1),
      s"batch sizes ${batches.map(_.size)}")
    // exactly once, all files, in (modTime, path) order
    val all = batches.flatten
    assert(all.distinct.size == 5 && all.size == 5)
    assert(all == all.sorted) // f0..f4 mtime order == name order here
    // no further batch once drained
    assert(stream.latestOffset(start, ReadLimit.maxFiles(2)) == start)
  }

  test("a late-within-grace arrival is ingested through " +
      "latestOffset(start, limit) — the end offset dominates start") {
    // mv/rsync -a deliveries carry their ORIGINAL mtime, so a file can
    // enter the watch dir with a mod time BELOW the committed watermark.
    // latestOffset(start, limit) is the engine's only planning path (the
    // source implements SupportsAdmissionControl), and a bare frontier
    // compaction here yields end.watermark < start.watermark → the
    // monotonicity guard holds start → the identical empty batch recurs
    // every trigger and the late file is withheld forever.
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val dir = java.nio.file.Files.createTempDirectory("espi_late").toFile
    val t = (System.currentTimeMillis() / 1000L) * 1000L - 600000L
    val a = new java.io.File(dir, "a.xml")
    java.nio.file.Files.writeString(a.toPath, "<feed/>")
    assert(a.setLastModified(t))
    val scan = new EspiScan(Seq(dir.getAbsolutePath + "/*.xml"),
      failfast = false, graceMs = 5000L)
    val stream = new EspiMicroBatchStream(scan)
    val init = stream.initialOffset().asInstanceOf[EspiOffset]
    val o1 = stream.latestOffset(init, ReadLimit.allAvailable())
      .asInstanceOf[EspiOffset]
    assert(planned(stream, init, o1).length == 1)
    // late delivery: mtime 2s OLDER than the watermark, inside the 5s grace
    val late = new java.io.File(dir, "late.xml")
    java.nio.file.Files.writeString(late.toPath, "<feed/>")
    assert(late.setLastModified(t - 2000L))
    val o2 = stream.latestOffset(o1, ReadLimit.allAvailable())
      .asInstanceOf[EspiOffset]
    assert(o2.watermark == o1.watermark, "end watermark regressed below start")
    val batch = planned(stream, o1, o2)
      
    assert(batch.toSeq == Seq("file:" + late.getAbsolutePath),
      s"late-within-grace file withheld: planned=$batch off=${o2.json()}")
    // the state must not recur: the next trigger is a clean no-op
    val o3 = stream.latestOffset(o2, ReadLimit.allAvailable())
      .asInstanceOf[EspiOffset]
    assert(o3 == o2 && planned(stream, o2, o3).isEmpty)
  }

  test("an equal-mtime arrival keeps already-ingested same-mtime files in " +
      "the end offset (no silent drop → re-ingestion)") {
    // a.xml and c.xml ingested at mtime t; b.xml arrives later with the
    // SAME mtime (coarse-granularity or rsync-preserved timestamps),
    // sorting between them. A bare compaction of the admitted frontier
    // {..., b} drops c from `recent`; c then re-enters as new on the next
    // trigger — an exactly-once violation.
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val dir = java.nio.file.Files.createTempDirectory("espi_eqmt").toFile
    val t = (System.currentTimeMillis() / 1000L) * 1000L - 600000L
    def mk(name: String): java.io.File = {
      val f = new java.io.File(dir, name)
      java.nio.file.Files.writeString(f.toPath, "<feed/>")
      assert(f.setLastModified(t))
      f
    }
    mk("a.xml"); val c = mk("c.xml")
    val scan = new EspiScan(Seq(dir.getAbsolutePath + "/*.xml"),
      failfast = false, graceMs = 5000L)
    val stream = new EspiMicroBatchStream(scan)
    val init = stream.initialOffset().asInstanceOf[EspiOffset]
    val o1 = stream.latestOffset(init, ReadLimit.allAvailable())
      .asInstanceOf[EspiOffset]
    assert(planned(stream, init, o1).length == 2)
    val b = mk("b.xml") // same mtime, sorts between a and c
    val o2 = stream.latestOffset(o1, ReadLimit.allAvailable())
      .asInstanceOf[EspiOffset]
    assert(o2.recent.contains("file:" + c.getAbsolutePath),
      s"same-mtime file dropped from the end offset: ${o2.json()}")
    val batch = planned(stream, o1, o2)
      
    assert(batch.toSeq == Seq("file:" + b.getAbsolutePath))
    // next trigger: nothing re-enters
    val o3 = stream.latestOffset(o2, ReadLimit.allAvailable())
      .asInstanceOf[EspiOffset]
    assert(o3 == o2 && planned(stream, o2, o3).isEmpty,
      s"re-ingestion after same-mtime arrival: ${o3.json()}")
  }

  test("a file deleted after ingest AGES OUT of the offset — bounded " +
      "state under delete-after-ingest retention, not unbounded growth") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val dir = java.nio.file.Files.createTempDirectory("espi_delete").toFile
    val t = (System.currentTimeMillis() / 1000L) * 1000L - 600000L
    val a = new java.io.File(dir, "a.xml")
    java.nio.file.Files.writeString(a.toPath, "<feed/>")
    assert(a.setLastModified(t))
    val scan = new EspiScan(Seq(dir.getAbsolutePath + "/*.xml"),
      failfast = false, graceMs = 5000L)
    val stream = new EspiMicroBatchStream(scan)
    val init = stream.initialOffset().asInstanceOf[EspiOffset]
    val o1 = stream.latestOffset(init, ReadLimit.allAvailable())
      .asInstanceOf[EspiOffset]
    assert(planned(stream, init, o1).length == 1)
    assert(o1.mts == Seq(t), s"offset lost the member mtime: ${o1.json()}")
    // retention pipeline: the ingested file is deleted, and a new file
    // arrives WELL past the grace window — the dead path must age out of
    // the offset instead of riding every future checkpoint
    assert(a.delete())
    val b = new java.io.File(dir, "b.xml")
    java.nio.file.Files.writeString(b.toPath, "<feed/>")
    assert(b.setLastModified(t + 60000L))
    val o2 = stream.latestOffset(o1, ReadLimit.allAvailable())
      .asInstanceOf[EspiOffset]
    assert(planned(stream, o1, o2)
      .toSeq ==
      Seq("file:" + b.getAbsolutePath))
    assert(o2.recent == Seq("file:" + b.getAbsolutePath),
      s"deleted path retained past the grace horizon: ${o2.json()}")
    // the enriched offset (with mtimes) round-trips through the log format
    assert(EspiOffset.fromJson(o2.json()) == o2)
  }

  test("a transient empty listing does not regress the offset (a regressed " +
      "end would erase dedup state and mass re-ingest on the next trigger)") {
    val dir = java.nio.file.Files.createTempDirectory("espi_regress").toFile
    val f = new java.io.File(dir, "a.xml")
    java.nio.file.Files.writeString(f.toPath, "<feed/>")
    val scan = new EspiScan(Seq(dir.getAbsolutePath + "/*.xml"),
      failfast = false)
    val stream = new EspiMicroBatchStream(scan)
    val o1 = stream.latestOffset().asInstanceOf[EspiOffset]
    assert(o1.recent.nonEmpty)
    // listing hiccup: the file vanishes for one trigger
    assert(f.delete())
    val o2 = stream.latestOffset().asInstanceOf[EspiOffset]
    assert(o2 == o1, s"offset regressed to $o2 on an empty listing")
    // and the held offset plans an empty batch, not a re-ingest
    assert(planned(stream, o1, o2).isEmpty)
  }

  test("a file whose mod time advances after ingest is NOT re-ingested " +
      "(membership beats the watermark)") {
    // the non-atomic-write race: a file is listed at creation (mt=t), the
    // batch ingests it, then its mtime bumps on content flush/close
    // (t' > t). The next trigger's listing must not plan it again.
    val t = 1723500000000L
    val off = EspiOffset(t, Seq("file:/d/b.xml"))
    val rs = off.recent.toSet
    assert(!EspiOffset.isNew(off, rs, "file:/d/b.xml", modTime = t + 3000L))
    assert(!EspiOffset.isNew(off, rs, "file:/d/b.xml", modTime = t + 60000L))
    // while a genuinely new path past the watermark IS picked up,
    assert(EspiOffset.isNew(off, rs, "file:/d/c.xml", modTime = t + 1L))
    // a new path inside the grace window IS picked up,
    assert(EspiOffset.isNew(off, rs, "file:/d/g.xml", modTime = t - 4000L))
    // and a late file beyond the grace window stays dropped (bounded
    // lateness — the maxFileAge trade)
    assert(!EspiOffset.isNew(off, rs, "file:/d/late.xml",
      modTime = t - EspiOffset.graceMs - 1L))
  }

  test("offset json round-trips (incl. hostile names) and legacy array " +
      "offsets deserialize with membership semantics") {
    val off = EspiOffset(1723500000123L,
      Seq("/plain.xml", "/quote\"back\\slash.xml", "/new\nline\t.xml"))
    val back = EspiOffset.fromJson(off.json())
    assert(back == off, s"round-trip changed offset: ${off.json()}")
    // a filename that embeds the key tokens must not confuse the parser
    val tricky = EspiOffset(7L, Seq("""/evil","r":[".xml"""))
    assert(EspiOffset.fromJson(tricky.json()) == tricky)
    // ...including the mtime key, with mtimes present
    val trickyM = EspiOffset(9L, Seq("""/evil","m":[9],".xml"""), Seq(5L))
    assert(EspiOffset.fromJson(trickyM.json()) == trickyM)
    // pre-mtime compacted offsets ({"w","r"} — no "m") deserialize with
    // unknown mtimes (empty), not a parse failure
    val preM = EspiOffset.fromJson("""{"w":123,"r":["/a.xml"]}""")
    assert(preM == EspiOffset(123L, Seq("/a.xml")))

    // pre-compaction checkpoints stored a bare JSON array of all files
    val legacy = EspiOffset.fromJson("""["/a.xml","/b.xml"]""")
    assert(legacy.watermark == Long.MinValue)
    val rs = legacy.recent.toSet
    assert(!EspiOffset.isNew(legacy, rs, "/a.xml", modTime = 1L))
    assert(EspiOffset.isNew(legacy, rs, "/c.xml", modTime = 1L))
    assert(EspiOffset.seenBy(legacy, rs, "/b.xml", modTime = 1L))
  }

  test("SQL over the source") {
    df.createOrReplaceTempView("espi_rows")
    val n = spark.sql(
      """SELECT count(*) FROM espi_rows
        |WHERE skip_reason IS NULL AND value > 0""".stripMargin).head.getLong(0)
    assert(n > 0 && n <= EspiCorpus.keptReadings)
  }
}
