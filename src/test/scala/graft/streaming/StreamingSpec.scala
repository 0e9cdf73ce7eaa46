package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkTestBase

class StreamingSpec extends SparkTestBase {

  import spark.implicits._

  test("ingestXmlStream micro-batch parses dropped XML files") {
    val watch = Files.createTempDirectory("gb_stream").toFile
    val out = Files.createTempDirectory("gb_stream_out").toFile
    // drop the test corpus, malformed feeds included, into the watched dir
    new java.io.File(graft.gb.EspiCorpus.dir).listFiles()
      .filter(_.getName.endsWith(".xml"))
      .foreach(f => Files.copy(f.toPath, new java.io.File(watch, f.getName).toPath))

    val q = StreamingIngest.ingestXmlStream(spark, watch.getAbsolutePath,
      (ts, _) => ts.write.mode("append").parquet(out.getAbsolutePath + "/ts"))
    q.awaitTermination(120000)

    val got = spark.read.parquet(out.getAbsolutePath + "/ts")
    assert(got.count() == graft.gb.EspiCorpus.keptReadings)
    assert(got.columns.toSeq == graft.gb.GreenButton.outputColumns)
  }

  test("windowed aggregation with watermark over MemoryStream") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val df = mem.toDF().toDF("ts", "event_type", "value")
    val agg = StreamingIngest.windowedCounts(df, "10 minutes", "10 minutes", "5 minutes")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("win_out").start()
    def t(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    mem.addData((t(1), "a", 1.0), (t(2), "a", 2.0), (t(11), "b", 3.0))
    q.processAllAvailable()
    // advance watermark far enough to close the first windows
    mem.addData((t(59), "a", 4.0))
    q.processAllAvailable()
    val rows = spark.sql("SELECT event_type, n, sum_value FROM win_out ORDER BY 1")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    q.stop()
    assert(rows.contains(("a", 2L, 3.0)), s"got ${rows.toSeq}")
    assert(rows.contains(("b", 1L, 3.0)), s"got ${rows.toSeq}")
  }

  test("stream-stream interval join pairs purchases with recent errors") {
    implicit val sqlCtx = spark.sqlContext
    val purchases = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val errors = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val p = purchases.toDF().toDF("event_id", "ts", "user_id")
    val e = errors.toDF().toDF("user_id", "ts", "value")
    val joined = StreamingIngest.purchaseErrorJoin(p, e,
      watermark = "10 minutes", lookback = "30 minutes")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssj_out").start()
    def t(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    // user 7: error at 10:05, purchase at 10:20 (within 30m) → pair
    // user 8: error at 10:02, purchase at 10:50 (outside 30m) → no pair
    errors.addData((7L, t(5), 1.5), (8L, t(2), 9.9))
    purchases.addData((100L, t(20), 7L), (101L, t(50), 8L))
    q.processAllAvailable()
    // advance both watermarks so results flush
    errors.addData((99L, t(59), 0.0))
    purchases.addData((999L, t(59), 99L))
    q.processAllAvailable()
    val rows = spark.sql("SELECT p_id, user_id, e_value FROM ssj_out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    q.stop()
    assert(rows.contains((100L, 7L, 1.5)), s"expected pair missing: $rows")
    assert(!rows.exists(_._2 == 8L), s"out-of-window pair leaked: $rows")
  }

  test("stateful sessionization closes sessions on gap") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamingIngest.Event]
    def ev(id: Long, ms: Long, u: Long) =
      StreamingIngest.Event(id, new java.sql.Timestamp(ms), u, "x", 1.0)
    val sessions = StreamingIngest.sessionize(mem.toDS(), gapMs = 1000)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sess_out").start()
    // user 7: two events 100ms apart, then a 5s gap, then one more
    mem.addData(ev(1, 0, 7), ev(2, 100, 7))
    q.processAllAvailable()
    mem.addData(ev(3, 5100, 7))
    q.processAllAvailable()
    val rows = spark.sql("SELECT user_id, n_events, start_ts, end_ts FROM sess_out")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    q.stop()
    assert(rows.toSeq == Seq((7L, 2, 0L, 100L)), s"got ${rows.toSeq}")
  }

  test("transformWithState running totals accumulate across micro-batches (RocksDB state)") {
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = util.Try(spark.conf.get(key)).toOption
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[StreamingIngest.Event]
      def ev(id: Long, u: Long, v: Double) =
        StreamingIngest.Event(id, new java.sql.Timestamp(id), u, "x", v)
      val totals = StreamingIngest.runningTotals(mem.toDS())
      val q = totals.writeStream.outputMode("update")
        .format("memory").queryName("tws_out").start()
      mem.addData(ev(1, 7, 1.0), ev(2, 7, 2.0), ev(3, 8, 5.0))
      q.processAllAvailable()
      mem.addData(ev(4, 7, 3.0))
      q.processAllAvailable()
      val rows = spark.sql("SELECT user_id, n_events, total_value FROM tws_out")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      q.stop()
      // batch 1 emits (7: 2 events, 3.0) and (8: 1, 5.0); batch 2 proves the
      // ValueState carried over: (7: 3, 6.0)
      assert(rows.toSet == Set((7L, 2L, 3.0), (8L, 1L, 5.0), (7L, 3L, 6.0)),
        s"got ${rows.toSet}")
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("late in-gap event does not move a session's end backwards") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamingIngest.Event]
    def ev(id: Long, ms: Long, u: Long) =
      StreamingIngest.Event(id, new java.sql.Timestamp(ms), u, "x", 1.0)
    val sessions = StreamingIngest.sessionize(mem.toDS(), gapMs = 1000)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("late_sess").start()
    mem.addData(ev(1, 5000, 7))
    q.processAllAvailable()
    // a LATE but in-gap event from an earlier instant — must extend the
    // session's count without dragging its end (and gap anchor) backwards
    mem.addData(ev(2, 4600, 7))
    q.processAllAvailable()
    mem.addData(ev(3, 99000, 7)) // far future: closes the session
    q.processAllAvailable()
    val rows = spark.sql(
      "SELECT user_id, start_ts, end_ts, n_events FROM late_sess")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    q.stop()
    assert(rows.toSeq == Seq((7L, 5000L, 5000L, 2)), s"got ${rows.toSeq}")
  }

  test("transformWithState event-time timer closes an idle session (no further key traffic)") {
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = util.Try(spark.conf.get(key)).toOption
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[StreamingIngest.Event]
      def ev(id: Long, ms: Long, u: Long) =
        StreamingIngest.Event(id, new java.sql.Timestamp(ms), u, "x", 1.0)
      val sessions = StreamingIngest.sessionizeWithTimers(
        mem.toDS(), gapMs = 2000, watermark = "1 second")
      val q = sessions.writeStream.outputMode("append")
        .format("memory").queryName("tws_sess").start()
      // user 7's session: two events, then silence forever
      mem.addData(ev(1, 1000, 7), ev(2, 1200, 7))
      q.processAllAvailable()
      // unrelated traffic advances the watermark far past 7's gap deadline;
      // the second batch evaluates timers under the advanced watermark
      mem.addData(ev(3, 100000, 99))
      q.processAllAvailable()
      mem.addData(ev(4, 100100, 99))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT user_id, start_ts, end_ts, n_events FROM tws_sess")
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      q.stop()
      // the timer emitted 7's session with NO further user-7 events — the
      // hole flatMapGroupsWithState's NoTimeout form can't close
      assert(rows.toSet == Set((7L, 1000L, 1200L, 2)), s"got ${rows.toSet}")
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("stream-stream LEFT OUTER interval join emits unmatched purchases " +
      "with nulls after the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    val purchases = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val errors = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val p = purchases.toDF().toDF("event_id", "ts", "user_id")
    val e = errors.toDF().toDF("user_id", "ts", "value")
    val joined = StreamingIngest.purchaseErrorLeftJoin(p, e,
      watermark = "10 minutes", lookback = "30 minutes")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssoj_out").start()
    def t(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    // user 7 has a recent error → matched row; user 8 has none → null row
    errors.addData((7L, t(5), 1.5))
    purchases.addData((100L, t(20), 7L), (101L, t(21), 8L))
    q.processAllAvailable()
    // push both watermarks far past 10:21+30m so the unmatched row flushes
    purchases.addData((999L, java.sql.Timestamp.valueOf("2024-01-01 13:00:00"), 99L))
    errors.addData((98L, java.sql.Timestamp.valueOf("2024-01-01 13:00:00"), 0.0))
    q.processAllAvailable()
    val rows = spark.sql("SELECT p_id, user_id, e_value FROM ssoj_out")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    q.stop()
    assert(rows.contains((100L, 7L, Some(1.5))), s"matched row missing: $rows")
    assert(rows.contains((101L, 8L, None)), s"null-padded row missing: $rows")
  }

  test("native session_window streaming aggregation merges and closes " +
      "sessions by gap") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamingIngest.Event]
    def ev(id: Long, sec: Int, u: Long, v: Double) =
      StreamingIngest.Event(id,
        java.sql.Timestamp.valueOf(f"2024-01-01 10:00:$sec%02d"), u, "x", v)
    val sessions = StreamingIngest.sessionWindowStream(mem.toDF(),
      gap = "5 seconds", watermark = "2 seconds")
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("swin_out").start()
    // user 7: events at :00, :03 (merge), then :30 (new session)
    mem.addData(ev(1, 0, 7, 1.0), ev(2, 3, 7, 2.0), ev(3, 30, 7, 4.0))
    q.processAllAvailable()
    // advance the watermark far past :30+5s to close everything
    mem.addData(ev(9, 50, 99, 0.0))
    q.processAllAvailable()
    mem.addData(ev(10, 55, 99, 0.0))
    q.processAllAvailable()
    val rows = spark.sql(
      "SELECT user_id, n_events, sum_value FROM swin_out WHERE user_id = 7")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    q.stop()
    assert(rows == Set((7L, 2L, 3.0), (7L, 1L, 4.0)), s"got $rows")
  }

  test("transformWithState MapState counts per-user event types across " +
      "micro-batches (RocksDB state)") {
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = util.Try(spark.conf.get(key)).toOption
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[StreamingIngest.Event]
      def ev(id: Long, u: Long, tp: String) =
        StreamingIngest.Event(id, new java.sql.Timestamp(id), u, tp, 1.0)
      val counts = StreamingIngest.eventTypeCounts(mem.toDS())
      val q = counts.writeStream.outputMode("update")
        .format("memory").queryName("mapstate_out").start()
      mem.addData(ev(1, 7, "view"), ev(2, 7, "view"), ev(3, 7, "click"))
      q.processAllAvailable()
      mem.addData(ev(4, 7, "view"), ev(5, 8, "click"))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT user_id, event_type, n FROM mapstate_out")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      q.stop()
      // batch 1: (7,view,2), (7,click,1); batch 2 proves the MAP entries
      // persisted independently: (7,view,3) without re-emitting click,
      // plus (8,click,1)
      assert(rows.toSet == Set((7L, "view", 2L), (7L, "click", 1L),
        (7L, "view", 3L), (8L, "click", 1L)), s"got ${rows.toSet}")
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("streaming dedup drops duplicates within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp)]
    val df = mem.toDF().toDF("id", "ts")
    val deduped = StreamingIngest.dedupStream(df, "id", "10 minutes")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    def t(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    mem.addData((1L, t(0)), (2L, t(1)), (1L, t(2)), (1L, t(3)), (3L, t(4)))
    q.processAllAvailable()
    val ids = spark.sql("SELECT id FROM dedup_out").collect().map(_.getLong(0)).sorted
    q.stop()
    assert(ids.toSeq == Seq(1L, 2L, 3L), s"got ${ids.toSeq}")
  }
}
