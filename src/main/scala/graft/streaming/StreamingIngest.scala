package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, StreamingQuery, TTLConfig, TimeMode, TimerValues, Trigger, ValueState}

import graft.gb.{GreenButton, ParseMode, Permissive}

/** Structured-Streaming surfaces (SURVEY.md §2.8): the reference's only
  * incremental behavior is the browser's accumulate-then-recompute loop
  * (lib/wasm/src/lib.rs:15-42); its distributed analog is a file-source
  * stream + foreachBatch re-denormalize. Beyond reference parity we add the
  * standard streaming operators a meter-data/training pipeline needs:
  * watermarked windowed aggregation and stateful sessionization.
  */
object StreamingIngest {

  /** S3: incremental ESPI ingest — watch a directory for new XML feeds
    * through the `espi` stream source (the batch scan's reader: parse and
    * denormalize inside the scan), drop each micro-batch's skip rows and
    * key columns, and hand the TimeSeries increment to `sink` (append
    * table, console, …). Trigger.AvailableNow gives the
    * batch-ingest-then-stop behavior of the browser flow.
    */
  def ingestXmlStream(spark: SparkSession, watchDir: String,
                      sink: (DataFrame, Long) => Unit,
                      mode: ParseMode = Permissive): StreamingQuery =
    spark.readStream.format("espi")
      .option("mode", GreenButton.modeOption(mode))
      .load(s"$watchDir/*.xml")
      .writeStream
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        sink(GreenButton.kept(batch), batchId)
      }
      .start()

  /** Watermarked sliding-window aggregation over an event stream —
    * late data beyond the watermark is dropped, state is bounded. */
  def windowedCounts(events: DataFrame, window_ : String, slide: String,
                     watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_, slide), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n"), col("sum_value"))

  /** Streaming exact-dedup on an id column with bounded state: duplicates
    * arriving within the watermark window are dropped, state for ids older
    * than the watermark is evicted (the streaming face of the batch
    * hash-groupBy dedup). */
  def dedupStream(events: DataFrame, idCol: String, watermark: String): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(idCol)

  /** Stream-stream interval join with watermarks on both sides: each
    * purchase joins the error events of the same user that happened within
    * `lookback` before it (inclusive bounds). The time-range condition plus
    * the two watermarks bound both join-state buffers — the streaming face
    * of the batch as-of/range-join family, state O(users × lookback) at any
    * stream length. */
  def purchaseErrorJoin(purchases: DataFrame, errors: DataFrame,
                        watermark: String, lookback: String): DataFrame = {
    val p = purchases.withWatermark("ts", watermark)
      .select(col("event_id").as("p_id"), col("user_id"),
        col("ts").as("p_ts"))
    val e = errors.withWatermark("ts", watermark)
      .select(col("user_id").as("e_user"), col("ts").as("e_ts"),
        col("value").as("e_value"))
    p.join(e, col("user_id") === col("e_user") &&
        col("e_ts") >= col("p_ts") - expr(s"INTERVAL $lookback") &&
        col("e_ts") <= col("p_ts"))
      .select(col("p_id"), col("user_id"), col("p_ts"), col("e_ts"),
        col("e_value"))
  }

  /** Stream-stream LEFT OUTER interval join: like [[purchaseErrorJoin]],
    * but purchases with no error in the lookback window still emit — with
    * null error columns — once the watermark passes the point where a
    * match could still arrive. The outer side is exactly why the time
    * bound + watermarks are mandatory here: without them Spark could never
    * declare "no match will come" and the unmatched rows would be held
    * forever. */
  def purchaseErrorLeftJoin(purchases: DataFrame, errors: DataFrame,
                            watermark: String, lookback: String): DataFrame = {
    val p = purchases.withWatermark("ts", watermark)
      .select(col("event_id").as("p_id"), col("user_id"),
        col("ts").as("p_ts"))
    val e = errors.withWatermark("ts", watermark)
      .select(col("user_id").as("e_user"), col("ts").as("e_ts"),
        col("value").as("e_value"))
    p.join(e, col("user_id") === col("e_user") &&
        col("e_ts") >= col("p_ts") - expr(s"INTERVAL $lookback") &&
        col("e_ts") <= col("p_ts"),
      "left_outer")
      .select(col("p_id"), col("user_id"), col("p_ts"), col("e_ts"),
        col("e_value"))
  }

  /** ENGINE-NATIVE streaming sessionization: `session_window` aggregation
    * with a watermark — Spark merges per-key windows that start within
    * `gap` of each other and emits a session once the watermark passes its
    * end + gap. The declarative twin of [[sessionizeWithTimers]]: no
    * user-managed state or timers, and the state store holds merged window
    * ranges, not events. Append mode output. */
  def sessionWindowStream(events: DataFrame, gap: String,
                          watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("sum_value"))

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                   event_type: String, value: Double)
  case class UserTotal(user_id: Long, n_events: Long, total_value: Double)
  case class TypeCount(user_id: Long, event_type: String, n: Long)

  /** Per-user event-type distribution on `transformWithState` MAP state
    * (state-v2's keyed sub-collections): one `MapState[String, Long]` per
    * user, point-updated per event — the store reads/writes only the
    * touched sub-keys, NOT a serialized blob of the whole map (the
    * ValueState[Map] anti-pattern, which rewrites the full map per event
    * and O(n²)s on wide keys). Update mode: re-emits the touched types. */
  class TypeCountProcessor
      extends StatefulProcessor[Long, Event, TypeCount] {
    @transient private var counts: org.apache.spark.sql.streaming.MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counts = getHandle.getMapState[String, Long]("counts",
        Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Event],
                                 timers: TimerValues): Iterator[TypeCount] = {
      val touched = scala.collection.mutable.LinkedHashSet.empty[String]
      rows.foreach { e =>
        val prev = if (counts.containsKey(e.event_type))
          counts.getValue(e.event_type) else 0L
        counts.updateValue(e.event_type, prev + 1L)
        touched += e.event_type
      }
      touched.iterator.map(t => TypeCount(key, t, counts.getValue(t)))
    }
  }

  /** Per-user per-type running counts (Update mode, MapState-backed). */
  def eventTypeCounts(events: Dataset[Event]): Dataset[TypeCount] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new TypeCountProcessor,
        TimeMode.None(), OutputMode.Update(), Encoders.product[TypeCount])
  }

  /** Per-user running totals via `transformWithState` (Spark 4's arbitrary
    * stateful operator v2): typed `ValueState` keyed by user, updated per
    * micro-batch, one Update-mode row per touched user. Requires the
    * RocksDB state store provider — at scale that's the point: state lives
    * off-heap/on-disk per executor with changelog checkpointing, so keyed
    * state is bounded by disk, not JVM heap. `TTLConfig` evicts idle users
    * when a TTL is passed (state never grows past the active-user set).
    */
  class RunningTotalsProcessor(ttl: TTLConfig)
      extends StatefulProcessor[Long, Event, UserTotal] {
    @transient private var totals: ValueState[UserTotal] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[UserTotal]("totals",
        Encoders.product[UserTotal], ttl)

    override def handleInputRows(key: Long, rows: Iterator[Event],
                                 timers: TimerValues): Iterator[UserTotal] = {
      val prev = Option(totals.get()).getOrElse(UserTotal(key, 0L, 0.0))
      var n = prev.n_events
      var sum = prev.total_value
      rows.foreach { e => n += 1; sum += e.value }
      val out = UserTotal(key, n, sum)
      totals.update(out)
      Iterator.single(out)
    }
  }

  /** Running per-user totals stream (Update mode: one row per touched user
    * per micro-batch). Spark only permits state TTL under ProcessingTime
    * mode, so the time mode follows the TTL choice. */
  def runningTotals(events: Dataset[Event],
                    ttl: TTLConfig = TTLConfig.NONE): Dataset[UserTotal] = {
    import events.sparkSession.implicits._
    val timeMode =
      if (ttl == TTLConfig.NONE) TimeMode.None() else TimeMode.ProcessingTime()
    events.groupByKey(_.user_id)
      .transformWithState(new RunningTotalsProcessor(ttl),
        timeMode, OutputMode.Update(), Encoders.product[UserTotal])
  }

  /** Sessionization on `transformWithState` with EVENT-TIME TIMERS: unlike
    * the flatMapGroupsWithState form above (which can only close a session
    * when the same key receives another event), a registered timer fires
    * when the WATERMARK passes session-end + gap — idle keys emit their
    * final session with no further traffic, and state for them is cleared.
    * That closes the classic last-session-never-emits hole, and at scale it
    * means state size tracks ACTIVE keys, not ever-seen keys.
    */
  class SessionTimerProcessor(gapMs: Long)
      extends StatefulProcessor[Long, Event, Session] {
    @transient private var sess: ValueState[SessionState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sess = getHandle.getValueState[SessionState]("sess",
        Encoders.product[SessionState], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Event],
                                 timers: TimerValues): Iterator[Session] = {
      val sorted = rows.toSeq.sortBy(_.ts.getTime)
      var cur = if (sess.exists()) Some(sess.get()) else None
      val prevTimer = cur.map(_.last + gapMs)
      val closed = scala.collection.mutable.ArrayBuffer.empty[Session]
      for (e <- sorted) {
        val t = e.ts.getTime
        cur match {
          case Some(s) if t - s.last <= gapMs =>
            // max(): a legal LATE event (cross-batch, still >= watermark)
            // with t < s.last must extend the session, not move its end —
            // and thus its timer deadline — backwards
            cur = Some(s.copy(last = math.max(s.last, t), n = s.n + 1,
              sum = s.sum + e.value))
          case Some(s) =>
            closed += Session(key, s.start, s.last, s.n, s.sum)
            cur = Some(SessionState(t, t, 1, e.value))
          case None =>
            cur = Some(SessionState(t, t, 1, e.value))
        }
      }
      cur.foreach { s =>
        sess.update(s)
        // one live timer per key: drop the stale deadline, arm the new one
        val newTimer = s.last + gapMs
        if (!prevTimer.contains(newTimer)) {
          prevTimer.foreach(getHandle.deleteTimer)
          getHandle.registerTimer(newTimer)
        }
      }
      closed.iterator
    }

    override def handleExpiredTimer(key: Long, timers: TimerValues,
        expired: ExpiredTimerInfo): Iterator[Session] = {
      if (!sess.exists()) return Iterator.empty
      val s = sess.get()
      // only the CURRENT deadline closes the session (a stale timer that
      // raced a deleteTimer must not — the session was extended)
      if (expired.getExpiryTimeInMs >= s.last + gapMs) {
        sess.clear()
        Iterator.single(Session(key, s.start, s.last, s.n, s.sum))
      } else Iterator.empty
    }
  }

  /** Timer-closed sessionization stream; input must carry a watermark on
    * `ts` (event-time timers fire off the watermark). */
  def sessionizeWithTimers(events: Dataset[Event], gapMs: Long,
                           watermark: String): Dataset[Session] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .transformWithState(new SessionTimerProcessor(gapMs),
        TimeMode.EventTime(), OutputMode.Append(), Encoders.product[Session])
  }
  case class SessionState(start: Long, last: Long, n: Int, sum: Double)
  case class Session(user_id: Long, start_ts: Long, end_ts: Long,
                     n_events: Int, sum_value: Double)

  /** Gap-based sessionization with flatMapGroupsWithState: a session closes
    * when no event arrives within `gapMs` (processing-time timeout for the
    * local smoke path; event-time gap logic inside). */
  def sessionize(events: Dataset[Event], gapMs: Long): Dataset[Session] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[SessionState]) =>
          val sorted = it.toSeq.sortBy(_.ts.getTime)
          var cur = state.getOption
          val closed = scala.collection.mutable.ArrayBuffer.empty[Session]
          for (e <- sorted) {
            val t = e.ts.getTime
            cur match {
              case Some(s) if t - s.last <= gapMs =>
                cur = Some(s.copy(last = math.max(s.last, t), n = s.n + 1,
                  sum = s.sum + e.value))
              case Some(s) =>
                closed += Session(userId, s.start, s.last, s.n, s.sum)
                cur = Some(SessionState(t, t, 1, e.value))
              case None =>
                cur = Some(SessionState(t, t, 1, e.value))
            }
          }
          cur match {
            case Some(s) => state.update(s)
            case None => state.remove()
          }
          closed.iterator
      }
  }
}
