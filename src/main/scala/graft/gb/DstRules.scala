package graft.gb

import java.time.{DayOfWeek, LocalDate, LocalDateTime}
import java.time.temporal.TemporalAdjusters

/** Green Button Alliance DST-rule decoding (operators F5-F7 in SURVEY.md
  * §2.6; reference lib/personalgreenbutton/src/local_time_parameters.rs:
  * 43-143; encoding documented at
  * https://www.greenbuttonalliance.org/daylight-savings-time).
  *
  * Rule layout (u32): bits 0-11 seconds, 12-16 hours, 17-19 day-of-week,
  * 20-24 day-of-month, 25-27 operator, 28-31 month. 0xFFFFFFFF = no DST.
  *
  * Pure logic, evaluated once per (file, year) inside the task that
  * denormalizes the file — the reference's per-year memoization
  * (lib.rs:117-156).
  */
object DstRules {

  val NoDst: Long = 0xFFFFFFFFL

  final case class Decoded(seconds: Int, hours: Int, dayOfWeekBits: Int,
                           dayOfMonth: Int, operator: Int, month: Int)

  /** Bit unpack (F6). Returns None for the 0xFFFFFFFF sentinel; throws
    * IllegalArgumentException on out-of-range fields (reference returns Err,
    * callers warn-and-ignore).
    */
  def decode(rule: Long): Option[Decoded] = {
    if (rule == NoDst) return None
    val d = Decoded(
      seconds = (rule & 0x00000fffL).toInt,
      hours = ((rule & 0x0001f000L) >> 12).toInt,
      dayOfWeekBits = ((rule & 0x000e0000L) >> 17).toInt,
      dayOfMonth = ((rule & 0x01f00000L) >> 20).toInt,
      operator = ((rule & 0x0e000000L) >> 25).toInt,
      month = ((rule & 0xf0000000L) >> 28).toInt)
    require(
      d.seconds <= 3599 && d.hours <= 23 && d.dayOfMonth <= 31 &&
        d.operator <= 7 && d.month <= 12,
      s"Invalid dst rule 0x${rule.toHexString}")
    Some(d)
  }

  /** The reference maps day-of-week bits b → chrono weekday (b+1)%7 with
    * Monday=0 (local_time_parameters.rs:125) — so bits 7→Tue, 6→Mon, 0→Tue.
    * java.time numbers Monday=1..Sunday=7.
    */
  private def weekdayOf(bits: Int): DayOfWeek =
    DayOfWeek.of(((bits + 1) % 7) + 1)

  /** Operator dispatch (F7): concrete date for (rule fields, year), or None
    * when the anchor date doesn't exist (e.g. Feb 30) — the reference treats
    * that as "no DST this year" silently.
    */
  private def dateOf(year: Int, d: Decoded): Option[LocalDate] = {
    def ymd(y: Int, m: Int, dom: Int): Option[LocalDate] =
      try Some(LocalDate.of(y, m, dom)) catch { case _: Exception => None }
    val dow = weekdayOf(d.dayOfWeekBits)
    d.operator match {
      // 0: fixed day of the month
      case 0 => ymd(year, d.month, d.dayOfMonth)
      // 1: the given weekday on or after the day of the month
      case 1 => ymd(year, d.month, d.dayOfMonth)
        .map(_.`with`(TemporalAdjusters.nextOrSame(dow)))
      // 7: last occurrence of the weekday in the month
      case 7 => ymd(year, d.month, 1)
        .map(_.`with`(TemporalAdjusters.lastInMonth(dow)))
      // 2-6: nth occurrence (1st..5th) of the weekday — computed as first
      // occurrence + 7*(op-2) days, which can overflow past month end; the
      // reference does not guard that, so neither do we.
      case op => ymd(year, d.month, 1)
        .map(_.`with`(TemporalAdjusters.nextOrSame(dow)).plusDays(7L * (op - 2)))
    }
  }

  /** Rule + year → transition instant as a *naive local* datetime, exactly
    * the reference's NaiveDateTime (comparisons against reading timestamps
    * happen in naive-UTC space). None = no transition this year.
    * @throws IllegalArgumentException for range-invalid rules (caller warns)
    */
  def dateTimeOf(rule: Long, year: Int): Option[LocalDateTime] =
    decode(rule).flatMap { d =>
      dateOf(year, d).map { date =>
        date.atStartOfDay
          .plusHours(d.hours)
          .plusMinutes(d.seconds / 60)
          .plusSeconds(d.seconds % 60)
      }
    }

  /** Naive datetime → epoch seconds treating the naive value as UTC (the
    * space reading timestamps live in before the tz/dst shift). */
  def epochOf(rule: Long, year: Int): Option[Long] =
    dateTimeOf(rule, year).map(_.toEpochSecond(java.time.ZoneOffset.UTC))

  /** Warn-and-ignore wrapper used by the pipeline (reference lib.rs:145-156:
    * invalid DST rules are common in the wild; they disable DST rather than
    * failing the file). */
  def epochOrNone(rule: Long, year: Int): Option[Long] =
    try epochOf(rule, year)
    catch {
      case e: IllegalArgumentException =>
        System.err.println(e.getMessage)
        None
    }
}
