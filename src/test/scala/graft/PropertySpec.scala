package graft

import org.scalacheck.{Gen, Prop}
import org.scalacheck.Prop.propBoolean
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.RollingHash
import graft.gb.{DstRules, TimeSeriesOps}

/** Pure-function property tests (no Spark session — these laws hold for the
  * driver-side logic that backs the distributed operators). The reference
  * has no property tests (SURVEY.md §5); these harden the richest logic.
  */
class PropertySpec extends AnyFunSuite {

  private def check(p: Prop): Unit = {
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(200), p)
    assert(res.passed, res.status.toString)
  }

  private def utf8Array(tokens: Seq[String]) =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      tokens.map(org.apache.spark.unsafe.types.UTF8String.fromString).toArray[Any])
  private def longArray(xs: Seq[Long]) =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(xs.toArray)
  private val tokenGen = Gen.listOf(Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString))

  test("NgramHash: output length law and prefix consistency") {
    import graft.functions.NgramHash
    check(Prop.forAll(tokenGen, Gen.choose(1, 6)) { (toks, n) =>
      val out = NgramHash.ngrams(utf8Array(toks), n)
      out.numElements() == math.max(toks.length - (n - 1), 0)
    })
    // appending tokens must not change the grams that were already complete
    check(Prop.forAll(tokenGen, tokenGen, Gen.choose(1, 5)) { (xs, ys, n) =>
      val a = NgramHash.ngrams(utf8Array(xs), n)
      val ab = NgramHash.ngrams(utf8Array(xs ++ ys), n)
      (0 until a.numElements()).forall(i => a.getLong(i) == ab.getLong(i))
    })
  }

  test("MinHashSig: mergeability (sig of concat = slotwise min) and " +
      "permutation invariance — the laws that make signatures " +
      "partial-aggregable at scale") {
    import graft.functions.MinHashSig
    val grams = Gen.listOf(Gen.long)
    check(Prop.forAll(grams, grams, Gen.choose(1, 16)) { (a, b, k) =>
      val sa = MinHashSig.signature(longArray(a), k)
      val sb = MinHashSig.signature(longArray(b), k)
      val sab = MinHashSig.signature(longArray(a ++ b), k)
      (0 until k).forall(i =>
        sab.getLong(i) == math.min(sa.getLong(i), sb.getLong(i)))
    })
    check(Prop.forAll(grams, Gen.choose(1, 16), Gen.long) { (a, k, seed) =>
      val shuffled = new scala.util.Random(seed).shuffle(a)
      val s1 = MinHashSig.signature(longArray(a), k)
      val s2 = MinHashSig.signature(longArray(shuffled), k)
      (0 until k).forall(i => s1.getLong(i) == s2.getLong(i))
    })
  }

  test("rolling hash stays in [0, Mod) and is deterministic") {
    check(Prop.forAll(Gen.asciiPrintableStr) { s =>
      val h = RollingHash.hash(s)
      h >= 0 && h < RollingHash.Mod && h == RollingHash.hash(s)
    })
  }

  test("rolling hash concatenation law") {
    // hash(a+b) = (hash(a) * 31^cp(b) + hash(b)) mod M
    def powMod(b: Long, e: Long, m: Long): Long = {
      var r = 1L; var base = b % m; var exp = e
      while (exp > 0) {
        if ((exp & 1) == 1) r = r * base % m
        base = base * base % m; exp >>= 1
      }
      r
    }
    check(Prop.forAll(Gen.asciiPrintableStr, Gen.asciiPrintableStr) { (a, b) =>
      val want = (RollingHash.hash(a) *
        powMod(31, b.codePointCount(0, b.length), RollingHash.Mod) +
        RollingHash.hash(b)) % RollingHash.Mod
      RollingHash.hash(a + b) == want
    })
  }

  test("formatF32 round-trips every finite float") {
    check(Prop.forAll(Gen.choose(Float.MinValue, Float.MaxValue)) { f =>
      TimeSeriesOps.formatF32(f).toFloat == f
    })
    // arbitrary bit patterns too (subnormals, extremes)
    check(Prop.forAll(Gen.choose(Int.MinValue, Int.MaxValue)) { bits =>
      val f = java.lang.Float.intBitsToFloat(bits)
      f.isNaN || TimeSeriesOps.formatF32(f).toFloat == f
    })
    // specials
    assert(TimeSeriesOps.formatF32(Float.NaN) == "NaN")
    assert(TimeSeriesOps.formatF32(1f) == "1")
    assert(TimeSeriesOps.formatF32(0.5f) == "0.5")
    assert(TimeSeriesOps.formatF32(1e10f) == "10000000000")
    assert(TimeSeriesOps.formatF32(-0.0f) == "-0") // Rust Display prints -0
    assert(TimeSeriesOps.formatF32(Float.MaxValue) ==
      "340282350000000000000000000000000000000")
    assert(TimeSeriesOps.formatF32(Float.MinPositiveValue).toFloat ==
      Float.MinPositiveValue)
  }

  test("formatF32 is shortest: no fewer-digit decimal round-trips") {
    check(Prop.forAll(Gen.choose(Int.MinValue, Int.MaxValue)) { bits =>
      val f = java.lang.Float.intBitsToFloat(bits)
      if (f.isNaN || f.isInfinite || f == 0.0f) true
      else {
        val s = TimeSeriesOps.formatF32(f)
        val digits = new java.math.BigDecimal(s).stripTrailingZeros.precision()
        val exact = new java.math.BigDecimal(f.toDouble)
        digits <= 1 || {
          val fewer = exact.round(new java.math.MathContext(
            digits - 1, java.math.RoundingMode.HALF_EVEN))
          fewer.floatValue() != f // one digit fewer must NOT round-trip
        }
      }
    })
  }

  private val fieldGen = for {
    seconds <- Gen.choose(0, 3599)
    hours <- Gen.choose(0, 23)
    dow <- Gen.choose(0, 7)
    dom <- Gen.choose(1, 28) // always-valid anchor
    op <- Gen.choose(0, 7)
    month <- Gen.choose(1, 12)
  } yield (seconds, hours, dow, dom, op, month)

  private def encode(f: (Int, Int, Int, Int, Int, Int)): Long = {
    val (s, h, dw, dm, op, m) = f
    (s & 0xfff).toLong | ((h & 0x1f).toLong << 12) | ((dw & 0x7).toLong << 17) |
      ((dm & 0x1f).toLong << 20) | ((op & 0x7).toLong << 25) | ((m & 0xf).toLong << 28)
  }

  test("DST rules: valid fields always evaluate; time-of-day matches encoding") {
    check(Prop.forAll(fieldGen, Gen.choose(1990, 2040)) { (f, year) =>
      DstRules.dateTimeOf(encode(f), year) match {
        case Some(dt) =>
          val (s, h, _, _, _, _) = f
          dt.getHour == h + (s / 60) / 60 || dt.getHour == h // minutes<60 keeps hour
          dt.getMinute == (s / 60) % 60 && dt.getSecond == s % 60
        case None => false // dom 1-28, months 1-12 always resolve
      }
    })
  }

  test("DST rules: operators 0/1/7 land in the encoded month") {
    check(Prop.forAll(fieldGen.suchThat(f => Set(0, 1, 7)(f._5)),
      Gen.choose(1990, 2040)) { (f, year) =>
      // op 1 can roll at most 6 days past dom 28 → may enter next month only
      // if dom+6 > month length; with dom ≤ 28 the reference rolls ≤ Mar 6 …
      // operator 0 and 7 always stay inside the month.
      val dt = DstRules.dateTimeOf(encode(f), year)
      f._5 match {
        case 0 | 7 => dt.exists(_.getMonthValue == f._6)
        case _ => dt.isDefined
      }
    })
  }

  test("simhash hamming distance is a metric on samples") {
    // pure check over the bit-count identity used by hamming64
    check(Prop.forAll(Gen.long, Gen.long) { (a, b) =>
      java.lang.Long.bitCount(a ^ b) == java.lang.Long.bitCount(b ^ a) &&
        java.lang.Long.bitCount(a ^ a) == 0
    })
  }

  test("BottomKByHash: any partition split merges to the global bottom-k, " +
      "merge is commutative, and buffers survive serialization — the laws " +
      "partial aggregation relies on") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    val agg = graft.functions.BottomKByHash(
      BoundReference(0, StringType, nullable = true), 5, "ps")
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    def buffer(vals: Seq[String]) =
      vals.foldLeft(agg.createAggregationBuffer()) { (b, v) =>
        agg.update(b, InternalRow(UTF8String.fromString(v)))
      }
    def result(b: scala.collection.mutable.ArrayBuffer[(String, String)]) =
      agg.eval(b).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toObjectArray(StringType).map(_.toString).toSeq
    check(Prop.forAll(Gen.listOf(Gen.asciiPrintableStr),
      Gen.choose(0, 100)) { (vals, cut0) =>
      val cut = if (vals.isEmpty) 0 else cut0 % (vals.length + 1)
      val (l, r) = vals.splitAt(cut)
      val expected = vals.map(v => (md5hex("ps" + v), v)).sorted.take(5)
        .map(_._2)
      val ab = result(agg.merge(buffer(l), buffer(r)))
      val ba = result(agg.merge(buffer(r), buffer(l)))
      val roundTrip = result(agg.merge(
        agg.deserialize(agg.serialize(buffer(l))),
        agg.deserialize(agg.serialize(buffer(r)))))
      (ab == expected && ba == expected && roundTrip == expected) :|
        s"expected=$expected ab=$ab ba=$ba rt=$roundTrip"
    })
  }

  test("EspiXml.parseFeed NEVER throws — truncations, mutations, and " +
      "alien input all land in ParsedFeed.error (the permissive-skip " +
      "contract executors rely on)") {
    import graft.gb.EspiXml
    val feed = graft.gb.EspiCorpus.text("feed_0005.xml")
    // truncation at any point: a partially-delivered file must skip, not
    // kill the task
    check(Prop.forAll(Gen.choose(0, feed.length)) { cut =>
      val p = EspiXml.parseFeed("t.xml", feed.substring(0, cut))
      p != null && (p.error == null || p.error.nonEmpty)
    })
    // random character mutation: corrupted bytes must skip, not kill
    check(Prop.forAll(Gen.choose(0, feed.length - 1),
      Gen.asciiPrintableChar) { (pos, c) =>
      val p = EspiXml.parseFeed("m.xml", feed.updated(pos, c))
      p != null
    })
    // alien input: arbitrary strings parse to an error, never an escape
    check(Prop.forAll(Gen.asciiPrintableStr) { s =>
      EspiXml.parseFeed("a.xml", s) != null
    })
  }

  // ------------------------------------------------ ESPI offset algebra
  // The compacted streaming offset has produced two real bugs (mtime
  // advance re-ingest; empty-listing regression) — so the algebra gets a
  // MODEL test: simulate arbitrary schedules of file arrivals, mtime
  // advances, and triggers against the REAL isNew/seenBy/ofListing/advance
  // functions, exactly the way EspiMicroBatchStream composes them.

  import graft.sources.EspiOffset

  private sealed trait FsOp
  private case class AddF(path: Int, mt: Long) extends FsOp
  private case class TouchF(path: Int, mt: Long) extends FsOp
  private case object TriggerF extends FsOp

  /** Run the trigger loop; returns every (trigger, path, mtime-at-
    * ingestion). `safeTouches` restricts mtime advances to files still
    * inside the grace window of the listing maximum (advances that never
    * cross the compaction frontier). */
  private def simulate(ops: Seq[FsOp], safeTouches: Boolean)
      : Seq[(Int, String, Long)] = {
    val grace = EspiOffset.graceMs
    var listing = Map.empty[Int, Long]
    var start = EspiOffset.initial
    var hw: EspiOffset = null
    val ingested =
      scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
    var trigger = 0
    ops.foreach {
      case AddF(p, mt) => if (!listing.contains(p)) listing += p -> mt
      case TouchF(p, mt) =>
        val maxMt = if (listing.isEmpty) 0L else listing.values.max
        val ok = listing.get(p).exists(_ < mt) &&
          (!safeTouches || listing(p) >= maxMt - grace)
        if (ok) listing += p -> mt
      case TriggerF =>
        trigger += 1
        val files = listing.toSeq.map { case (p, mt) => (s"f$p", mt) }
        val next = EspiOffset.advance(hw, EspiOffset.ofListing(files))
        hw = next
        val sR = start.recent.toSet
        val eR = next.recent.toSet
        files.foreach { case (p, mt) =>
          if (EspiOffset.isNew(start, sR, p, mt) &&
              EspiOffset.seenBy(next, eR, p, mt))
            ingested += ((trigger, p, mt))
        }
        start = next
    }
    ingested.toSeq
  }

  private val graceG = EspiOffset.defaultGraceMs
  private val adversarialOps: Gen[List[FsOp]] = Gen.listOf(Gen.frequency(
    4 -> (for { p <- Gen.choose(0, 8); mt <- Gen.choose(0L, 4 * graceG) }
      yield AddF(p, mt)),
    2 -> (for { p <- Gen.choose(0, 8); mt <- Gen.choose(0L, 5 * graceG) }
      yield TouchF(p, mt)),
    3 -> Gen.const(TriggerF)))

  test("ESPI offsets: a re-ingestion REQUIRES an mtime advance across the " +
      "compaction frontier — never the same mtime twice (the bounded-" +
      "state trade, stated exactly)") {
    // ScalaCheck found the frontier-crossing case immediately (a file
    // ingested via the below-grace path whose mtime later jumps above the
    // frontier re-enters as new): with O(grace) state that case is
    // indistinguishable from a new file — same trade as FileStreamSource's
    // maxFileAge. What MUST hold unconditionally: a file whose mtime never
    // changes is never ingested twice.
    check(Prop.forAll(adversarialOps) { ops =>
      val byPath = simulate(ops :+ TriggerF, safeTouches = false)
        .groupBy(_._2)
      byPath.forall { case (_, ing) =>
        ing.map(_._3).distinct.size == ing.size // strictly new mtime each time
      } :| s"re-ingested at an unchanged mtime: $byPath"
    })
  }

  test("ESPI offsets: NO file is ever ingested twice when mtime advances " +
      "stay inside the grace window (the operating regime)") {
    check(Prop.forAll(adversarialOps) { ops =>
      val dups = simulate(ops :+ TriggerF, safeTouches = true)
        .groupBy(_._2).filter(_._2.size > 1)
      dups.isEmpty :| s"files ingested twice: $dups"
    })
  }

  test("ESPI offsets: FRESH arrivals (mod time at-or-after the current " +
      "maximum) all ingest exactly once, whatever the trigger schedule") {
    val grace = EspiOffset.defaultGraceMs
    // non-decreasing arrival mtimes → every add is inside the grace
    // horizon at its arrival; interleave triggers arbitrarily
    val stepGen: Gen[Seq[FsOp]] = for {
      n <- Gen.choose(1, 25)
      deltas <- Gen.listOfN(n, Gen.choose(0L, grace / 2))
      trig <- Gen.listOfN(n, Gen.prob(0.4))
    } yield {
      var t = 0L
      deltas.zipWithIndex.zip(trig).flatMap { case ((d, i), doTrig) =>
        t += d
        AddF(i, t) +: (if (doTrig) Seq(TriggerF) else Seq.empty)
      }
    }
    check(Prop.forAll(stepGen) { ops =>
      val all = ops :+ TriggerF
      val adds = all.collect { case AddF(p, _) => s"f$p" }.toSet
      val ingested = simulate(all, safeTouches = true).map(_._2)
      (ingested.toSet == adds && ingested.size == adds.size) :|
        s"adds=$adds ingested=$ingested"
    })
  }

  // --------------------------------------- admission-control planning path
  // With SupportsAdmissionControl implemented, latestOffset(start, limit)
  // is the engine's ONLY planning path — so the MODEL must compose the
  // algebra exactly as that method does (isNew filter → (mt, path) sort →
  // take(limit) → frontier compaction → dominate), not as the no-arg
  // latestOffset does. This is where the round-4 review found two holes
  // (late-within-grace withholding; same-mtime membership drop).

  private case class TrigL(limit: Int) extends FsOp
  private case class DelF(path: Int) extends FsOp

  /** Mirror of EspiMicroBatchStream.latestOffset(start, limit) +
    * planInputPartitions over a simulated directory. Returns every
    * ingestion plus the final offset (for boundedness invariants). */
  private def simulateAdmission(ops: Seq[FsOp], grace: Long)
      : (Seq[(Int, String, Long)], EspiOffset) = {
    var listing = Map.empty[Int, Long]
    var start = EspiOffset.initial
    val ingested =
      scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
    var trigger = 0
    ops.foreach {
      case AddF(p, mt) => if (!listing.contains(p)) listing += p -> mt
      case DelF(p) => listing -= p
      case TouchF(p, mt) =>
        if (listing.get(p).exists(_ < mt)) listing += p -> mt
      case TrigL(limit) =>
        trigger += 1
        val files = listing.toSeq.map { case (p, mt) => (s"f$p", mt) }
        val sR = start.recent.toSet
        val fresh = files
          .filter { case (p, mt) => EspiOffset.isNew(start, sR, p, mt, grace) }
          .sortBy { case (p, mt) => (mt, p) }
        val admitted = fresh.take(limit)
        val end =
          if (admitted.isEmpty) start
          else {
            val (lastP, lastMt) = admitted.last
            val frontier = files.filter { case (p, mt) =>
              mt < lastMt || (mt == lastMt && p <= lastP) }
            EspiOffset.dominate(start,
              EspiOffset.ofListing(frontier, grace), files, grace)
          }
        val eR = end.recent.toSet
        files.foreach { case (p, mt) =>
          if (EspiOffset.isNew(start, sR, p, mt, grace) &&
              EspiOffset.seenBy(end, eR, p, mt, grace))
            ingested += ((trigger, p, mt))
        }
        start = end
      case TriggerF => throw new IllegalStateException("use TrigL here")
    }
    (ingested.toSeq, start)
  }

  test("ESPI admission path: arrivals within one grace window of each " +
      "other — late and equal-mtime alike — ALL ingest exactly once under " +
      "arbitrary capped-trigger schedules") {
    // every mtime inside [0, grace] keeps every file inside the lateness
    // horizon of every possible watermark, so eventual exactly-once
    // delivery must hold UNCONDITIONALLY: a withheld late file or a
    // re-ingested same-mtime neighbour is a planning-path bug (both were
    // real in round 4's latestOffset(start, limit)).
    val grace = 10000L
    val opsGen: Gen[List[FsOp]] = for {
      n <- Gen.choose(1, 20)
      body <- Gen.listOfN(n, Gen.frequency(
        5 -> (for { p <- Gen.choose(0, 9); mt <- Gen.choose(0L, grace) }
          yield AddF(p, mt): FsOp),
        3 -> Gen.choose(1, 3).map(TrigL(_): FsOp)))
    } yield body
    check(Prop.forAll(opsGen) { ops =>
      val all = ops :+ TrigL(Int.MaxValue) :+ TrigL(Int.MaxValue)
      val adds = all.collect { case AddF(p, _) => s"f$p" }.toSet
      val ingested = simulateAdmission(all, grace)._1.map(_._2)
      (ingested.toSet == adds && ingested.size == adds.size) :|
        s"adds=$adds ingested=$ingested"
    })
  }

  test("ESPI admission path: no unchanged-mtime file is ever ingested " +
      "twice — arrivals, touches, caps, AND deletions — and the final " +
      "offset is aged (every member's stored mtime within grace)") {
    val grace = 10000L
    val opsGen: Gen[List[FsOp]] = Gen.listOf(Gen.frequency(
      4 -> (for { p <- Gen.choose(0, 8); mt <- Gen.choose(0L, 4 * grace) }
        yield AddF(p, mt): FsOp),
      2 -> (for { p <- Gen.choose(0, 8); mt <- Gen.choose(0L, 5 * grace) }
        yield TouchF(p, mt): FsOp),
      1 -> Gen.choose(0, 8).map(DelF(_): FsOp), // delete-after-ingest
      3 -> Gen.choose(1, 4).map(TrigL(_): FsOp)))
    check(Prop.forAll(opsGen) { ops =>
      val (ing, fin) = simulateAdmission(ops :+ TrigL(Int.MaxValue), grace)
      val byPath = ing.groupBy(_._2)
      val once = byPath.forall { case (_, i) =>
        i.map(_._3).distinct.size == i.size }
      // boundedness invariant: a member may only ride the offset while
      // its last-known mtime is inside the grace window — deleted files
      // age out instead of accumulating forever
      val aged = fin.watermark == Long.MinValue ||
        (fin.mts.length == fin.recent.length &&
          fin.mts.forall(_ >= fin.watermark - grace))
      (once :| s"re-ingested at an unchanged mtime: $byPath") &&
        (aged :| s"unaged offset member: ${fin.json()}")
    })
  }

  test("WinnowKeys kernel == the paper definition on random ASCII text") {
    import graft.functions.WinnowKeys
    import java.security.MessageDigest
    val textGen = Gen.listOf(Gen.alphaNumChar).map(_.mkString.toLowerCase)
    def brute(str: String, k: Int, w: Int): Seq[Long] = {
      if (str.length < k + w - 1) return Seq.empty
      val md = MessageDigest.getInstance("MD5")
      val keys = (0 to str.length - k).map { p =>
        val d = md.digest(str.substring(p, p + k).getBytes("UTF-8"))
        val h = (0 until 5).foldLeft(0L)((a, i) => (a << 8) | (d(i) & 0xffL))
        h * 1048576L + (1048575L - (p + 1))
      }
      // window minima, dedupe contiguous repeats (keys are unique so
      // contiguous dedup == total dedup)
      val sels = (0 to keys.length - w).map(j => keys.slice(j, j + w).min)
      sels.foldLeft(Vector.empty[Long])((acc, x) =>
        if (acc.nonEmpty && acc.last == x) acc else acc :+ x)
    }
    check(Prop.forAll(textGen, Gen.choose(1, 6), Gen.choose(1, 5)) {
      (str, k, w) =>
        val got = WinnowKeys.select(
          org.apache.spark.unsafe.types.UTF8String.fromString(str), k, w)
          .toLongArray().toSeq
        got == brute(str, k, w)
    })
  }

  test("CdcBoundaries kernel == the md5-prefix definition on random " +
      "token lists; boundaries are sorted interior positions") {
    import graft.functions.CdcBoundaries
    import java.security.MessageDigest
    def brute(toks: Seq[String], w: Int, m: Int): Seq[Int] = {
      if (toks.length < w + 1) return Seq.empty
      val md = MessageDigest.getInstance("MD5")
      (w to toks.length - 1).filter { j =>
        val gram = toks.slice(j - w, j).mkString(" ")
        val d = md.digest(gram.getBytes("UTF-8"))
        val h16 = ((d(0) & 0xff) << 8) | (d(1) & 0xff)
        h16 % m == 0
      }
    }
    check(Prop.forAll(tokenGen, Gen.choose(1, 5), Gen.choose(1, 8)) {
      (toks, w, m) =>
        val got = CdcBoundaries.boundaries(utf8Array(toks), w, m)
          .toIntArray().toSeq
        got == brute(toks, w, m) && got == got.sorted &&
          got.forall(j => j >= w && j <= toks.length - 1)
    })
  }

  test("DotCodes kernel == the integer fold; null contract on length " +
      "mismatch") {
    import graft.functions.DotCodes
    val xs = Gen.listOf(Gen.choose(-128L, 127L))
    check(Prop.forAll(xs, xs) { (a, b) =>
      val ga = longArray(a); val gb = longArray(b)
      val got = DotCodes.dotOrNull(ga, gb)
      if (a.length != b.length) got == null
      else got == a.zip(b).map { case (x, y) => x * y }.sum
    })
  }
}
