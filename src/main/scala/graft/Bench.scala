package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

object Bench {

  /** Force FULL execution of the query — every column, every operator —
    * via the no-op sink. A bare `count()` lets Catalyst prune: projections
    * collapse, and an outer join against a unique-keyed side can be
    * eliminated outright, so `count()` can time a fraction of the declared
    * plan (observed: a join-elimination made one query "run" in 0.15s
    * while its real work was ~2s). The noop sink consumes all rows and
    * all columns and discards them — the honest wall-clock.
    */
  private def exec(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Execution order of the timed pass: `reps` FULL SWEEPS of the
    * suite (A…Z, A…Z, A…Z), never reps back-to-back per query.
    * Back-to-back reps made min-of-k blind to co-tenant bursts longer
    * than one query's reps: the burst inflated ALL of that query's
    * observations, which read as an 8× "regression" on untouched code
    * (the r11-r13 driver artifacts, three rounds running). Interleaved,
    * a contiguous burst shorter than (reps-1) full sweeps can touch
    * each query in at most reps-1 of its observations — every query
    * keeps at least one clean slot, so per-query min survives any
    * single burst and a median jump with a stable min reads as host
    * noise, not regression (spec-pinned: BenchScheduleSpec simulates
    * both orders under a synthetic burst). Returned as (sweep, query)
    * index pairs in execution order. */
  private[graft] def interleavedSchedule(nQueries: Int,
                                         reps: Int): Seq[(Int, Int)] =
    for (s <- 0 until reps; q <- 0 until nQueries) yield (s, q)

  /** (median, min, max) over one query's sweep times; any failed
    * observation (-1 sentinel) poisons the query — a median that
    * averages successes with a time-to-fail would read as a phantom
    * speedup in round-over-round diffs. */
  private[graft] def summarize(times: Seq[Double])
      : (Double, Double, Double) =
    if (times.isEmpty || times.exists(_ < 0)) (-1.0, -1.0, -1.0)
    else (times.sorted.apply(times.size / 2), times.min, times.max)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // AQE's per-query re-planning costs ~20% at sf0.1 and buys nothing at
      // this scale (all joins already broadcast-sized); cluster deployments
      // at real scale enable it (see SCALE.md). Override: SPARK_GRAFT_AQE.
      .config("spark.sql.adaptive.enabled", sys.env.getOrElse("SPARK_GRAFT_AQE", "false"))
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // single-file-per-table testdata: split scans so all cores engage
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Untimed warmup: initialize codegen, broadcast machinery, parquet
    // footer caches — so the first timed query doesn't absorb JVM start.
    {
      import spark.implicits._
      val a = spark.range(100000).toDF("id")
      val b = spark.range(100).toDF("id")
      a.join(broadcast(b), "id").agg(sum("id")).collect()
      Tables.all.foreach { t =>
        try Tables.load(spark, sfDir, t).limit(1).collect()
        catch { case _: Throwable => }
      }
      // Stage the shared heavy tables with a FULL untimed scan: the
      // ANN/text suites all read embeddings/documents at the target SF,
      // and without this the OS-page-cache warm landed on whichever
      // query ran first alphabetically — BENCH_r11 showed 8-13×
      // per-query swings on unchanged code traced to exactly that
      // first-toucher cost. Disable via SPARK_GRAFT_STAGE=0.
      if (sys.env.getOrElse("SPARK_GRAFT_STAGE", "1") != "0")
        Seq("embeddings", "documents").foreach { t =>
          try exec(Tables.load(spark, sfDir, t))
          catch { case _: Throwable => }
        }
      // Run every query once at the smallest SF: identical plan shapes
      // compile the same generated code and warm the JIT, so the timed
      // pass measures steady-state execution rather than first
      // compilation (standard benchmark practice; disable via
      // SPARK_GRAFT_WARMUP=0).
      val warmDir = "/root/testdata/sf0.001"
      if (sys.env.getOrElse("SPARK_GRAFT_WARMUP", "1") != "0" &&
          new java.io.File(warmDir).isDirectory)
        SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (_, fn) =>
          try exec(fn(spark, warmDir))
          catch { case _: Throwable => }
        }
    }

    // SPARK_GRAFT_ONLY=a,b,c restricts the timed pass (iteration tool; the
    // driver never sets it, so driver runs always time the full set).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // Repeat each query REPS times and report the MEDIAN: the shared
    // sandbox shows 3-8× per-query swings on UNCHANGED code (co-tenant
    // drift, see NOTES.md round-6) which would mask any real regression
    // in a single-shot time. Median-of-3 costs ~2× wall (sweep 1
    // doubles as the in-SF warmup) and makes round-over-round deltas
    // meaningful. Reps run as INTERLEAVED FULL-SUITE SWEEPS
    // ([[interleavedSchedule]]) so a co-tenant burst inflates one
    // sweep, not every observation of one query.
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt.max(1)
    val perQuery = Array.fill(selected.size)(
      Vector.newBuilder[Double])
    val sweepTotals = Array.fill(reps)(0.0)
    interleavedSchedule(selected.size, reps).foreach { case (sweep, qi) =>
      val (name, fn) = selected(qi)
      // drop cached blocks BEFORE starting the clock, every slot, and
      // synchronously: eager localCheckpoint staging accumulated over
      // ~170 queries taxed the alphabetical tail 3-5× (measured:
      // d_decontaminate 2.4s in the full run vs 0.38s isolated, same
      // code), and async removal would overlap the next timed region.
      // Per-slot so one observation's leftovers never pollute the
      // next — each timing starts from the same clean state.
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      val t0 = System.nanoTime()
      // a failed query must be LOUD in the JSON too: stderr plus a -1
      // sentinel time — a normal-looking time-to-fail entry would read
      // as a phantom speedup in round-over-round bench diffs
      val ok =
        try { exec(fn(spark, sfDir)); true } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            false
        }
      val t = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
      perQuery(qi) += t
      if (t >= 0) sweepTotals(sweep) += t
    }
    val results = selected.indices.map { qi =>
      val (med, lo, hi) = summarize(perQuery(qi).result())
      (selected(qi)._1, med, lo, hi)
    }
    // ms precision keeps the line short (the driver's log capture has
    // truncated multi-KB lines before; sub-ms digits are noise anyway).
    // Locale.ROOT: f-interpolation uses the JVM default locale, and a
    // de_DE/fr_FR host would print "66,123" — malformed JSON.
    def ms(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = results.map { case (k, v, _, _) => s""""$k":${ms(v)}""" }
      .mkString("{", ",", "}")
    // -1 failure sentinels stay visible per-query but don't deflate total
    val total = results.map(_._2).filter(_ >= 0).sum
    // WINDOW-CORRECTED total alongside the raw median total: co-tenant
    // interference only ever ADDS time, so each query's cross-sweep MIN
    // is its least-interfered observation and the sum of mins is the
    // best load-independent estimate of the suite's true cost. When all
    // sweeps land clean the two figures agree (mins ≈ medians); in a
    // loaded window the median total inflates with the host while
    // total_min stays comparable across rounds — the honesty check the
    // r13/r14 NOTES had to do by hand, now in the artifact itself.
    val totalMin = results.map(_._3).filter(_ >= 0).sum
    val line =
      s"""{"metric":"total","value":${ms(total)},"total_min":${ms(totalMin)},"unit":"sec","sf":"$sfDir","queries":$qs}"""
    println(line)
    // min/max spread per query — the noise-floor record that lets a
    // reader distinguish co-tenant drift from a genuine regression. File
    // mirror only: the stdout line is already at the capture limit.
    val spread = results
      .map { case (k, _, lo, hi) => s""""$k":[${ms(lo)},${ms(hi)}]""" }
      .mkString("{", ",", "}")
    // The per-query maps again as BOUNDED part lines (r15 verdict #2a:
    // PERF_r15 had per_query:{} two rounds running because the single
    // long line exceeded the driver's capture). Each part line is
    // ≤ ~4KB — short enough that no capture window has ever truncated
    // one — and self-describing (idx/of + a shared tag so partial
    // captures are detectable).
    def emitParts(metric: String, entries: Seq[String]): Unit = {
      val maxBody = 3500 // bytes of joined entries per line, < any cap
      val chunks = scala.collection.mutable.ArrayBuffer(
        scala.collection.mutable.ArrayBuffer.empty[String])
      var len = 0
      entries.foreach { e =>
        if (len + e.length + 1 > maxBody && chunks.last.nonEmpty) {
          chunks += scala.collection.mutable.ArrayBuffer.empty[String]
          len = 0
        }
        chunks.last += e
        len += e.length + 1
      }
      val of = chunks.size
      chunks.zipWithIndex.foreach { case (c, i) =>
        println(s"""{"metric":"$metric","idx":$i,"of":$of,"queries":${c.mkString("{", ",", "}")}}""")
      }
    }
    emitParts("queries_part",
      results.map { case (k, v, _, _) => s""""$k":${ms(v)}""" })
    emitParts("queries_min_part",
      results.map { case (k, _, lo, _) => s""""$k":${ms(lo)}""" })
    // The full line is ~3KB and the driver's log capture has front-
    // truncated lines that long (BENCH_r04 parsed null) — and a front-
    // eaten JSON object is unparseable no matter which key comes first.
    // So ALSO print a SHORT, self-contained total line, LAST (fits any
    // capture window, and a reader taking the final line gets the
    // total; the per-query map lives in the file mirror below). Its
    // bytes are unchanged since r15; only its position moved.
    println(s"""{"metric":"total","value":${ms(total)},"total_min":${ms(totalMin)},"unit":"sec","sf":"$sfDir","queries_file":"BENCH_LAST.json"}""")
    // belt-and-braces: the same JSON as a file, immune to log truncation
    // (cwd-relative: the driver runs sbt from the repo root). FILTERED
    // runs (SPARK_GRAFT_ONLY — the iteration tool) must NOT clobber the
    // last full-run mirror: a 3-query file silently replacing the
    // 169-query record has burned two full re-runs already.
    // per-query MIN alongside the median: co-tenant interference only
    // ever ADDS time, so min is the least-interfered observation — a
    // reader can attribute a median jump to host noise (min stable) vs
    // a real regression (min moved too) without re-running
    val mins = results
      .map { case (k, _, lo, _) => s""""$k":${ms(lo)}""" }
      .mkString("{", ",", "}")
    // per-sweep totals — the burst DETECTOR: a co-tenant burst shows
    // as one inflated sweep total with the others flat (and per-query
    // mins unharmed, by the interleaving); three flat sweeps mean the
    // window was clean and the medians are trustworthy
    val sweeps = sweepTotals.map(ms).mkString("[", ",", "]")
    val fileLine = line.dropRight(1) +
      s""","reps":$reps,"sweep_totals":$sweeps,"spread":$spread,""" +
      s""""queries_min":$mins}"""
    if (only.isEmpty)
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get("BENCH_LAST.json").toAbsolutePath, fileLine + "\n")
      catch { case _: Throwable => } // read-only checkout must not fail bench
    spark.stop()
  }
}
