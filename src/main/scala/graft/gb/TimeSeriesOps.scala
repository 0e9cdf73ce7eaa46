package graft.gb

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.objects.AssertNotNull
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnBridge

/** Operations over the denormalized TimeSeries DataFrame (SURVEY.md §2.4-2.7):
  * boolean-ANY cost detection, multi-key sort, per-series chunking, union,
  * and the three sinks (CSV / Parquet / InfluxDB line protocol).
  */
object TimeSeriesOps {

  /** Rust `f32::to_string` parity: SHORTEST roundtrip decimal, plain
    * notation, no trailing ".0" (timeseries.rs:219 uses Display, which is
    * Ryū-shortest). JDK 17's `Float.toString` is roundtrip-safe but not
    * always minimal (fixed only in JDK 19, JDK-4511638), so shortest is
    * computed directly: the fewest significant digits whose HALF_EVEN
    * rounding of the exact binary value still parses back to `f` — if any
    * p-digit decimal roundtrips, the nearest one does, and nearest-ties-to-
    * even matches Ryū's digit selection. */
  def formatF32(f: Float): String =
    if (f.isNaN) "NaN"
    else if (f == Float.PositiveInfinity) "inf"
    else if (f == Float.NegativeInfinity) "-inf"
    else if (f == 0.0f) { if (1.0f / f < 0) "-0" else "0" }
    else {
      val exact = new java.math.BigDecimal(f.toDouble) // f32 value, exactly
      // At power-of-two boundaries the roundtrip interval is asymmetric, so
      // the NEAREST p-digit decimal can fall outside it while a floor/ceil
      // neighbor roundtrips — try all three and keep the closest valid one,
      // which is Ryū's selection rule (shortest, then nearest).
      val modes = Seq(java.math.RoundingMode.HALF_EVEN,
        java.math.RoundingMode.FLOOR, java.math.RoundingMode.CEILING)
      var p = 1
      var out: String = null
      while (out == null && p <= 9) { // 9 sig digits always roundtrip f32
        val valid = modes
          .map(m => exact.round(new java.math.MathContext(p, m)))
          .filter(_.floatValue() == f)
        if (valid.nonEmpty)
          out = valid.reduceLeft { (a, b) =>
            if (a.subtract(exact).abs.compareTo(b.subtract(exact).abs) <= 0) a
            else b
          }.stripTrailingZeros.toPlainString
        p += 1
      }
      out
    }

  private val fmtF32 = udf(formatF32 _)

  /** P4/A1: true iff any cost is finite and non-zero (timeseries.rs:183-190).
    * A boolean-ANY aggregate — one partial-aggregated pass. */
  def hasCost(ts: DataFrame): Boolean = {
    val finite = !isnan(col("cost")) &&
      col("cost") =!= Float.PositiveInfinity &&
      col("cost") =!= Float.NegativeInfinity
    ts.agg(coalesce(max(finite && col("cost") =!= 0f), lit(false)))
      .head.getBoolean(0)
  }

  /** O1: global multi-key sort (title, time) — range partition + local sort
    * (reference permutation sort, timeseries.rs:116-138). */
  def sortSeries(ts: DataFrame): DataFrame =
    ts.orderBy(col("title"), col("time_period_start_unix"))

  /** A3/O3: cluster by series with intra-series time order — the distributed
    * analog of sort_and_chunk's Vec-per-title (timeseries.rs:140-147).
    * Downstream per-series consumers (charting, export) read one partition's
    * run of equal titles without a further shuffle. */
  def chunkBySeries(ts: DataFrame): DataFrame =
    ts.repartition(col("title"))
      .sortWithinPartitions(col("title"), col("time_period_start_unix"))

  /** O2: union-all, by name (TimeSeries::extend, timeseries.rs:149-171). */
  def extend(a: DataFrame, b: DataFrame): DataFrame = a.unionByName(b)

  /** K4 analog: the reference's WASM per-column getters
    * (timeseries.rs:361-444) — materialize the table as column arrays for a
    * host application. Driver-side by construction (an export boundary, not
    * an operator); dates come back as java.time.Instant like the JS Date[]
    * getter. */
  def collectColumns(ts: DataFrame): Map[String, IndexedSeq[Any]] = {
    val rows = ts.select(GreenButton.outputColumns.map(col): _*).collect()
    GreenButton.outputColumns.zipWithIndex.map { case (name, i) =>
      val vals: IndexedSeq[Any] =
        if (name == "time_period_start_unix")
          rows.toIndexedSeq.map(r => java.time.Instant.ofEpochSecond(r.getLong(i)))
        else rows.toIndexedSeq.map(_.get(i))
      name -> vals
    }.toMap
  }

  /** sort_and_chunk analog (timeseries.rs:140-147): the table sorted and
    * split per series title, for per-series consumers (charting, export).
    * Local materialization — the distributed form is [[chunkBySeries]]. */
  def collectChunks(ts: DataFrame): Seq[(String, Array[org.apache.spark.sql.Row])] = {
    val sorted = sortSeries(ts).collect()
    // contiguous runs of equal title, preserving sort order
    val out = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]]
    sorted.foreach { r =>
      out.getOrElseUpdate(r.getString(0),
        scala.collection.mutable.ArrayBuffer.empty) += r
    }
    out.map { case (k, v) => (k, v.toArray) }.toSeq
  }

  // ------------------------------------------------------------------ sinks

  /** K1: CSV projection — every column stringified with Rust Display parity
    * so `df.write.option("header",true).csv` round-trips the goldens. */
  def csvProjection(ts: DataFrame): DataFrame =
    ts.select(
      col("title"),
      fmtF32(col("cost")).as("cost"),
      col("quality"),
      fmtF32(col("value")).as("value"),
      col("tou").cast("string").as("tou"),
      col("time_period_start_unix").cast("string").as("time_period_start_unix"),
      col("time_period_duration_seconds").cast("string")
        .as("time_period_duration_seconds"),
      col("accumulation_behaviour"), col("commodity"), col("currency"),
      col("data_qualifier"), col("flow_direction"), col("kind"),
      col("phase"), col("uom"))

  /** @param singleFile true (default) = `coalesce(1)` for byte parity with
    *   the reference CLI's one-file output; false = every partition writes
    *   its own part file — the bulk-export mode (a 100TB export through one
    *   task is a non-starter; [[readCsv]] reads either layout). */
  def writeCsv(ts: DataFrame, path: String, singleFile: Boolean = true): Unit = {
    val proj = csvProjection(ts)
    (if (singleFile) proj.coalesce(1) else proj)
      .write.mode("overwrite").option("header", "true").csv(path)
  }

  /** Per-series shard export — the reference's sort_and_chunk
    * (timeseries.rs:140-147) as a SINK: one CSV file per series title
    * under `path/title=<t>/`, rows in time order within the file, and a
    * per-series manifest `(title, n_rows, t_min, t_max)` READ BACK from
    * the written artifact (the [[graft.operators.Export.jsonlShards]]
    * receipt convention — the manifest can never disagree with the
    * files). The writer repartitions BY title so exactly one task
    * produces each series' file (stable per-series file identity for
    * downstream charting/export consumers); `partitionBy` keeps the disk
    * layout title-pruned, so a one-series consumer reads one directory.
    */
  def writeSeriesShards(ts: DataFrame, path: String): DataFrame = {
    val proj = csvProjection(ts)
    proj
      .repartition(col("title"))
      // the projection stringifies the epoch column (Display parity);
      // order by its numeric value, not the string
      .sortWithinPartitions(col("title"),
        col("time_period_start_unix").cast("long"))
      .write.mode("overwrite").option("header", "true")
      .partitionBy("title").csv(path)
    val payloadSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "cost STRING, quality STRING, value STRING, tou STRING, " +
        "time_period_start_unix LONG, time_period_duration_seconds INT, " +
        "accumulation_behaviour STRING, commodity STRING, currency STRING, " +
        "data_qualifier STRING, flow_direction STRING, kind STRING, " +
        "phase STRING, uom STRING")
    ts.sparkSession.read.option("header", "true").schema(payloadSchema)
      .csv(path)
      .groupBy(col("title").cast("string").as("title"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("time_period_start_unix")).as("t_min"),
        max(col("time_period_start_unix")).as("t_max"))
      .orderBy(col("title"))
  }

  /** Read a TimeSeries CSV (as written by [[writeCsv]] or the reference
    * CLI) back into the typed 15-column DataFrame — source round-trip. */
  def readCsv(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", "true")
      .option("nanValue", "NaN")
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "title STRING, cost FLOAT, quality STRING, value FLOAT, tou INT, " +
          "time_period_start_unix LONG, time_period_duration_seconds INT, " +
          "accumulation_behaviour STRING, commodity STRING, currency STRING, " +
          "data_qualifier STRING, flow_direction STRING, kind STRING, " +
          "phase STRING, uom STRING"))
      .csv(path)

  /** Local CSV string (test fixture parity with timeseries.rs:477-503). */
  def csvString(ts: DataFrame): String = {
    val header = GreenButton.outputColumns.mkString(",")
    def cell(s: String): String =
      if (s.exists(c => c == ',' || c == '"' || c == '\n')) {
        "\"" + s.replace("\"", "\"\"") + "\""
      } else s
    val rows = csvProjection(ts).collect().map(
      r => (0 until 15).map(i => cell(r.getString(i))).mkString(","))
    (header +: rows).mkString("", "\n", "\n")
  }

  /** K2: Parquet sink — reference schema: ts in millis, snappy, single file
    * (single row group analog; timeseries.rs:238-307). */
  def writeParquet(ts: DataFrame, path: String): Unit = {
    val spark = ts.sparkSession
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "TIMESTAMP_MILLIS") // reference writes TIMESTAMP(MILLIS)
    try doWriteParquet(ts, path)
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def doWriteParquet(ts: DataFrame, path: String): Unit = {
    val projected = ts.select(
      col("title"), col("cost"), col("quality"), col("value"), col("tou"),
      timestamp_seconds(col("time_period_start_unix"))
        .as("time_period_start_unix"),
      col("time_period_duration_seconds"),
      col("accumulation_behaviour"), col("commodity"), col("currency"),
      col("data_qualifier"), col("flow_direction"), col("kind"),
      col("phase"), col("uom"))
    // reference schema marks every column REQUIRED (timeseries.rs:244-262);
    // AssertNotNull marks each column non-nullable in the plan (a NULL
    // fails the write), so the parquet file says the same
    projected
      .select(projected.columns.toIndexedSeq.map(c => ColumnBridge.column(
        AssertNotNull(ColumnBridge.expression(col(c)))).as(c)): _*)
      .coalesce(1)
      .write.mode("overwrite")
      .option("compression", "snappy")
      .parquet(path)
  }

  /** K3: InfluxDB line protocol — pure string projection
    * (timeseries.rs:309-358). One output column `line`; write with
    * `.write.text`. Tag values escape spaces; the measurement strips
    * non-alphanumerics; `cost` is emitted only when the table has any cost
    * (schema-variant output driven by the hasCost ANY-aggregate).
    */
  def influxProjection(ts: DataFrame, includeCost: Boolean): DataFrame = {
    def esc(c: Column): Column = regexp_replace(c, " ", "\\\\ ")
    val measurement = regexp_replace(
      regexp_replace(col("title"), " ", "_"), "[^A-Za-z0-9_]", "")
    // NB: the reference spells the tag key "accumulation_behavior" (US
    // spelling) in this one sink — timeseries.rs:321.
    val tags = concat_ws(",",
      lit("db=greenbutton"),
      concat(lit("accumulation_behavior="), esc(col("accumulation_behaviour"))),
      concat(lit("commodity="), esc(col("commodity"))),
      concat(lit("currency="), esc(col("currency"))),
      concat(lit("data_qualifier="), esc(col("data_qualifier"))),
      concat(lit("flow_direction="), esc(col("flow_direction"))),
      concat(lit("kind="), esc(col("kind"))),
      concat(lit("phase="), esc(col("phase"))),
      concat(lit("uom="), esc(col("uom"))))
    val baseFields = concat_ws(",",
      concat(lit("quality="), esc(col("quality"))),
      concat(lit("value="), fmtF32(col("value"))),
      concat(lit("tou="), col("tou").cast("string")),
      concat(lit("time_period_duration_seconds="),
        col("time_period_duration_seconds").cast("string")))
    val fields =
      if (includeCost) concat(baseFields, lit(",cost="), fmtF32(col("cost")))
      else baseFields
    val timeNs = (col("time_period_start_unix") * lit(1000000000L)).cast("string")
    ts.select(concat_ws(" ",
      concat(measurement, lit(","), tags), fields, timeNs).as("line"))
  }

  def influxString(ts: DataFrame): String = {
    val lines = influxProjection(ts, hasCost(ts)).collect().map(_.getString(0))
    lines.mkString("", "\n", if (lines.nonEmpty) "\n" else "")
  }

  /** K3 bulk form: distributed line-protocol export — the influx twin of
    * [[writeCsv]]. `singleFile=true` coalesces to one part for parity with
    * the reference CLI's single-payload POST; false lets every partition
    * write its own part file (influx bulk loaders ingest a directory of
    * line-protocol files; a 100TB export through one task is a
    * non-starter). Same schema-variant cost rule as [[influxString]].
    * The cost rule and the write are two actions over `ts`; an input that is
    * not already cached is persisted for the two, so its plan runs once. */
  def writeInflux(ts: DataFrame, path: String, singleFile: Boolean = true): Unit = {
    val owned = ts.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    if (owned) ts.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val proj = influxProjection(ts, hasCost(ts))
      (if (singleFile) proj.coalesce(1) else proj)
        .write.mode("overwrite").text(path)
    } finally if (owned) ts.unpersist()
  }
}
