package graft.gb

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** The parquet sink's file contract, read from the footer: one file,
  * the 15 reference columns in order and all REQUIRED, the start time as
  * TIMESTAMP(MILLIS), snappy on every column chunk; and the rows are the
  * input's. */
class ParquetSinkSpec extends SparkTestBase {

  private val feedPath = {
    val dir = java.nio.file.Files.createTempDirectory("parquet_sink").toFile
    val f = new java.io.File(dir, "dst_transition_synthetic.xml")
    val in = getClass.getResourceAsStream("/dst_transition_synthetic.xml")
    java.nio.file.Files.copy(in, f.toPath)
    in.close()
    f.getAbsolutePath
  }

  private val referenceColumns = Seq("title", "cost", "quality", "value",
    "tou", "time_period_start_unix", "time_period_duration_seconds",
    "accumulation_behaviour", "commodity", "currency", "data_qualifier",
    "flow_direction", "kind", "phase", "uom")

  test("writeParquet: one snappy file of 15 REQUIRED reference columns " +
      "with a TIMESTAMP(MILLIS) start time, holding the input rows") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.Type.Repetition
    import scala.jdk.CollectionConverters._

    val ts = GreenButton.timeseries(spark, feedPath)
    val out = java.nio.file.Files.createTempDirectory("parquet_sink_out")
      .toString + "/ts"
    TimeSeriesOps.writeParquet(ts, out)

    val files = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length == 1, s"expected one file: ${files.toSeq}")
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(files.head.getPath),
      spark.sessionState.newHadoopConf()))
    val footer = try reader.getFooter finally reader.close()
    val fields = footer.getFileMetaData.getSchema.getFields.asScala.toSeq
    assert(fields.map(_.getName) == referenceColumns)
    fields.foreach(t => assert(t.getRepetition == Repetition.REQUIRED,
      s"${t.getName} is ${t.getRepetition}"))
    val start = fields(referenceColumns.indexOf("time_period_start_unix"))
    assert(start.getLogicalTypeAnnotation == LogicalTypeAnnotation
      .timestampType(true, LogicalTypeAnnotation.TimeUnit.MILLIS))
    val chunks = footer.getBlocks.asScala.flatMap(_.getColumns.asScala)
    assert(chunks.nonEmpty)
    chunks.foreach(c => assert(c.getCodec == CompressionCodecName.SNAPPY,
      s"${c.getPath} is ${c.getCodec}"))

    val want = ts.select(referenceColumns.map {
      case "time_period_start_unix" =>
        timestamp_seconds(col("time_period_start_unix"))
          .as("time_period_start_unix")
      case c => col(c)
    }: _*).collect()
    val got = spark.read.parquet(out).collect()
    assert(got.length == want.length && got.toSet == want.toSet)
  }
}
