package graft.gb

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Batch conversion CLI — the Spark analog of the reference cli-frontend
  * (cli-frontend/src/main.rs:27-66): N input files → one output in the
  * chosen format. Usage:
  *
  *   runMain graft.gb.GreenButtonCli --filetype {csv|influxdb|parquet}
  *     --out OUT_DIR INPUT_GLOB [INPUT_GLOB...]
  *
  * Unparseable files are skipped with a warning (permissive mode), matching
  * the reference's skip-with-stderr behavior (main.rs:34-37). Like the
  * reference CLI, output is not sorted.
  */
object GreenButtonCli {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[8]"))
      .appName("greenbutton-cli")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(args, spark)
    finally spark.stop()
  }

  /** The CLI body against a caller-owned session (testable: `main` owns
    * session lifecycle, `run` owns semantics). */
  def run(args: Array[String], spark: SparkSession): Unit = {
    var filetype = "csv"
    var out = ""
    val inputs = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--filetype" => filetype = args(i + 1); i += 2
        case "--out" => out = args(i + 1); i += 2
        case p => inputs += p; i += 1
      }
    }
    require(inputs.nonEmpty, "no input files")
    require(out.nonEmpty, "--out required")
    val write: (DataFrame, String) => Unit = filetype match {
      case "csv" => TimeSeriesOps.writeCsv(_, _)
      case "parquet" => TimeSeriesOps.writeParquet
      case "influxdb" => TimeSeriesOps.writeInflux(_, _)
      case other => throw new IllegalArgumentException(s"Unknown filetype $other")
    }

    val scanned = GreenButton.scan(spark, Permissive, inputs.toSeq: _*)
    // surface skipped files like the reference CLI (parse failures AND
    // denormalize violations — both are file-level skips)
    scanned.filter(col("skip_reason").isNotNull)
      .select("file", "skip_reason").collect().foreach { r =>
        System.err.println(s"Skipping ${r.getString(0)}: ${r.getString(1)}")
      }
    write(GreenButton.keptInputOrdered(scanned), out)
    println(s"wrote $filetype to $out")
  }
}
