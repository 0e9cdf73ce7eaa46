package graft.gb

import org.apache.spark.sql.Encoders

import graft.SparkTestBase

/** What the GB entry points persist, they release, and what they read they
  * read once. */
class CacheDisciplineSpec extends SparkTestBase {

  private val feedPath = {
    val dir = java.nio.file.Files.createTempDirectory("cache_dst").toFile
    val f = new java.io.File(dir, "dst_transition_synthetic.xml")
    val in = getClass.getResourceAsStream("/dst_transition_synthetic.xml")
    java.nio.file.Files.copy(in, f.toPath)
    in.close()
    f.getAbsolutePath
  }

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("writeInflux evaluates its input plan once (cost rule + write)") {
    val ts = GreenButton.timeseries(spark, feedPath)
    val n = ts.count()
    // every evaluation of the input plan passes each row through this map
    val evaluated = spark.sparkContext.longAccumulator("influx_input_rows")
    val counted = ts.map { r => evaluated.add(1); r }(Encoders.row(ts.schema))
    TimeSeriesOps.writeInflux(counted, tmp("influx_once") + "/out")
    assert(evaluated.value == n,
      s"input plan ran ${evaluated.value.toDouble / n} times over $n rows")
    assert(counted.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "writeInflux left its own persist behind")
  }

  test("writeInflux leaves an input the caller cached cached") {
    val ts = GreenButton.timeseries(spark, feedPath).persist()
    try {
      TimeSeriesOps.writeInflux(ts, tmp("influx_cached") + "/out")
      assert(ts.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    } finally ts.unpersist()
  }

  test("GreenButtonCli.run releases the parsed feeds it caches") {
    // suites share the session, so compare against what was persisted
    // before: three conversions must add nothing
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = tmp("cli_cache")
    for (fmt <- Seq("csv", "parquet", "influxdb"))
      GreenButtonCli.run(Array("--filetype", fmt, "--out", s"$out/$fmt",
        feedPath), spark)
    val left = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"persistent RDDs left by the CLI: $left")
  }
}
