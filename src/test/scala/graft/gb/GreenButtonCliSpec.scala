package graft.gb

import graft.SparkTestBase

/** End-to-end of the reference-compatible CLI entry (arg parsing → the
  * `espi` scan → permissive skip → sink) — the surface MIGRATION.md points
  * reference users at. */
class GreenButtonCliSpec extends SparkTestBase {

  private def csvOf(out: java.io.File): String = {
    val parts = out.listFiles().filter(_.getName.endsWith(".csv"))
    assert(parts.length == 1, s"expected one csv part, got ${parts.toSeq}")
    new String(java.nio.file.Files.readAllBytes(parts.head.toPath))
  }

  test("csv mode writes a single-file CSV matching the library's csvString") {
    spark.sparkContext // ensure the shared session is what getOrCreate finds
    val out = java.nio.file.Files.createTempDirectory("gbcli_csv").toFile
    GreenButtonCli.run(Array("--filetype", "csv",
      "--out", out.getAbsolutePath, EspiCorpus.glob), spark)
    val written = csvOf(out)
    val ts = GreenButton.timeseriesInputOrdered(spark, EspiCorpus.glob)
    assert(written == TimeSeriesOps.csvString(ts),
      "CLI csv output diverged from the library path")
    // header + the kept feeds' readings
    assert(written.linesIterator.size == 1 + EspiCorpus.keptReadings)
  }

  test("two input globs convert like one glob over the same files") {
    val one = java.nio.file.Files.createTempDirectory("gbcli_one").toFile
    val two = java.nio.file.Files.createTempDirectory("gbcli_two").toFile
    GreenButtonCli.run(Array("--filetype", "csv",
      "--out", one.getAbsolutePath, EspiCorpus.glob), spark)
    GreenButtonCli.run(Array("--filetype", "csv",
      "--out", two.getAbsolutePath, EspiCorpus.path("feed_000[0-3].xml"),
      EspiCorpus.path("feed_000[4-7].xml")), spark)
    assert(csvOf(two) == csvOf(one))
  }

  test("argument contract: unknown filetype and missing --out fail fast") {
    val out = java.nio.file.Files.createTempDirectory("gbcli_bad").toFile
    intercept[IllegalArgumentException] {
      GreenButtonCli.run(Array("--filetype", "yaml",
        "--out", out.getAbsolutePath, EspiCorpus.glob), spark)
    }
    intercept[IllegalArgumentException] {
      GreenButtonCli.run(Array("--filetype", "csv", EspiCorpus.glob), spark)
    }
  }
}
