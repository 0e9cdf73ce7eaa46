package graft.gb

import scala.jdk.CollectionConverters._

/** The seeded ESPI corpus under `src/test/resources/espi` (TESTDATA.md):
  * eight small feeds from `perfbench/gen.py`, three of them malformed, with
  * the generator's ground truth beside them. */
object EspiCorpus {
  val dir: String =
    new java.io.File(getClass.getResource("/espi").toURI).getAbsolutePath
  val glob: String = s"$dir/*.xml"

  def path(name: String): String = s"$dir/$name"

  def text(name: String): String = new String(
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path(name))),
    java.nio.charset.StandardCharsets.UTF_8)

  /** (file name, readings, skipped) per feed, from `manifest.json`. */
  lazy val manifest: Seq[(String, Int, Boolean)] =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(dir, "manifest.json")).get("files")
      .elements().asScala.map(f => (f.get("name").asText(),
        f.get("rows").asInt(), f.get("skip").asBoolean())).toSeq

  /** Readings of the kept feeds. */
  lazy val keptReadings: Long = manifest.filterNot(_._3).map(_._2.toLong).sum

  /** The generator's expected rows of the kept feeds, in file-then-document
    * order: file name, seq, title, time_period_start_unix, value, cost (NaN
    * where the reading has none), quality, tou, duration, flow_direction,
    * currency. */
  lazy val expected: Seq[Seq[String]] = {
    val src = scala.io.Source.fromFile(new java.io.File(dir, "expected.tsv"),
      "UTF-8")
    try src.getLines().map(_.split("\t", -1).toSeq).toVector
    finally src.close()
  }
}
