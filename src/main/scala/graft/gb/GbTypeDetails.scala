package graft.gb

import scala.xml.{Elem, Node, XML}

/** The ESPI enum dictionary: (scope, field, value) → app_info / documentation.
  *
  * Re-expresses the reference's compile-time Polars pipeline
  * (lib/personalgreenbutton/build.rs:111-218) as a runtime XSD scan (operator
  * S9 in SURVEY.md §2.1): complex-type `ReadingType` contributes
  * (scope="ReadingType", field, field_type) rows; every simple enumerated
  * type contributes (field_type, value, app_info, documentation) rows; a left
  * join on field_type plus the simple types themselves (scope="") form the
  * dimension, filtered to `scope == "ReadingType" || field ==
  * "QualityOfReading"` (build.rs:162-172).
  *
  * The result is tiny (a few hundred rows): two driver-side lookup maps that
  * every denormalize task receives with its closure (reference: a
  * compile-time perfect-hash map,
  * lib/personalgreenbutton/src/gb_type_details.rs:8-31). A pre-generated CSV
  * copy ships as a classpath resource so the engine is standalone; the XSD
  * parser remains the source of truth for regeneration.
  */
object GbTypeDetails {

  /** A single dictionary row. Lookup misses decode to "Missing app info"
    * (gb_type_details.rs:24-30). */
  case class DictRow(scope: String, field: String, value: Int,
                     app_info: String, documentation: String)

  val MissingAppInfo = "Missing app info"

  /** Parse the ESPI XSD into dictionary rows (pure Scala; the file is ~230KB
    * so a DOM parse on the driver is fine — the result is a small lookup map).
    */
  def parseXsd(xsdText: String): Seq[DictRow] = {
    val schema = XML.loadString(xsdText)

    // (scope="ReadingType", field name, field type) from the one complex type
    // the reference cares about (build.rs:28-57).
    val complexRows: Seq[(String, String, String)] = for {
      ct <- (schema \ "complexType").toSeq
      if (ct \@ "name") == "ReadingType"
      cc <- ct \ "complexContent"
      ext <- cc \ "extension"
      seq <- ext \ "sequence"
      el <- seq \ "element"
    } yield ("ReadingType", el \@ "name", el \@ "type")

    // Simple enumerated types: union/simpleType/restriction/enumeration with
    // annotation {documentation, appinfo} (build.rs:59-109).
    val simpleRows: Seq[(String, Int, Option[String], String)] = for {
      st <- (schema \ "simpleType").toSeq
      union <- (st \ "union").take(1)
      inner <- (union \ "simpleType").take(1)
      restriction <- (inner \ "restriction").take(1)
      enumeration <- restriction \ "enumeration"
      annotation <- (enumeration \ "annotation").take(1)
      doc <- (annotation \ "documentation").take(1)
    } yield {
      val appInfo = (annotation \ "appinfo").headOption.map(_.text)
      ((st \@ "name"), (enumeration \@ "value").toInt, appInfo, doc.text)
    }

    val byFieldType: Map[String, Seq[(String, Int, Option[String], String)]] =
      simpleRows.groupBy(_._1)

    // complex ⟕ simple on field_type (build.rs:133-149)
    val joined: Seq[DictRow] = for {
      (scope, field, fieldType) <- complexRows
      (_, value, appInfo, doc) <- byFieldType.getOrElse(fieldType, Seq.empty)
    } yield DictRow(scope, field, value, appInfo.getOrElse(MissingAppInfo), doc)

    // simple types re-labeled with empty scope (build.rs:151-160)
    val unified: Seq[DictRow] = simpleRows.map { case (ft, value, appInfo, doc) =>
      DictRow("", ft, value, appInfo.getOrElse(MissingAppInfo), doc)
    }

    // filter: ReadingType scope or QualityOfReading field (build.rs:162-172)
    (joined ++ unified).filter(r =>
      r.scope == "ReadingType" || r.field == "QualityOfReading")
  }

  /** (ReadingType field, code) → app_info: the decode of the 8 reading-type
    * enums. */
  lazy val readingTypeCodes: Map[(String, Int), String] =
    fromResource().filter(_.scope == "ReadingType")
      .map(r => (r.field, r.value) -> r.app_info).toMap

  /** QualityOfReading code → app_info. */
  lazy val qualityCodes: Map[Int, String] =
    fromResource().filter(_.field == "QualityOfReading")
      .map(r => r.value -> r.app_info).toMap

  /** Rows from the packaged CSV resource (generated by [[GenerateDict]]). */
  def fromResource(): Seq[DictRow] = {
    val in = getClass.getResourceAsStream("/gb_type_details.csv")
    require(in != null, "gb_type_details.csv resource missing; run graft.gb.GenerateDict")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try src.getLines().drop(1).map { line =>
      // \u0001-separated to dodge commas/quotes inside documentation text
      val parts = line.split('\u0001')
      DictRow(parts(0), parts(1), parts(2).toInt, parts(3),
        if (parts.length > 4) parts(4).replace("\\n", "\n") else "")
    }.toVector
    finally src.close()
  }
}

/** One-time generator: XSD → src/main/resources/gb_type_details.csv. */
object GenerateDict {
  def main(args: Array[String]): Unit = {
    val Array(xsdPath, outPath) = args
    val text = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(xsdPath)),
      java.nio.charset.StandardCharsets.UTF_8)
    val rows = GbTypeDetails.parseXsd(text)
    val sb = new StringBuilder("scope\u0001field\u0001value\u0001app_info\u0001documentation\n")
    rows.foreach { r =>
      sb.append(r.scope).append('\u0001').append(r.field).append('\u0001')
        .append(r.value).append('\u0001').append(r.app_info).append('\u0001')
        .append(r.documentation.replace("\n", "\\n")).append('\n')
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"wrote ${rows.size} rows to $outPath")
  }
}
