package graft.gb

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

import graft.SparkTestBase

/** Plan-shape assertions for the Green Button denormalize pipeline — the
  * scale properties SCALE.md documents, pinned as tests. Denormalize runs
  * file by file inside the scan's tasks, so its executed plan (looked at
  * across adaptive stages, the plan that actually runs) holds no join and
  * no exchange of any kind.
  */
class GbPlanShapeSpec extends SparkTestBase {

  /** Every node of the executed plan, across adaptive stage boundaries. */
  private def executedNodes(df: org.apache.spark.sql.DataFrame): Seq[SparkPlan] = {
    df.collect()
    def allNodes(p: SparkPlan): Seq[SparkPlan] = {
      val here = p.collect { case n => n }
      here ++ here.flatMap {
        case s: QueryStageExec => allNodes(s.plan)
        case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
        case _ => Seq.empty
      }
    }
    allNodes(df.queryExecution.executedPlan)
  }

  test("denormalize is one narrow stage: no Join, Exchange or " +
      "BroadcastExchange node in the executed plan") {
    // synthetic feed with FACT-heavy cardinality (600 readings under 4
    // metadata entries): a join of readings to their metadata, the shape
    // this pins out, would show here
    def reading(i: Int): String =
      s"""<espi:IntervalReading><espi:timePeriod>
         |<espi:duration>3600</espi:duration>
         |<espi:start>${1670025600L + i * 3600L}</espi:start>
         |</espi:timePeriod><espi:value>${1000 + i}</espi:value>
         |</espi:IntervalReading>""".stripMargin
    val up = "/espi/UsagePoint/1"
    val xml =
      s"""<?xml version="1.0" encoding="UTF-8"?>
         |<feed xmlns="http://www.w3.org/2005/Atom"
         |      xmlns:espi="http://naesb.org/espi">
         |<entry><title>ltp</title>
         |  <published>2024-01-01T00:00:00Z</published>
         |  <updated>2024-01-01T00:00:00Z</updated>
         |  <link rel="self" href="/espi/LocalTimeParameters/1"/>
         |  <content><espi:LocalTimeParameters>
         |    <espi:dstStartRule>FFFFFFFF</espi:dstStartRule>
         |    <espi:dstEndRule>FFFFFFFF</espi:dstEndRule>
         |    <espi:dstOffset>3600</espi:dstOffset>
         |    <espi:tzOffset>-18000</espi:tzOffset>
         |  </espi:LocalTimeParameters></content></entry>
         |<entry><title>rt</title>
         |  <published>2024-01-01T00:00:00Z</published>
         |  <updated>2024-01-01T00:00:00Z</updated>
         |  <link rel="self" href="$up/MeterReading/7/ReadingType/9"/>
         |  <content><espi:ReadingType>
         |    <espi:accumulationBehaviour>4</espi:accumulationBehaviour>
         |    <espi:commodity>7</espi:commodity>
         |    <espi:currency>124</espi:currency>
         |    <espi:dataQualifier>12</espi:dataQualifier>
         |    <espi:flowDirection>1</espi:flowDirection>
         |    <espi:kind>58</espi:kind>
         |    <espi:powerOfTenMultiplier>-3</espi:powerOfTenMultiplier>
         |    <espi:uom>42</espi:uom>
         |  </espi:ReadingType></content></entry>
         |<entry><title>mr</title>
         |  <published>2024-01-01T00:00:00Z</published>
         |  <updated>2024-01-01T00:00:00Z</updated>
         |  <link rel="self" href="$up/MeterReading/7"/>
         |  <link rel="related" type="espi-entry/ReadingType"
         |        href="$up/MeterReading/7/ReadingType/9"/>
         |  <content><espi:MeterReading/></content></entry>
         |<entry><title>Meter data</title>
         |  <published>2024-01-01T00:00:00Z</published>
         |  <updated>2024-01-01T00:00:00Z</updated>
         |  <link rel="self" href="$up/MeterReading/7/IntervalBlock/1"/>
         |  <content><espi:IntervalBlock>${
           (0 until 600).map(reading).mkString
         }</espi:IntervalBlock></content></entry>
         |</feed>""".stripMargin
    val ts = GreenButton.timeseriesFromStrings(spark,
      Seq(("plan_shape.xml", xml)), Permissive)
    val nodes = executedNodes(ts)
    assert(ts.count() == 600L)
    val wide = nodes.map(_.nodeName)
      .filter(n => n.contains("Join") || n.contains("Exchange"))
    assert(wide.isEmpty,
      s"denormalize planned a join or exchange: $wide\n${nodes.head}")
  }

  test("denormalize on the ESPI test corpus runs no join: no sort-merge, " +
      "no cartesian") {
    val ts = GreenButton.timeseries(spark, EspiCorpus.glob, Permissive)
    val names = executedNodes(ts).map(_.nodeName)
    assert(!names.exists(n => n.contains("Join") || n.contains("Exchange")),
      s"denormalize planned a join or exchange: $names")
    assert(!names.contains("SortMergeJoin"), s"a join ran as sort-merge: $names")
    assert(!names.exists(n => n == "CartesianProduct" ||
      n == "BroadcastNestedLoopJoin"), "non-equi join sneaked into denormalize")
  }
}
