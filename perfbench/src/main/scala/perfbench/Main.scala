package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. `run.py` generates the inputs, writes
  * `plan.properties` into the work directory and starts this main; it sets
  * up the session three times (session build plus a warm-up on a small
  * input of the same shape), runs whole cycles of the workload until the
  * deadline, and writes `jvm_result.json` for `run.py` to check and report.
  *
  *   perfbench.Main WORK_DIR
  */
object Main {
  /** What a workload reports back: latency samples per operation kind, the
    * samples behind `op_p50_s`, and the work done in the timed cycles. */
  final class Result {
    val ops = mutable.LinkedHashMap.empty[String, mutable.Buffer[Double]]
    val opSamples = mutable.ArrayBuffer.empty[Double]
    var items = 0.0
    var timedS = 0.0
    var cpuS = 0.0
    var attempted = 0L
    var failed = 0L
    val extra = mutable.LinkedHashMap.empty[String, Double]

    /** Times one operation of `kind` that handles `items` units of input;
      * a failed operation is counted and the run goes on. */
    def timed(kind: String, items: Double)(body: => Unit): Unit = {
      attempted += 1
      try {
        val c0 = cpuNs()
        val (_, s) = seconds(body)
        ops.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += s
        opSamples += s
        this.items += items
        timedS += s
        cpuS += (cpuNs() - c0) / 1e9
      } catch { case e: Exception => failed += 1; e.printStackTrace() }
    }
  }

  /** CPU time of this process, all threads. */
  def cpuNs(): Long = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  trait Workload {
    def warm(spark: SparkSession): Unit
    /** Runs whole cycles until `deadlineNs`; `trace` is null when untraced. */
    def run(spark: SparkSession, deadlineNs: Long, res: Result,
            trace: Trace): Unit
  }

  def main(args: Array[String]): Unit = {
    val work = args(0)
    val plan = new java.util.Properties
    val in = Files.newInputStream(Paths.get(work, "plan.properties"))
    try plan.load(in) finally in.close()
    val p = plan.asScala.toMap
    val cpus = p("cpus").toInt
    val traced = p("trace") == "1"
    val workload: Workload = p("workload") match {
      case "gb_ingest" => new GbIngest(p)
      case "ann_ivfpq_lifecycle" => new AnnLifecycle(p)
      case other => sys.error(s"unknown workload $other")
    }

    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 1 to 3) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(cpus, s"$work/spark-local")
      workload.warm(spark)
      setups += (System.nanoTime() - t0) / 1e9
    }

    val res = new Result
    val trace = if (traced) new Trace(spark) else null
    val deadline = System.nanoTime() + (p("seconds").toDouble * 1e9).toLong
    workload.run(spark, deadline, res, trace)
    if (trace != null) trace.close()
    spark.stop()

    val json = new StringBuilder("{")
    def num(d: Double): String =
      if (d.isNaN || d.isInfinite) "null" else d.toString
    def arr(xs: Iterable[Double]): String = xs.map(num).mkString("[", ",", "]")
    def obj(m: Iterable[(String, String)]): String =
      m.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    json ++= "\"setup_s\":" + arr(setups)
    json ++= ",\"ops\":" + obj(res.ops.map { case (k, v) => k -> arr(v) })
    json ++= ",\"op_samples\":" + arr(res.opSamples)
    json ++= s",\"items\":${num(res.items)},\"timed_s\":${num(res.timedS)}"
    json ++= s",\"cpu_s\":${num(res.cpuS)}"
    json ++= s",\"attempted\":${res.attempted},\"failed\":${res.failed}"
    json ++= ",\"extra\":" + obj(res.extra.map { case (k, v) => k -> num(v) })
    json ++= s",\"peak_rss_mb\":${num(peakRssMb())}"
    if (trace != null)
      json ++= ",\"per_layer\":" +
        obj(trace.metrics.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) })
    json ++= "}\n"
    Files.write(Paths.get(work, "jvm_result.json"), json.toString.getBytes("UTF-8"))
  }

  def session(cpus: Int, localDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** VmHWM of this JVM: the resident-set high-water mark, in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e9)
  }

  def deleteTree(path: String): Unit = {
    val f = new File(path)
    if (f.exists())
      Files.walk(f.toPath).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(p => Files.delete(p))
  }

  /** Runs `body` in a `trace` span when tracing, plainly otherwise. */
  def layer[T](trace: Trace, name: String)(body: => T): T =
    if (trace == null) body else trace.span(name)(body)
}
