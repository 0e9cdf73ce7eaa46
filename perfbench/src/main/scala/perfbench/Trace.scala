package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and counters for the traced run, kept in memory and written once
  * when the run ends. Counts come from listener events: jobs, stages, tasks,
  * shuffle, spill, result and written bytes from the [[SparkListener]];
  * broadcast builds from the executed plans the [[QueryExecutionListener]]
  * sees. A span drains the listener bus at both ends, so its deltas hold the
  * events of exactly the work it timed. */
final class Trace(spark: SparkSession) {
  private val jobs, stages, tasks, shuffle, spill, result, written,
    broadcasts = new AtomicLong

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet(); ()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet(); ()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        result.addAndGet(m.resultSize)
        written.addAndGet(m.outputMetrics.bytesWritten)
      }
      ()
    }
  }

  /** Exchanges already counted: a cached plan's exchanges are built once
    * but appear in every later plan that reads the cache. */
  private val seen = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean])

  private val planListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      broadcasts.addAndGet(Trace.broadcastBuilds(qe.executedPlan, seen)); ()
    }
    override def onFailure(f: String, qe: QueryExecution,
                           e: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(planListener)

  private def snapshot(): Map[String, Double] = {
    val mb = 1e6
    Map("jobs" -> jobs.get.toDouble, "stages" -> stages.get.toDouble,
      "tasks" -> tasks.get.toDouble, "shuffle_mb" -> shuffle.get / mb,
      "spill_mb" -> spill.get / mb, "driver_mb" -> result.get / mb,
      "written_mb" -> written.get / mb,
      "broadcasts" -> broadcasts.get.toDouble)
  }

  /** name -> counter -> values, one value per occurrence of the span. */
  private val spans =
    mutable.LinkedHashMap.empty[String, mutable.Map[String, mutable.Buffer[Double]]]

  def add(name: String, counter: String, value: Double): Unit =
    spans.getOrElseUpdate(name, mutable.LinkedHashMap.empty)
      .getOrElseUpdate(counter, mutable.ArrayBuffer.empty) += value

  def span[T](name: String)(body: => T): T = {
    PerfbenchBus.drain(spark.sparkContext)
    val before = snapshot()
    val t0 = System.nanoTime()
    val out = body
    val s = (System.nanoTime() - t0) / 1e9
    PerfbenchBus.drain(spark.sparkContext)
    val after = snapshot()
    add(name, "s", s)
    after.foreach { case (k, v) => add(name, k, v - before(k)) }
    out
  }

  /** The duration of the latest occurrence of span `name`. */
  def last(name: String): Double = spans(name)("s").last

  /** Per-layer metrics: the mean per occurrence of each span counter. */
  def metrics: Map[String, Double] =
    spans.toSeq.flatMap { case (name, counters) =>
      counters.toSeq.map { case (c, vs) => s"$name.$c" -> vs.sum / vs.size }
    }.toMap

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(planListener)
  }
}

object Trace {
  /** Broadcast exchanges in an executed plan not counted before, looking
    * through adaptive query stages, cached relations and subqueries; a
    * reused exchange builds nothing. */
  def broadcastBuilds(p: SparkPlan, seen: java.util.Set[SparkPlan]): Long =
    p match {
      case a: AdaptiveSparkPlanExec => broadcastBuilds(a.executedPlan, seen)
      case s: QueryStageExec => broadcastBuilds(s.plan, seen)
      case m: InMemoryTableScanExec =>
        broadcastBuilds(m.relation.cachedPlan, seen)
      case other =>
        val own = other match {
          case b: BroadcastExchangeExec if seen.add(b) => 1L
          case _ => 0L
        }
        own + (other.children ++ other.subqueries)
          .map(broadcastBuilds(_, seen)).sum
    }
}
