package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod}

import graft.similarity.{IvfPq, ProductQuantizer, TrainedState => TS}

import Main.{deleteTree, layer}

/** `ann_ivfpq_lifecycle`: build an IVF-PQ codes index and a vectors
  * artifact, then cycles of rounds (fold in a batch, serve the queries,
  * forget ids, serve again) followed by one `maintainRoot` pass. Every serve
  * result is kept for the checker; after the timed cycles the ids the
  * reconciled artifacts hold are written out. */
final class AnnLifecycle(p: Map[String, String]) extends Main.Workload {
  private val k = p("ann.k").toInt
  private val dim = p("ann.dim").toInt
  private val numSub = p("ann.numsub").toInt
  private val nprobe = p("ann.nprobe").toInt
  private val rerank = p("ann.rerank").toInt
  private val cycleRounds = p("ann.cycle_rounds").toInt
  private val maxGenerations = p("ann.max_generations").toLong
  private val out = p("out.dir")

  /** One lifecycle over the inputs in `dir`, with artifacts under `root`. */
  private final class Lifecycle(spark: SparkSession, dir: String,
                                root: String, trace: Trace) {
    private val meta = props(s"$dir/inputs.properties")
    private val rounds = meta("rounds").toInt
    private val index = s"$root/index"
    private val vectors = s"$root/vectors"
    private val base = spark.read.parquet(s"$dir/base.parquet")
    private lazy val cents = {
      val stride = meta("base").toLong / meta("cells").toLong
      base.filter(pmod(col("vec_id"), lit(stride)) === 0)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid"))
        .localCheckpoint(true)
    }
    private lazy val books = ProductQuantizer.codebooks(base, dim, numSub,
      (meta("base").toLong / meta("books").toLong).toInt).localCheckpoint(true)
    private val queries = spark.read.parquet(s"$dir/queries.parquet")
      .localCheckpoint(true)
    private var lastLoads: (DataFrame, DataFrame) = (null, null)
    var round = 0
    val serves = mutable.ArrayBuffer.empty[(Int, Long, Int, Long, Double)]

    def built: Boolean = new File(index).exists()

    def build(): Unit = {
      deleteTree(root)
      TS.saveIvfPqIndex(IvfPq.encode(base, cents, books, dim, numSub), index)
      TS.saveVectors(base, vectors)
    }

    def exhausted: Boolean = round >= rounds

    def fold(): Unit = {
      val batch = spark.read.parquet(f"$dir/fold_$round%03d.parquet")
      val enc = layer(trace, "ann.encode") {
        val e = IvfPq.encode(batch, cents, books, dim, numSub)
        if (trace == null) e else e.localCheckpoint(true)
      }
      written(trace, "ann.append") {
        TS.appendIvfPqDelta(enc, index)
        TS.appendVectorsDelta(batch, vectors)
      }
    }

    def forget(): Unit = {
      val ids = spark.read.parquet(f"$dir/forget_$round%03d.parquet")
      written(trace, "ann.forget") {
        TS.forgetIvfPqDelta(ids, index)
        TS.forgetVectorsDelta(ids, vectors)
      }
    }

    def serve(serveIdx: Int): Unit = {
      val (idx, vecs) = layer(trace, "ann.load") {
        (TS.loadIvfPqIndexCached(spark, index),
          TS.loadVectorsCached(spark, vectors))
      }
      if (trace != null)
        trace.add("ann.load", "cache_hits",
          Seq(idx eq lastLoads._1, vecs eq lastLoads._2).count(identity))
      lastLoads = (idx, vecs)
      val rows = layer(trace, "ann.serve") {
        IvfPq.topKFromIndex(queries, idx, vecs, k, cents, books, dim, numSub,
          nprobe, rerank).collect()
      }
      rows.foreach(r => serves += ((serveIdx, r.getLong(0), r.getInt(1),
        r.getLong(2), r.getDouble(3))))
    }

    def compact(maxGen: Long): Long = written(trace, "ann.compact") {
      val receipts = TS.maintainRoot(spark, root, maxGen)
      val gens = receipts.map(_.generations).sum
      if (trace != null) trace.add("ann.compact", "generations_before", gens.toDouble)
      gens
    }

    /** A span that also counts the data files it added under `root`. */
    private def written[T](trace: Trace, name: String)(body: => T): T =
      if (trace == null) body
      else {
        val before = files(root)
        val r = trace.span(name)(body)
        trace.add(name, "files", (files(root) -- before).size.toDouble)
        r
      }
  }

  private def files(root: String): Set[String] = {
    val f = new File(root)
    if (!f.exists()) Set.empty
    else {
      val s = Files.walk(f.toPath)
      try s.iterator().asScala.filter(_.toString.endsWith(".parquet"))
        .map(_.toString).toSet
      finally s.close()
    }
  }

  private def props(path: String): Map[String, String] = {
    val pr = new java.util.Properties
    val in = Files.newInputStream(Paths.get(path))
    try pr.load(in) finally in.close()
    pr.asScala.toMap
  }

  /** The small warm-up index is built by the first set-up; every set-up
    * serves it. */
  def warm(spark: SparkSession): Unit = {
    val lc = new Lifecycle(spark, p("warm.dir"), s"$out/ann_warm", null)
    if (!lc.built) lc.build()
    lc.serve(0)
  }

  def run(spark: SparkSession, deadlineNs: Long, res: Main.Result,
          trace: Trace): Unit = {
    val lc = new Lifecycle(spark, p("ann.dir"), s"$out/ann_root", trace)
    res.timed("build", p("ann.base").toDouble)(lc.build())
    val queries = p("ann.queries").toDouble
    var serveIdx = 0
    do {
      for (_ <- 0 until cycleRounds) {
        res.timed("fold", p("ann.fold").toDouble)(lc.fold())
        res.timed("serve", queries)(lc.serve(serveIdx))
        res.timed("forget", p("ann.forget").toDouble)(lc.forget())
        res.timed("serve", queries)(lc.serve(serveIdx + 1))
        serveIdx += 2
        lc.round += 1
      }
      res.timed("compact", 0)(lc.compact(maxGenerations))
    } while (System.nanoTime() < deadlineNs && !lc.exhausted)
    res.extra("rounds") = lc.round

    // untimed: record what the serves returned and which ids the
    // reconciled artifacts hold after the last maintenance pass
    def ids(df: DataFrame): String =
      df.select("vec_id").collect().map(_.getLong(0)).sorted.mkString("\n")
    Files.write(Paths.get(s"$out/ann_index_ids.txt"),
      ids(TS.loadIvfPqIndex(spark, s"$out/ann_root/index")).getBytes)
    Files.write(Paths.get(s"$out/ann_vector_ids.txt"),
      ids(TS.loadVectors(spark, s"$out/ann_root/vectors")).getBytes)
    Files.write(Paths.get(s"$out/ann_serves.tsv"), lc.serves.map {
      case (s, q, r, n, c) => s"$s\t$q\t$r\t$n\t$c"
    }.mkString("", "\n", "\n").getBytes)
  }
}
