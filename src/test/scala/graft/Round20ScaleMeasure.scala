package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One-off measurement for SCALE.md (round 11): the two-level coarse
  * quantizer vs the flat argmin as the CELL COUNT grows — the n×C
  * assignment wall SCALE.md documents past ~10⁵ cells. Fixed corpus
  * (the Round18ScaleMeasure 10× embeddings methodology: dense re-ids +
  * component-0 perturbation), growing C via the centroid stride;
  * supers sized ≈ √C with constant fanout. Expected: flat wall grows
  * linearly with C, two-level stays near-flat (S + fanout·C/S per
  * vector), with an agreement readout showing the boundary-vector
  * recall trade. Each config also times a `KMeans.fit(k = C, iters =
  * 2)` over the same corpus, and every timing reports the Spark jobs
  * its timed run started.
  *
  * Run: sbt "Test/runMain graft.Round20ScaleMeasure [mult] [sfDir] [outDir]"
  * (`SPARK_GRAFT_CPUS` sets the local parallelism, default 32)
  */
object Round20ScaleMeasure {

  def main(args: Array[String]): Unit = {
    val mult = args.headOption.map(_.toInt).getOrElse(10)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(2).getOrElse("/tmp/graft_r21_emb")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      })

    if (!new java.io.File(s"$outDir/embeddings.parquet").exists()) {
      Tables.load(spark, sfDir, "embeddings")
        .select(explode(sequence(lit(0), lit(mult - 1))).as("c"), col("*"))
        .withColumn("vec_id", col("vec_id") * mult + col("c"))
        .withColumn("embedding", transform(col("embedding"), (x, i) =>
          when(i === 0, x + col("c").cast("float") * lit(0.001f))
            .otherwise(x)))
        .drop("c")
        .repartition(32)
        .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
      println(s"[r20scale] materialized ${mult}x embeddings at $outDir")
    }
    val emb = Tables.load(spark, outDir, "embeddings")
      .select(col("vec_id"), col("embedding")).localCheckpoint(true)
    val n = emb.count()

    // (centroid stride, super stride): supers ≈ √C, fanout constant —
    // super strides are multiples of the centroid stride so the stride
    // filter composes (centroid ids are multiples of the cell stride).
    // SPARK_GRAFT_R20_CONFIGS=cs:ss,cs:ss overrides (isolation tool).
    val configs = sys.env.get("SPARK_GRAFT_R20_CONFIGS")
      .map(_.split(",").toSeq.map { s =>
        val Array(a, b) = s.split(":"); (a.toInt, b.toInt)
      })
      .getOrElse(Seq((50, 1000), (10, 500), (2, 200)))
    println("[r20scale] C,S,flat_s,flat_jobs,twolevel_s,twolevel_jobs," +
      "agree_pct,kmeans_s,kmeans_jobs")
    configs.foreach { case (cs, ss) =>
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val cents = emb.filter(pmod(col("vec_id"), lit(cs)) === 0)
        .select(col("vec_id").as("centroid_id"),
          col("embedding").as("centroid")).localCheckpoint(true)
      val supers = graft.similarity.Similarity.superCentroids(cents, ss)
        .localCheckpoint(true)
      val cN = cents.count()
      val sN = supers.count()
      // (seconds, jobs) of the second of two runs (the first warms)
      def time(f: => org.apache.spark.sql.DataFrame): (Double, Int) = {
        f.write.format("noop").mode("overwrite").save() // warm
        val (t0, j0) = (System.nanoTime(), jobs.get)
        f.write.format("noop").mode("overwrite").save()
        ((System.nanoTime() - t0) / 1e9, jobs.get - j0)
      }
      val (flatS, flatJ) = time(graft.similarity.Similarity.ivfAssign(emb,
        cents))
      val (twoS, twoJ) = time(graft.similarity.Similarity.ivfAssignTwoLevel(
        emb, cents, supers, fanout = 4))
      val agree = graft.similarity.Similarity.ivfAssign(emb, cents)
        .select(col("vec_id"), col("centroid_id").as("a"))
        .join(graft.similarity.Similarity.ivfAssignTwoLevel(
            emb, cents, supers, fanout = 4)
          .select(col("vec_id"), col("centroid_id").as("b")), Seq("vec_id"))
        .agg(avg(when(col("a") === col("b"), 1.0).otherwise(0.0)))
        .head.getDouble(0)
      val (fitS, fitJ) = time(graft.similarity.KMeans.fit(emb, cN.toInt,
        iters = 2))
      println(f"[r20scale] $cN,$sN,$flatS%.2f,$flatJ,$twoS%.2f,$twoJ," +
        f"${agree * 100}%.1f,$fitS%.2f,$fitJ")
      // per-config hygiene: drop the config's checkpointed cents/supers
      // and any staged blocks — three configs' leftovers in one JVM
      // OOM'd the C=10⁴ flat crossJoin before this (each config is
      // self-contained; only `emb` persists across them — the
      // Round18ScaleMeasure snapshot-diff convention)
      spark.sparkContext.getPersistentRDDs
        .filterNot { case (id, _) => before.contains(id) }
        .values.foreach(_.unpersist(blocking = true))
    }
    println(s"[r20scale] corpus n=$n")

    // the FANOUT DIAL at the small-C regime (where reduced fan-out
    // costs agreement): fanout >= S is flat bit-for-bit (spec-pinned);
    // this makes the dial visible as data, not just a contract
    val cents4 = emb.filter(pmod(col("vec_id"), lit(50)) === 0)
      .select(col("vec_id").as("centroid_id"),
        col("embedding").as("centroid")).localCheckpoint(true)
    val supers4 = graft.similarity.Similarity.superCentroids(cents4, 1000)
      .localCheckpoint(true)
    val sN4 = supers4.count()
    val flat4 = graft.similarity.Similarity.ivfAssign(emb, cents4)
      .select(col("vec_id"), col("centroid_id").as("a"))
      .localCheckpoint(true)
    println("[r20scale] fanout_sweep S=" + sN4 + ": fanout,agree_pct")
    Seq(2, 4, 8, sN4.toInt).foreach { f =>
      val agree = flat4
        .join(graft.similarity.Similarity.ivfAssignTwoLevel(
            emb, cents4, supers4, fanout = f)
          .select(col("vec_id"), col("centroid_id").as("b")),
          Seq("vec_id"))
        .agg(avg(when(col("a") === col("b"), 1.0).otherwise(0.0)))
        .head.getDouble(0)
      println(f"[r20scale] fanout=$f,${agree * 100}%.1f")
    }
    spark.stop()
  }
}
