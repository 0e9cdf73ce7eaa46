package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{SparkTestBase, Tables}

/** Pins the fused ADC candidate scorer ([[graft.functions.AdcLut]] — the
  * r16 codegen replacement for the explode→join→groupBy→fold pipeline)
  * bit-identical to the legacy distributed shape, which is the DuckDB
  * oracle replay form. The legacy shape survives once in [[IvfPq]]'s
  * single serve body as the past-localization-cap fallback (run
  * end to end by IvfPqSpec's over-cap split-parity test, which needs
  * more than 4,096 probe rows); this spec re-derives it inline so the
  * two are compared on the SAME under-cap inputs at gate scale. */
class AdcLutSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.01"
  private def emb = Tables.load(spark, dir, "embeddings")
    .select(col("vec_id"), col("embedding"))
  private def centroids = emb.filter(pmod(col("vec_id"), lit(50)) === 0)
    .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid"))
  private def books =
    ProductQuantizer.codebooks(emb, dim = 64, numSub = 8, stride = 25)

  private val dim = 64
  private val numSub = 8
  private val subDim = dim / numSub

  /** The legacy ADC candidate pipeline verbatim (pre-r16
    * [[IvfPq.topKFromIndex]] stage 2 + shortlist + rerank), so the fused
    * path has an executable ground truth. */
  private def legacyTopK(queries: DataFrame, index: DataFrame,
                         corpus: DataFrame, k: Int, nprobe: Int,
                         rerank: Int): DataFrame = {
    val dot = graft.functions.DotProduct.dot_product _
    val w0 = Window.partitionBy(col("vec_id"))
      .orderBy(col("_cdist").asc, col("centroid_id"))
    val probed = Similarity.localizeBounded(
      queries.crossJoin(broadcast(centroids))
        .withColumn("_cdist",
          Similarity.negCosGuarded(col("embedding"), col("centroid")))
        .withColumn("_crank", row_number().over(w0))
        .filter(col("_crank") <= nprobe)
        .select(col("vec_id").as("query_id"), col("centroid_id"),
          col("embedding").as("q_emb")),
      Similarity.MaxLocalProbedRows)
    val adc = broadcast(probed.select(col("query_id"), col("q_emb"))
      .dropDuplicates("query_id")
      .select(col("query_id"),
        explode(transform(sequence(lit(0), lit(numSub - 1)),
          s => struct(s.as("sub"),
            slice(col("q_emb"), s * subDim + 1, lit(subDim)).as("subvec"))))
          .as("_e"))
      .select(col("query_id"), col("_e.sub").as("sub"),
        col("_e.subvec").as("subvec"))
      .join(broadcast(books), Seq("sub"))
      .select(col("query_id"), col("sub"), col("code"),
        dot(col("subvec"), col("centroid")).as("part")))
    val cand = Similarity.joinProbedCells(index,
        probed.select("query_id", "centroid_id"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        posexplode(col("codes")).as(Seq("sub", "code")))
      .join(adc, Seq("query_id", "sub", "code"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sort_array(collect_list(struct(col("sub"), col("part")))).as("_ps"))
      .filter(size(col("_ps")) === numSub)
      .withColumn("adc_score",
        aggregate(col("_ps"), lit(0.0), (a, x) => a + x.getField("part")))
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_score").desc, col("vec_id"))
    val shortlist = cand.withColumn("_r", row_number().over(wAdc))
      .filter(col("_r") <= k * rerank)
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb")))
    val scored = Similarity.shortlistEmbeddings(shortlist, corpus)
      .join(q, Seq("query_id"))
      .withColumn("cos_sim",
        Similarity.cosineGuarded(col("q_emb"), col("c_emb")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos_sim"))
  }

  private def rows(df: DataFrame): Set[(Long, Int, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
      r.getDouble(3))).toSet

  test("fused ADC serve == legacy explode/join/fold serve, bit-for-bit, " +
      "across nprobe and rerank settings (scores compared exactly — the " +
      "fold order and dot arithmetic must be identical, not just close)") {
    val queries = emb.filter(col("vec_id") < 12).localCheckpoint(true)
    val index = IvfPq.encode(emb, centroids, books, dim, numSub)
      .localCheckpoint(true)
    for ((np, rr) <- Seq((1, 2), (2, 8), (3, 32))) {
      val fused = rows(IvfPq.topKFromIndex(queries, index, emb, 3,
        centroids, books, dim, numSub, np, rr))
      val legacy = rows(legacyTopK(queries, index, emb, 3, np, rr))
      assert(fused == legacy, s"nprobe=$np rerank=$rr diverged")
    }
  }

  test("a candidate whose codes reference a code ABSENT from the books " +
      "is dropped by both paths (legacy: inner join + size filter; " +
      "fused: adc_keep) — not scored with a partial sum") {
    val queries = emb.filter(col("vec_id") < 4).localCheckpoint(true)
    val base = IvfPq.encode(emb, centroids, books, dim, numSub)
    // plant a corrupt row in a cell every query probes is not needed:
    // give it the first query's nearest cell via a real row's cell
    val someCell = base.limit(1).collect()(0).getLong(1)
    val corrupt = spark.createDataFrame(
      java.util.List.of(
        org.apache.spark.sql.Row(999999L, someCell,
          Seq.fill(numSub)(999999))),
      base.schema)
    val index = base.unionByName(corrupt).localCheckpoint(true)
    val fused = rows(IvfPq.topKFromIndex(queries, index, emb, 3,
      centroids, books, dim, numSub, 3, 64))
    val legacy = rows(legacyTopK(queries, index, emb, 3, 3, 64))
    assert(fused == legacy)
    assert(!fused.exists(_._3 == 999999L),
      "the corrupt candidate must never be scored")
  }

  test("RESIDUAL fused serve == residual legacy serve (coarse cdot term " +
      "added outside the fold in both)") {
    val queries = emb.filter(col("vec_id") < 8).localCheckpoint(true)
    val resBooks = IvfPq.residualBooks(emb, centroids, dim, numSub,
      stride = 25).localCheckpoint(true)
    val index = IvfPq.encodeResidual(emb, centroids, resBooks, dim, numSub)
      .localCheckpoint(true)
    // legacy ground truth: the residual fallback shape, forced by
    // replaying it inline
    val dot = graft.functions.DotProduct.dot_product _
    val w0 = Window.partitionBy(col("vec_id"))
      .orderBy(col("_cdist").asc, col("centroid_id"))
    val probed = Similarity.localizeBounded(
      queries.crossJoin(broadcast(centroids))
        .withColumn("_cdist",
          Similarity.negCosGuarded(col("embedding"), col("centroid")))
        .withColumn("_crank", row_number().over(w0))
        .filter(col("_crank") <= 2)
        .select(col("vec_id").as("query_id"), col("centroid_id"),
          col("embedding").as("q_emb"),
          dot(col("embedding"), col("centroid")).as("cdot")),
      Similarity.MaxLocalProbedRows)
    val adc = broadcast(probed.select(col("query_id"), col("q_emb"))
      .dropDuplicates("query_id")
      .select(col("query_id"),
        explode(transform(sequence(lit(0), lit(numSub - 1)),
          s => struct(s.as("sub"),
            slice(col("q_emb"), s * subDim + 1, lit(subDim)).as("subvec"))))
          .as("_e"))
      .select(col("query_id"), col("_e.sub").as("sub"),
        col("_e.subvec").as("subvec"))
      .join(broadcast(resBooks), Seq("sub"))
      .select(col("query_id"), col("sub"), col("code"),
        dot(col("subvec"), col("centroid")).as("part")))
    val cand = Similarity.joinProbedCells(index,
        probed.select("query_id", "centroid_id", "cdot"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"), col("cdot"),
        posexplode(col("codes")).as(Seq("sub", "code")))
      .join(adc, Seq("query_id", "sub", "code"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(first(col("cdot")).as("cdot"),
        sort_array(collect_list(struct(col("sub"), col("part")))).as("_ps"))
      .filter(size(col("_ps")) === numSub)
      .withColumn("adc_score", col("cdot") +
        aggregate(col("_ps"), lit(0.0), (a, x) => a + x.getField("part")))
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_score").desc, col("vec_id"))
    val shortlist = cand.withColumn("_r", row_number().over(wAdc))
      .filter(col("_r") <= 3 * 16)
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb")))
    val scored = Similarity.shortlistEmbeddings(shortlist, emb)
      .join(q, Seq("query_id"))
      .withColumn("cos_sim",
        Similarity.cosineGuarded(col("q_emb"), col("c_emb")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    val legacy = rows(scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("cos_sim")))
    val fused = rows(IvfPq.topKFromIndexResidual(queries, index, emb, 3,
      centroids, resBooks, dim, numSub, 2, 16))
    assert(fused == legacy)
  }

  test("the fused candidate stage plans NO explode/join/groupBy " +
      "machinery anywhere in the serve's executions — the scoring is " +
      "one codegen expression (captured via QueryExecutionListener: the " +
      "candidate plan executes eagerly at the shortlist localization, " +
      "so the final DataFrame's own plan cannot show it)") {
    val queries = emb.filter(col("vec_id") < 8).localCheckpoint(true)
    val index = IvfPq.encode(emb, centroids, books, dim, numSub)
      .localCheckpoint(true)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = {
        plans.add(qe.executedPlan.toString); ()
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      IvfPq.topKFromIndex(queries, index, emb, 3, centroids,
          books, dim, numSub, 2, 8)
        .write.format("noop").mode("overwrite").save()
      Thread.sleep(500) // listener bus drain (async delivery)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    val all = plans.asScala.toSeq
    assert(all.exists(_.contains("adc_score")),
      "fused expression missing from every executed plan")
    val offenders = all.filter(p =>
      p.contains("posexplode") || p.contains("collect_list"))
    assert(offenders.isEmpty,
      s"the explode/collect_list machinery survived the fusion:\n" +
        offenders.headOption.getOrElse(""))
  }
}
