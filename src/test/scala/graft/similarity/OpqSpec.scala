package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** [[Opq]] — orthogonality of the trained rotation, the EXACT
  * Procrustes-half-step monotonicity contract, identity degeneration,
  * rotation persistence, and the planted-duplicate serving contract. */
class OpqSpec extends SparkTestBase {
  import spark.implicits._

  private def emb = graft.Tables.load(spark, sfDir, "embeddings")
    .select("vec_id", "embedding")

  private def matmulT(r: Array[Array[Float]]): Array[Array[Double]] = {
    val d = r.length
    Array.tabulate(d, d) { (i, j) =>
      var s = 0.0; var k = 0
      while (k < d) { s += r(i)(k).toDouble * r(j)(k).toDouble; k += 1 }
      s
    }
  }

  test("trained rotation is orthogonal: R·Rᵀ == I within f32 tolerance") {
    val rot = Opq.trainRotation(emb, dim = 64, numSub = 4, k = 8,
      kmeansIters = 1, opqIters = 1)
    val rrt = matmulT(rot)
    for (i <- 0 until 64; j <- 0 until 64)
      assert(math.abs(rrt(i)(j) - (if (i == j) 1.0 else 0.0)) < 1e-4,
        s"R·Rᵀ[$i][$j] = ${rrt(i)(j)}")
  }

  test("opqIters = 0 returns the exact identity and plain-PQ parity") {
    val rot = Opq.trainRotation(emb, dim = 64, numSub = 4, k = 8,
      kmeansIters = 1, opqIters = 0)
    assert(rot === Opq.identity(64))
    val e = emb.filter(col("vec_id") < 80)
    val books = ProductQuantizer.codebooksKMeans(e, 64, 4, 8, 1)
    val probes = e.filter(col("vec_id") % 20 === 0)
    def collectK(df: DataFrame) =
      df.select(col("query_id"), col("rank"), col("neighbor_id"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val plain = collectK(ProductQuantizer.topKWith(
      probes, e, 64, 4, 2, books, rerank = 8))
    val viaOpq = collectK(Opq.topKOpq(
      probes, e, 64, 4, 2, rot, books, rerank = 8))
    assert(viaOpq === plain)
  }

  test("Procrustes half-step never increases error against fixed reconstructions") {
    val e = emb.filter(col("vec_id") < 200)
    val books = ProductQuantizer.codebooksKMeans(e, 64, 4, 8, 1)
    val pairs = e.join(Opq.reconstruct(e, books, 64, 4), Seq("vec_id"))
      .localCheckpoint(true) // both error readouts score the SAME pairs
    val rot = Opq.procrustesStep(pairs, 64)
    def err(df: DataFrame): Double =
      df.select(aggregate(
          zip_with(col("embedding"), col("recon"),
            (a, b) => (a.cast("double") - b.cast("double")) *
              (a.cast("double") - b.cast("double"))),
          lit(0.0), (acc, v) => acc + v).as("se"))
        .agg(avg(col("se"))).head.getDouble(0)
    val before = err(pairs)
    val after = err(Opq.applyRotation(pairs, rot).localCheckpoint(true))
    // R* minimizes Σ‖R·x − ŷ‖² over ALL orthogonal R including I, so the
    // half-step is non-increasing by construction (f32 row storage and
    // double folds leave sub-1e-6 slack)
    assert(after <= before + 1e-6, s"after=$after before=$before")
    assert(before > 0.0) // the contract is vacuous on a zero-error corpus
  }

  test("rotation persistence round-trips bit-exactly; drift rejects") {
    val rot = Opq.trainRotation(emb.filter(col("vec_id") < 100),
      dim = 64, numSub = 4, k = 4, kmeansIters = 1, opqIters = 1)
    val path = java.nio.file.Files
      .createTempDirectory("graft_opq_rt").toString + "/rot"
    TrainedState.saveRotation(spark, rot, path)
    val back = TrainedState.loadRotation(spark, path)
    assert(back.length === 64)
    for (i <- 0 until 64) assert(back(i).toSeq === rot(i).toSeq)
    // a codebooks artifact is NOT a rotation — loud reject, not a
    // silently-wrong matrix
    val booksPath = path + "_books"
    TrainedState.saveCodebooks(
      ProductQuantizer.codebooks(emb, 64, 4, 50), booksPath)
    intercept[IllegalArgumentException] {
      TrainedState.loadRotation(spark, booksPath)
    }
  }

  test("orthogonal rotation preserves cosine (serving-space fidelity)") {
    val e = emb.filter(col("vec_id") < 40)
    val rot = Opq.trainRotation(e, dim = 64, numSub = 4, k = 4,
      kmeansIters = 1, opqIters = 1)
    val r = Opq.applyRotation(e, rot)
    def cosPairs(df: DataFrame) = {
      val a = df.select(col("vec_id").as("ida"), col("embedding").as("ea"))
      val b = df.select(col("vec_id").as("idb"), col("embedding").as("eb"))
      a.join(b, col("ida") < col("idb"))
        .select(col("ida"), col("idb"),
          (graft.functions.DotProduct.dot_product(col("ea"), col("eb")) /
            (sqrt(graft.functions.DotProduct.dot_product(col("ea"), col("ea"))) *
             sqrt(graft.functions.DotProduct.dot_product(col("eb"), col("eb")))))
            .as("c"))
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
        .toMap
    }
    val orig = cosPairs(e)
    val rotd = cosPairs(r)
    orig.foreach { case (k, v) =>
      assert(math.abs(rotd(k) - v) < 1e-3, s"pair $k: $v vs ${rotd(k)}")
    }
  }

  test("planted duplicate ranks first at cosine 1 under the trained rotation") {
    val base = emb.filter(col("vec_id") < 60)
    val corpus = base.unionByName(base.filter(col("vec_id") < 5)
      .select((col("vec_id") + 1000L).as("vec_id"), col("embedding")))
    val probes = base.filter(col("vec_id") < 5)
    val rot = Opq.trainRotation(base, dim = 64, numSub = 4, k = 8,
      kmeansIters = 1, opqIters = 1)
    val books = ProductQuantizer.codebooksKMeans(
      Opq.applyRotation(base, rot), 64, 4, 8, 1)
    val got = Opq.topKOpq(probes, corpus, 64, 4, k = 1, rot, books,
        rerank = 16)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cos_sim"), 6).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === (0L until 5L).map(i => (i, i + 1000L, 1.0)).toSet)
  }

  test("the PQ query batch is deduped: a null vec_id row is dropped and " +
      "a duplicated query is short-listed and re-ranked once, in both " +
      "the batch and the codes-staged serve") {
    val e = emb.filter(col("vec_id") < 80).localCheckpoint(true)
    val books = ProductQuantizer.codebooks(e, dim = 64, numSub = 4,
      stride = 10)
    val codes = ProductQuantizer.encode(e, books, dim = 64, numSub = 4)
    val rot = Opq.identity(64)
    val probes = e.filter(col("vec_id") % 20 === 0)
    val dirty = probes
      .unionByName(probes.filter(col("vec_id") === 20))
      .unionByName(probes.filter(col("vec_id") === 40)
        .select(lit(null).cast("long").as("vec_id"), col("embedding")))
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSeq.sorted
    def batch(q: DataFrame) = rows(ProductQuantizer.topKWith(
      q, e, 64, 4, 3, books, rerank = 4))
    def staged(q: DataFrame) = rows(Opq.topKOpqWithCodes(
      q, e, 64, 4, 3, rot, books, codes, rerank = 4))
    assert(batch(probes).length === 4 * 3)
    assert(batch(dirty) === batch(probes))
    assert(staged(dirty) === staged(probes))
  }

  test("argument guards") {
    intercept[IllegalArgumentException] {
      Opq.trainRotation(emb, dim = 63, numSub = 4, k = 2,
        kmeansIters = 1, opqIters = 1) // numSub must divide dim
    }
    intercept[IllegalArgumentException] {
      Opq.trainRotation(emb, dim = 64, numSub = 4, k = 2,
        kmeansIters = 1, opqIters = -1)
    }
    intercept[IllegalArgumentException] {
      Opq.applyRotation(emb, Array(Array(1.0f, 0.0f))) // non-square
    }
  }
}
