package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** TRAINED OPQ: Optimized Product Quantization's non-parametric
  * alternating minimization (Ge et al., CVPR 2013) — learn an orthogonal
  * rotation R that minimizes PQ reconstruction error
  * `Σᵢ ‖R·xᵢ − q(R·xᵢ)‖²`, alternating two exact half-steps:
  *
  *   1. fix R: train codebooks + encode in rotated coordinates
  *      ([[ProductQuantizer.codebooksKMeans]] / [[ProductQuantizer.encode]]);
  *   2. fix the reconstructions ŷᵢ: the optimal orthogonal R is the
  *      orthogonal-Procrustes solution — with M = Σᵢ xᵢ·ŷᵢᵀ = U·S·Vᵀ,
  *      R = V·Uᵀ ([[procrustesStep]]; the half-step PROVABLY never
  *      increases `Σ‖R·xᵢ − ŷᵢ‖²`, which OpqSpec pins).
  *
  * This upgrades the stateless OPQ-lite `H·D/√d` rotation
  * ([[ProductQuantizer.topKRotated]]) to the data-adaptive form: the
  * trained R aligns subspace boundaries with the corpus' covariance
  * structure instead of merely spreading energy.
  *
  * Scale design (100 TB): training is a SAMPLE-bounded offline job (the
  * codebook-training contract — pass a bounded sample as `corpus`); the
  * only driver-side object is the d×d accumulator M (d ≤ 4096 by
  * require, so ≤ 128 MB worst case, ~32 KB at d=64), reduced
  * DISTRIBUTED via posexplode + per-position partial aggregation — the
  * shuffle carries d² rows per map task, never a per-vector term. The
  * d×d SVD runs on the driver through Breeze/LAPACK (a
  * microseconds-scale dense solve at embedding dims — shipping it to an
  * executor would add a barrier for nothing). Serving applies R with
  * one plan-constant literal matrix and the codegen'd dot kernel per
  * component (the plan-constant LSH-planes convention) — map-only, no
  * state lookup, no shuffle.
  */
object Opq {

  /** Hard cap on the rotation side: d² doubles must stay a driver/plan
    * triviality (4096² = 128 MB is already generous). */
  private val MaxDim = 4096

  /** One orthogonal-Procrustes half-step: the R minimizing
    * `Σᵢ ‖R·xᵢ − ŷᵢ‖²` over orthogonal matrices, for FIXED pairs
    * `(x, yhat)`. `pairs` must carry `embedding` (x, ARRAY<FLOAT>, the
    * ORIGINAL coordinates) and `recon` (ŷ, ARRAY<FLOAT>, the
    * reconstruction in ROTATED coordinates). Returns R as d rows of d
    * floats (row-major; y = R·x applies row·x per output component). */
  def procrustesStep(pairs: DataFrame, dim: Int): Array[Array[Float]] = {
    require(dim >= 1 && dim <= MaxDim,
      s"procrustesStep: dim=$dim out of range [1, $MaxDim]")
    // flattened outer product x·ŷᵀ per row (d² doubles), reduced by the
    // native element-wise vector aggregate: each map task folds its rows
    // into ONE d² buffer, so the shuffle carries one 32 KB-scale buffer
    // per task — not the n·d² rows a posexplode → groupBy(pos) replay
    // ships (measured: the explode dominated this step's wall-clock)
    val mSeq = pairs.select(
      graft.functions.VectorSumAgg.array_sum_agg(
        flatten(transform(col("embedding"), xi =>
          transform(col("recon"), yj =>
            xi.cast("double") * yj.cast("double"))))).as("m"))
      .head.getSeq[Double](0)
    require(mSeq.length == dim * dim,
      s"procrustesStep: accumulated ${mSeq.length} cells, expected " +
        s"${dim * dim} — empty pair table or width drift")
    val m = mSeq.toArray
    // M = U·S·Vᵀ ⇒ argmax_R tr(R·M) = V·Uᵀ (maximize the trace form of
    // the Procrustes objective; breeze svd returns (U, S, Vt))
    val bm = new breeze.linalg.DenseMatrix(dim, dim, m, 0, dim,
      isTranspose = true) // row-major buffer → breeze column-major view
    val s = breeze.linalg.svd(bm)
    val r = s.Vt.t * s.U.t
    Array.tabulate(dim)(i => Array.tabulate(dim)(j => r(i, j).toFloat))
  }

  /** Identity rotation (the opqIters = 0 / warm-start base). */
  def identity(dim: Int): Array[Array[Float]] =
    Array.tabulate(dim)(i =>
      Array.tabulate(dim)(j => if (i == j) 1.0f else 0.0f))

  /** Apply `y = R·x` to `vecCol` as a map-only plan-constant projection:
    * one codegen'd dot per output component against the literal rows. */
  def applyRotation(df: DataFrame, rot: Array[Array[Float]],
                    vecCol: String = "embedding"): DataFrame = {
    val dim = rot.length
    require(dim >= 1 && rot.forall(_.length == dim),
      s"applyRotation: rotation must be square, got ${dim}×{${rot.map(_.length).distinct.mkString(",")}}")
    // a flat array of per-row dots, NOT transform(rows, r -> dot(r, x)):
    // a higher-order lambda capturing the vector attribute breaks
    // Union constraint rewriting (rewriteConstraints' AttributeMap miss)
    // when the rotated relation sits above a planted-copy union — and
    // the flat form codegens each component without a lambda frame
    val comps = rot.map(r =>
      graft.functions.DotProduct.dot_product(
        array(r.map(lit(_)): _*).cast("array<float>"), col(vecCol))
        .cast("float"))
    df.withColumn(vecCol, array(comps.toIndexedSeq: _*))
  }

  /** Train the OPQ rotation: `opqIters` rounds of (codebook train +
    * encode in rotated space, Procrustes update). Returns R (row-major
    * d×d). `opqIters = 0` returns the identity (plain PQ). Codebook
    * training inside each round is [[ProductQuantizer.codebooksKMeans]]
    * at (`k`, `kmeansIters`); the serving codebooks should be retrained
    * on the final rotation by the caller (the train-once artifact split
    * — see [[topKOpq]]). */
  def trainRotation(corpus: DataFrame, dim: Int, numSub: Int, k: Int,
                    kmeansIters: Int, opqIters: Int): Array[Array[Float]] = {
    require(dim >= 1 && dim <= MaxDim,
      s"trainRotation: dim=$dim out of range [1, $MaxDim]")
    require(numSub >= 1 && dim % numSub == 0,
      s"trainRotation: numSub=$numSub must divide dim=$dim")
    require(opqIters >= 0, s"trainRotation: opqIters=$opqIters must be >= 0")
    val x = corpus.select(col("vec_id"), col("embedding"))
    var rot = identity(dim)
    var it = 0
    while (it < opqIters) {
      val rotated = applyRotation(x, rot)
      val books = ProductQuantizer.codebooksKMeans(
        rotated, dim, numSub, k, kmeansIters)
      val recon = reconstruct(rotated, books, dim, numSub)
      rot = procrustesStep(
        x.join(recon, Seq("vec_id")), dim)
      it += 1
    }
    rot
  }

  /** Reconstruction ŷ per vector: encode, then concatenate the assigned
    * centroids in subspace order — `(vec_id, recon ARRAY<FLOAT>)`. */
  private[similarity] def reconstruct(corpus: DataFrame, books: DataFrame,
                                      dim: Int, numSub: Int): DataFrame =
    ProductQuantizer.encode(corpus, broadcast(books), dim, numSub)
      .join(broadcast(books), Seq("sub", "code"))
      .groupBy(col("vec_id"))
      .agg(flatten(transform(
        sort_array(collect_list(struct(col("sub"), col("centroid")))),
        s => s.getField("centroid"))).as("recon"))

  /** Mean squared reconstruction error `avg ‖R·x − ŷ‖²` of a
    * (rotation, codebooks) pair over `corpus` — the OPQ objective, for
    * fidelity readouts and the monotonicity contract. */
  def reconstructionError(corpus: DataFrame, rot: Array[Array[Float]],
                          books: DataFrame, dim: Int, numSub: Int): Double = {
    val rotated = applyRotation(
      corpus.select(col("vec_id"), col("embedding")), rot)
    val err = rotated.join(reconstruct(rotated, books, dim, numSub),
        Seq("vec_id"))
      .select(aggregate(
        zip_with(col("embedding"), col("recon"),
          (a, b) => (a.cast("double") - b.cast("double")) *
            (a.cast("double") - b.cast("double"))),
        lit(0.0), (acc, v) => acc + v).as("se"))
    err.agg(avg(col("se"))).head.getDouble(0)
  }

  /** Serve top-k through a TRAINED rotation: rotate both sides with the
    * plan-constant R, train/accept codebooks in rotated coordinates, and
    * run the standard ADC + exact-rerank pipeline
    * ([[ProductQuantizer.topKWith]]). Cosine is rotation-invariant up to
    * one f32 rounding per component (orthogonal R), and identical
    * vectors rotate identically — the planted-duplicate contract holds
    * under ANY trained R, which is what the gate query pins. */
  def topKOpq(queries: DataFrame, corpus: DataFrame, dim: Int, numSub: Int,
              k: Int, rot: Array[Array[Float]], booksDf: DataFrame,
              rerank: Int = 4): DataFrame =
    ProductQuantizer.topKWith(
      applyRotation(queries, rot), applyRotation(corpus, rot),
      dim, numSub, k, booksDf, rerank)

  /** [[topKOpq]] with PRE-STAGED codes — the per-trigger serving form:
    * [[topKOpq]] re-rotates and re-encodes the whole corpus on every
    * call (fine for one-shot queries, corpus-sized work per trigger on a
    * stream), whereas here the caller encodes the rotated corpus ONCE
    * and every call touches only (a) the bounded rotated query batch,
    * (b) the staged codes through the shared
    * [[ProductQuantizer.adcShortlist]] (bit-identical shortlist to the
    * batch path), and (c) the ORIGINAL corpus floats for the exact
    * re-rank — fetched by broadcast shortlist probe first, rotated
    * AFTER the fetch, so the per-call rotation work is shortlist-sized,
    * not corpus-sized. Rotating fetched rows applies the identical
    * plan-constant expression per row, so scores match [[topKOpq]]
    * bit-for-bit (spec-pinned by the streaming parity test).
    *
    * @param codesDf [[ProductQuantizer.encode]] output over the ROTATED
    *                corpus with `booksDf` (rotated-space codebooks)
    */
  def topKOpqWithCodes(queries: DataFrame, corpus: DataFrame, dim: Int,
                       numSub: Int, k: Int, rot: Array[Array[Float]],
                       booksDf: DataFrame, codesDf: DataFrame,
                       rerank: Int = 4): DataFrame = {
    val booksLocal = ProductQuantizer.localBooks(booksDf)
    val qLocal = ProductQuantizer.localQueries(applyRotation(queries, rot))
    val candidates = ProductQuantizer.adcShortlist(qLocal, booksLocal,
      codesDf, dim, numSub, k, rerank)
    val q = broadcast(qLocal.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb")))
    // OWN tail, not Similarity.rerankShortlist: fetch ORIGINAL floats by
    // id-pruned probe (localized shortlist —
    // Similarity.shortlistEmbeddings), rotate only the fetched
    // shortlist rows (identical expression per row ⇒ identical values
    // to rotating the whole corpus first). Handing the shared tail a
    // rotated corpus would rotate ALL of it past the shortlist cap.
    val fetched = Similarity.shortlistEmbeddings(candidates, corpus)
      .withColumnRenamed("c_emb", "embedding")
    val scored = applyRotation(fetched, rot)
      .withColumnRenamed("embedding", "c_emb")
      .join(q, Seq("query_id"))
      .withColumn("cos_sim",
        Similarity.cosineGuarded(col("q_emb"), col("c_emb")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("cos_sim"))
  }
}
