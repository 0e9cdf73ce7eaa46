package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization for embedding ANN at corpus scales where even the
  * float vectors don't fit the cluster's memory budget: each vector is
  * split into `numSub` subvectors, each subvector mapped to one of `k`
  * codebook centroids — a `numSub`-byte code replaces a `dim`-float vector
  * (32× compression at dim=64, numSub=8, k≤256).
  *
  * Search is the standard two-stage shape:
  *   1. ADC (asymmetric distance computation): the query's per-(sub, code)
  *      dot-product table is tiny and BROADCAST; candidate scoring is a
  *      map-side join + sum over the CODES table — the corpus's float
  *      embeddings are never touched.
  *   2. exact re-scoring of the short candidate list against the full
  *      vectors, so the final ranking is exact cosine over the candidates.
  *
  * Codebooks here are deterministically stride-sampled from the corpus (no
  * trained state to ship, same policy as [[Similarity.ivfTopK]]); swap in
  * per-subspace [[KMeans.fit]] output for trained codebooks — the
  * search-side plan is unchanged.
  */
object ProductQuantizer {

  /** Every PQ entry point computes subDim = dim / numSub; a
    * non-dividing numSub would silently drop the tail dimensions from
    * every code and ADC score (degraded recall, no error) — fail loudly
    * instead, the [[GraphAnn.searchGraphPq]] contract applied uniformly
    * at every public entry here and in [[IvfPq]]. */
  private[similarity] def requireSubDiv(op: String, dim: Int,
                                        numSub: Int): Unit =
    require(numSub >= 1 && dim % numSub == 0,
      s"$op: numSub=$numSub must divide dim=$dim — a silent floor would " +
        "drop the tail dimensions from every PQ code and ADC score")

  /** (vec_id, sub, subvec) — one row per subvector. */
  private def explodeSubs(df: DataFrame, vecCol: String, numSub: Int,
                          subDim: Int): DataFrame =
    df.select(col("vec_id"),
      explode(transform(sequence(lit(0), lit(numSub - 1)),
        s => struct(s.as("sub"),
          slice(col(vecCol), s * subDim + 1, lit(subDim)).as("subvec")))).as("_e"))
      .select(col("vec_id"), col("_e.sub").as("sub"), col("_e.subvec").as("subvec"))

  /** Stride-sampled codebooks: (sub, code, centroid ARRAY<FLOAT>). */
  def codebooks(corpus: DataFrame, dim: Int, numSub: Int,
                stride: Int): DataFrame = {
    requireSubDiv("ProductQuantizer.codebooks", dim, numSub)
    val subDim = dim / numSub
    explodeSubs(
      corpus.filter(pmod(col("vec_id"), lit(stride)) === 0), "embedding",
      numSub, subDim)
      .select(col("sub"), (col("vec_id") / stride).cast("int").as("code"),
        col("subvec").as("centroid"))
  }

  /** Trained codebooks via ONE fused [[KMeans.fitGrouped]] over
    * (subspace, subvector) keyed rows (offline training path — run once,
    * persist, ship to the search job). Each Lloyd round is a single
    * distributed job covering ALL subspaces, vs the numSub × iters × ~3
    * fixed-overhead jobs of a per-subspace fit loop — at bench scale that
    * loop's job overhead WAS most of the training wall-clock. Returns the
    * same (sub, code, centroid) shape as [[codebooks]], so [[topKWith]]
    * is oblivious to how books were built. */
  def codebooksKMeans(corpus: DataFrame, dim: Int, numSub: Int, k: Int,
                      iters: Int): DataFrame = {
    requireSubDiv("ProductQuantizer.codebooksKMeans", dim, numSub)
    val subDim = dim / numSub
    val subs = explodeSubs(corpus, "embedding", numSub, subDim)
      .select(col("sub").as("grp"), col("vec_id"),
        col("subvec").as("embedding"))
    KMeans.fitGrouped(subs, k, iters)
      .select(col("grp").cast("int").as("sub"),
        col("centroid_id").cast("int").as("code"), col("centroid"))
  }

  /** Encode the corpus: (vec_id, sub, code) — nearest centroid per
    * subvector by L2 (the PQ standard; works for unnormalized data),
    * argmin key ⟨c,c⟩ − 2⟨x,c⟩ (the ⟨x,x⟩ term is constant per
    * (vector, subspace), so the ordering is the L2 one), ties on the
    * lower code. Map-only: the codebooks are collected once and
    * broadcast, one codegen'd kernel per row emits the code array
    * ([[graft.functions.PqEncode]] — exactness contract there) and a
    * posexplode yields one row per subspace. One row set per input row:
    * a duplicate or null `vec_id` is not merged. */
  def encode(corpus: DataFrame, books: DataFrame, dim: Int,
             numSub: Int): DataFrame = {
    requireSubDiv("ProductQuantizer.encode", dim, numSub)
    import graft.functions.PqEncode
    val bk = PqEncode.books(books, numSub, dim / numSub)
    val t = new PqEncode.Tables(None, Some(bk), residual = false)
    val codes = PqEncode.pq_encode(col("embedding"), t, corpus.sparkSession)
      .getField("codes")
    // a subspace without codebook entries has no code (the array holds
    // the present subspaces in order)
    val sub =
      if (bk.subs.sameElements(0 until numSub)) col("_pos")
      else element_at(array(bk.subs.map(lit).toIndexedSeq: _*),
        col("_pos") + 1)
    val out = corpus.select(col("vec_id"),
        posexplode(codes).as(Seq("_pos", "code")))
      .select(col("vec_id"), sub.as("sub"), col("code"))
    if (t.isEmpty) out.filter(lit(false)) else out
  }

  /** Approximate top-k by ADC, re-scored exactly. `rerank` controls the
    * candidate depth (rerank × k ADC survivors get exact cosine). */
  def topK(queries: DataFrame, corpus: DataFrame, dim: Int, numSub: Int,
           k: Int, stride: Int = 50, rerank: Int = 4): DataFrame =
    topKWith(queries, corpus, dim, numSub, k,
      codebooks(corpus, dim, numSub, stride), rerank)

  /** OPQ-lite: [[topK]] with the structured orthogonal rotation
    * `x → H·D·x/√d` ([[graft.functions.FwhtRotateExpr]]) applied to
    * BOTH sides first, codebooks trained on the rotated corpus. The
    * rotation spreads energy evenly across components, so per-subspace
    * codebooks stop seeing wildly uneven variance — the cheap
    * deterministic stand-in for OPQ's trained rotation (Ge et al.,
    * CVPR 2013), with no state to ship. Scores and the exact re-rank
    * run in rotated coordinates; the rotation is orthogonal, so cosine
    * there equals original cosine up to one f32 rounding per component
    * (identical vectors still score exactly 1 — the planted
    * contract). */
  def topKRotated(queries: DataFrame, corpus: DataFrame, dim: Int,
                  numSub: Int, k: Int, stride: Int = 50,
                  rerank: Int = 4): DataFrame = {
    def rot(df: DataFrame) = df.select(col("vec_id"),
      graft.functions.FwhtRotateExpr.fwht_rotate(col("embedding"), dim)
        .as("embedding"))
    val rc = rot(corpus)
    topKWith(rot(queries), rc, dim, numSub, k,
      codebooks(rc, dim, numSub, stride), rerank)
  }

  /** [[topK]] with caller-provided codebooks (e.g. [[codebooksKMeans]]).
    *
    * Job-count note: the codebooks (numSub × ≤65536 rows by the 16-bit
    * code bound — in practice ~256) and the probe set are BOTH tiny by the
    * PQ contract and were already driver-collected by their `broadcast()`
    * hints in the naive form. Collecting them once into LOCAL RELATIONS is
    * therefore scale-neutral, but every downstream broadcast (books for
    * encode, the ADC table, the rescore query side) then derives from
    * in-memory rows instead of re-running its own source scan — the old
    * 6-scan-job pipeline's fixed overhead was most of this query's
    * wall-clock at benchmark scale. The ADC dot products stay DISTRIBUTED
    * (a join of the two local relations through the codegen'd kernel):
    * computing them driver-side was measured SLOWER — 114k boxed Rows
    * through a single-threaded encoder beats per-job overhead only in the
    * wrong direction.
    */
  def topKWith(queries: DataFrame, corpus: DataFrame, dim: Int, numSub: Int,
               k: Int, booksDf: DataFrame, rerank: Int): DataFrame = {
    requireSubDiv("ProductQuantizer.topKWith", dim, numSub)
    val booksLocal = localBooks(booksDf)
    val qLocal = localQueries(queries)
    val codes = encode(corpus, broadcast(booksLocal), dim, numSub)
    // exact re-score of the short list (query side from the same collected
    // probe set — a third broadcast build would re-scan the source)
    Similarity.rerankShortlist(
      adcShortlist(qLocal, booksLocal, codes, dim, numSub, k, rerank),
      qLocal, corpus, k)
  }

  /** The ADC coarse stage, shared verbatim by [[topKWith]] and the
    * codes-staged serving paths ([[Opq.topKOpqWithCodes]]) so their
    * shortlists are bit-identical: per-query ADC lookup table over the
    * broadcast codebooks, candidate scores as the ORDERED per-subspace
    * fold (the run-to-run- and oracle-deterministic form — a groupBy sum
    * would partial-aggregate in nondeterministic double order), top
    * `k·rerank` per query. The corpus float vectors are never read. */
  private[similarity] def adcShortlist(qLocal: DataFrame,
                                       booksLocal: DataFrame,
                                       codes: DataFrame, dim: Int,
                                       numSub: Int, k: Int,
                                       rerank: Int): DataFrame = {
    val subDim = dim / numSub
    // FUSED form (r16): the legacy shape joined the per-sub codes rows
    // against a broadcast |q|·numSub·|codes| ADC table and rebuilt each
    // candidate through a corpus×queries-sized hash aggregate
    // (collect_list + sort_array + interpreted fold). Here the codes
    // regroup to per-vector arrays ONCE (query-independent — numSub×
    // fewer aggregate input rows than the legacy per-query agg), the
    // LUTs build driver-side from the SAME local relations the legacy
    // plan broadcast, and scoring is one codegen expression per
    // (candidate, query) pair ([[graft.functions.AdcLut]] — exactness
    // contract documented there; bit-equality vs the legacy shape is
    // spec-pinned in AdcLutSpec/OpqSpec/the PQ oracles).
    //
    // The regrouped row is kept only when its sub set is EXACTLY
    // 0..numSub-1 (same drop semantics as the legacy
    // size(_ps) === numSub filter over inner-joined parts: encode()
    // produces exactly one row per (vector, subspace), so well-formed
    // codes always pass; a malformed vector drops in both shapes).
    val qRows = qLocal.select(col("vec_id").cast("long"), col("embedding"))
      .collect()
    val booksRows = booksLocal.select(col("sub").cast("int"),
      col("code").cast("int"), col("centroid")).collect()
    val luts = graft.functions.AdcLut.build(qRows, 0, 1, booksRows,
      numSub, subDim)
    val codesArr = codes
      .groupBy(col("vec_id"))
      .agg(sort_array(collect_list(struct(col("sub"), col("code"))))
        .as("_sc"))
      .filter(size(col("_sc")) === numSub &&
        transform(col("_sc"), p => p.getField("sub")) ===
          sequence(lit(0), lit(numSub - 1)))
      .select(col("vec_id"),
        transform(col("_sc"), p => p.getField("code")).as("codes"))
    val qIds = broadcast(qLocal.select(col("vec_id").as("query_id")))
    val approx = codesArr.crossJoin(qIds)
      .filter(col("query_id") =!= col("vec_id"))
      .filter(graft.functions.AdcLut.adc_keep(
        col("query_id"), col("codes"), luts))
      .select(col("query_id"), col("vec_id"),
        graft.functions.AdcLut.adc_score(
          col("query_id"), col("codes"), luts).as("adc_score"))
    val wApprox = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_score").desc, col("vec_id"))
    approx
      .withColumn("_r", row_number().over(wApprox))
      .filter(col("_r") <= k * rerank)
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
  }

  private def localRows(spark: org.apache.spark.sql.SparkSession,
                        rows: Seq[org.apache.spark.sql.Row],
                        ddl: String): DataFrame =
    spark.createDataFrame(
      {
        import scala.jdk.CollectionConverters._
        rows.asJava
      },
      org.apache.spark.sql.types.StructType.fromDDL(ddl))

  /** The codebooks collected into a `(sub INT, code INT, centroid)`
    * LocalRelation — the [[topKWith]] job-count trick, shared with the
    * codes-staged serving paths. */
  private[similarity] def localBooks(booksDf: DataFrame): DataFrame =
    localRows(booksDf.sparkSession,
      booksDf.select(col("sub").cast("int"), col("code").cast("int"),
        col("centroid")).collect().toSeq,
      "sub INT, code INT, centroid ARRAY<FLOAT>")

  /** The query batch as a `(vec_id BIGINT, embedding)` LocalRelation
    * holding each query ONCE: null ids drop and a repeated id keeps its
    * first row (the [[graft.functions.AdcLut.build]] guards), so the
    * ADC short list and the exact re-rank both see one row per query. */
  private[similarity] def localQueries(queries: DataFrame): DataFrame = {
    val seen = scala.collection.mutable.HashSet.empty[Long]
    val rows = queries.select(col("vec_id").cast("long"), col("embedding"))
      .collect().toSeq
      .filter(r => !r.isNullAt(0) && seen.add(r.getLong(0)))
    localRows(queries.sparkSession, rows,
      "vec_id BIGINT, embedding ARRAY<FLOAT>")
  }
}
