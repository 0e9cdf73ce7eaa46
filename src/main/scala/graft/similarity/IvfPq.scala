package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF-PQ — the composition both halves already support separately and
  * the shape a 100 TB ANN deployment actually runs (the FAISS IVFPQ
  * layout, Jégou/Douze/Schmid, "Product Quantization for Nearest
  * Neighbor Search", TPAMI 2011): an inverted file over coarse cells
  * bounds WHICH vectors are scored (nprobe cells per query, partition-
  * pruned when the index is persisted), and per-vector PQ codes bound
  * WHAT is read per scored vector (numSub bytes instead of dim floats,
  * via a broadcast ADC table). Exact re-ranking of the short ADC list
  * restores true-cosine ordering at the top.
  *
  * Codes here quantize the RAW vectors against GLOBAL codebooks (the
  * FAISS `by_residual=false` variant) rather than per-cell residuals:
  * residual encoding buys accuracy at the cost of coupling the
  * codebooks to the coarse quantizer (every rebalance/retrain of cells
  * invalidates all codes); with global books, [[Similarity.ivfRebalance]]
  * and cell retraining never touch the code columns. Both engines'
  * arithmetic is the repo standard — kernel dots (f32→f64 sequential
  * left fold), ordered per-subspace ADC folds, (score desc, id) ties —
  * so the whole pipeline replays in SQL (e_ann_ivfpq_recall's oracle).
  *
  * Scale ledger: build = ONE map-only pass over the corpus — a codegen
  * kernel per row picks the cell and every subspace's code from the
  * vector alone ([[graft.functions.PqEncode]]) over centroid and
  * codebook tables collected once and broadcast together; no exchange,
  * no join, no aggregate, so the work is |corpus|·(cells + numSub·codes)
  * dots spread over the input's own splits. Serve = localized probes ×
  * ADC against the CODES index (centroid_id-pruned, numSub ints per
  * row); only the ≤ k·rerank ADC survivors per query touch the float
  * corpus, through the shared exact re-rank tail
  * ([[Similarity.rerankShortlist]]).
  *
  * Both encodings (global and residual) serve through ONE body: the
  * residual form adds the probe row's coarse `dot(q, c_cell)` outside
  * the ADC fold. Within it the candidate scoring is written twice on
  * purpose — the fused [[graft.functions.AdcLut]] expression for a
  * bounded probe set, and the distributed explode→join→groupBy→fold
  * shape past [[Similarity.MaxLocalProbedRows]] probe rows (AdcLutSpec
  * pins the two bit-identical; IvfPqSpec runs the past-cap branch).
  */
object IvfPq {

  /** The IVF-PQ CODES INDEX: `(vec_id, centroid_id, codes ARRAY<INT>)`
    * — cell assignment from `centroidsDf` ([[Similarity.ivfAssign]]'s
    * argmin, bit-identical tie-break) plus the per-subspace PQ code
    * array ordered by subspace ([[ProductQuantizer.encode]]'s argmin).
    * This is the persistable artifact ([[TrainedState.saveIvfPqIndex]]);
    * float embeddings do NOT ride in it — re-ranking joins the corpus. */
  def encode(corpus: DataFrame, centroidsDf: DataFrame, booksDf: DataFrame,
             dim: Int, numSub: Int): DataFrame = {
    ProductQuantizer.requireSubDiv("IvfPq.encode", dim, numSub)
    encodeWith(corpus, centroidsDf, booksDf, dim, numSub, residual = false)
  }

  /** The projection [[encode]] and [[encodeResidual]] share: one
    * [[graft.functions.PqEncode]] kernel per row picks the cell and the
    * code of each subspace (of `x`, or of `x − c_cell` for the residual
    * form), over the centroid and codebook tables broadcast together.
    * One output row per input row. */
  private def encodeWith(corpus: DataFrame, centroidsDf: DataFrame,
                         booksDf: DataFrame, dim: Int, numSub: Int,
                         residual: Boolean): DataFrame = {
    import graft.functions.PqEncode
    val t = new PqEncode.Tables(Some(PqEncode.cells(centroidsDf)),
      Some(PqEncode.books(booksDf, numSub, dim / numSub)), residual)
    val enc = corpus.select(col("vec_id"),
        PqEncode.pq_encode(col("embedding"), t, corpus.sparkSession)
          .as("_enc"))
      .select(col("vec_id"), col("_enc.centroid_id").as("centroid_id"),
        col("_enc.codes").as("codes"))
    // an empty centroid or codebook table encodes nothing: no row
    if (t.isEmpty) enc.filter(lit(false)) else enc
  }

  /** ANN top-k over a prebuilt IVF-PQ codes index. Stages: (1) each
    * query picks its `nprobe` nearest cells (broadcast, query-batch
    * sized); (2) ADC — probed cells' code rows score against the
    * per-(query, sub, code) dot table, candidate score = ordered fold
    * over the numSub parts; (3) the top `k·rerank` ADC survivors per
    * query re-score exactly against `corpus` floats. `corpus` must
    * carry (vec_id, embedding) for every indexed id — the id-keyed
    * re-rank fetch is the ONLY stage that reads floats. */
  def topKFromIndex(queries: DataFrame, index: DataFrame, corpus: DataFrame,
                    k: Int, centroidsDf: DataFrame, booksDf: DataFrame,
                    dim: Int, numSub: Int, nprobe: Int,
                    rerank: Int): DataFrame =
    serve("IvfPq.topKFromIndex", queries, index, corpus, k, centroidsDf,
      booksDf, dim, numSub, nprobe, rerank, residual = false)

  /** The one IVF-PQ serve body behind [[topKFromIndex]] (global codes)
    * and [[topKFromIndexResidual]] (residual codes). The residual form
    * is the global form plus ONE coarse term: each probe row carries
    * `cdot = dot(q, c_cell)`, added OUTSIDE the ordered ADC fold (null
    * propagation identical to `cdot + fold`). The global form computes
    * no `cdot` at all, so its plan carries no extra column. */
  private def serve(op: String, queries: DataFrame, index: DataFrame,
                    corpus: DataFrame, k: Int, centroidsDf: DataFrame,
                    booksDf: DataFrame, dim: Int, numSub: Int, nprobe: Int,
                    rerank: Int, residual: Boolean): DataFrame = {
    require(k >= 1 && nprobe >= 1 && rerank >= 1,
      s"$op: k=$k, nprobe=$nprobe, rerank=$rerank must be >= 1")
    ProductQuantizer.requireSubDiv(op, dim, numSub)
    val subDim = dim / numSub
    val dot = graft.functions.DotProduct.dot_product _
    val coarse = if (residual) Seq(col("cdot")) else Nil
    def plusCoarse(adc: Column): Column = coarse.foldLeft(adc)((a, c) => c + a)

    // (1) probe cells — identical plan to ivfTopKFromIndex's probe side.
    // LOCALIZED ONCE (bounded |q|·nprobe rows): the probe table feeds
    // THREE consumers — the ADC lookup tables, the static cell prune
    // (Similarity.joinProbedCells), and the candidate join — and
    // without the eager localization each consumer's action re-ran the
    // |q|·C cell-ranking subplan (the measured IVF-PQ 100× residual,
    // SCALE.md r15). One collect here; everything downstream derives
    // from the LocalRelation (and the collected rows feed the LUT build)
    // job-free.
    val w0 = Window.partitionBy(col("vec_id"))
      .orderBy(col("_cdist").asc, col("centroid_id"))
    val (probed, probedRows) = Similarity.localizeBoundedRows(
      queries.crossJoin(broadcast(centroidsDf))
        .withColumn("_cdist",
          Similarity.negCosGuarded(col("embedding"), col("centroid")))
        .withColumn("_crank", row_number().over(w0))
        .filter(col("_crank") <= nprobe)
        .select(Seq(col("vec_id").as("query_id"), col("centroid_id"),
          col("embedding").as("q_emb")) ++
          (if (residual)
            Seq(dot(col("embedding"), col("centroid")).as("cdot"))
          else Nil): _*),
      Similarity.MaxLocalProbedRows)
    val candidates = Similarity.joinProbedCells(index,
        probed.select(Seq(col("query_id"), col("centroid_id")) ++ coarse: _*))
      .filter(col("query_id") =!= col("vec_id"))

    // (2) candidate ADC scores over the PROBED cells only. Fused form
    // (bounded probe set — the serving norm): the per-(query, sub, code)
    // dot table is built DRIVER-SIDE from the already-collected probe
    // rows plus one collect of the (tiny) books, and candidate scoring
    // is ONE codegen expression — numSub binary searches + the ordered
    // fold per candidate ([[graft.functions.AdcLut]]; bit-identical
    // contract documented there). Past the localization cap the
    // distributed explode→join→groupBy→fold shape (the DuckDB oracle's
    // replay form) scores the same rows.
    val cand = probedRows match {
      case Some(rows) =>
        val booksRows = booksDf.select(col("sub").cast("int"),
          col("code").cast("int"), col("centroid")).collect()
        val luts = graft.functions.AdcLut.build(rows,
          probed.schema.fieldIndex("query_id"),
          probed.schema.fieldIndex("q_emb"), booksRows, numSub, subDim)
        candidates
          .filter(graft.functions.AdcLut.adc_keep(
            col("query_id"), col("codes"), luts))
          .select(col("query_id"), col("vec_id"),
            plusCoarse(graft.functions.AdcLut.adc_score(
              col("query_id"), col("codes"), luts)).as("adc_score"))
      case None =>
        val adc = broadcast(probed.select(col("query_id"), col("q_emb"))
          .dropDuplicates("query_id")
          .select(col("query_id"),
            explode(transform(sequence(lit(0), lit(numSub - 1)),
              s => struct(s.as("sub"),
                slice(col("q_emb"), s * subDim + 1, lit(subDim)).as("subvec"))))
              .as("_e"))
          .select(col("query_id"), col("_e.sub").as("sub"),
            col("_e.subvec").as("subvec"))
          .join(broadcast(booksDf), Seq("sub"))
          .select(col("query_id"), col("sub"), col("code"),
            dot(col("subvec"), col("centroid")).as("part")))
        candidates
          .select(Seq(col("query_id"), col("vec_id")) ++ coarse :+
            posexplode(col("codes")).as(Seq("sub", "code")): _*)
          .join(adc, Seq("query_id", "sub", "code"))
          .groupBy(col("query_id"), col("vec_id"))
          .agg(sort_array(collect_list(struct(col("sub"), col("part"))))
            .as("_ps"), coarse.map(c => first(c).as("cdot")): _*)
          .filter(size(col("_ps")) === numSub)
          .withColumn("adc_score", plusCoarse(
            aggregate(col("_ps"), lit(0.0), (a, x) => a + x.getField("part"))))
    }
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_score").desc, col("vec_id"))
    val shortlist = cand.withColumn("_r", row_number().over(wAdc))
      .filter(col("_r") <= k * rerank)
      .select(col("query_id"), col("vec_id").as("neighbor_id"))

    // (3) exact re-rank of the shortlist — floats read here only
    Similarity.rerankShortlist(shortlist, queries, corpus, k)
  }

  /** Fold a batch of new vectors into an existing IVF-PQ codes index
    * WITHOUT retraining or re-scanning the indexed corpus — the
    * [[Similarity.ivfFoldIn]] contract lifted to the composed index:
    * under FIXED centroids and FIXED global codebooks both the cell
    * argmin and every per-subspace code argmin are per-vector, so
    * existing rows are bit-unchanged and
    * probe(foldIn(index, batch)) == probe(rebuild(corpus ∪ batch))
    * exactly, at any nprobe (spec-pinned). This is where
    * `by_residual=false` pays: residual codes would couple code values
    * to the coarse quantizer and a rebalanced cell would need its
    * vectors re-encoded; global books never do. Ingest cost scales
    * with the BATCH. */
  def foldIn(index: DataFrame, newVectors: DataFrame,
             centroidsDf: DataFrame, booksDf: DataFrame,
             dim: Int, numSub: Int): DataFrame =
    index.unionByName(encode(newVectors, centroidsDf, booksDf, dim, numSub))

  /** FORGET on an IVF-PQ index is [[Similarity.ivfForget]] VERBATIM —
    * the codes index carries the same (vec_id, centroid_id) key columns
    * and the deletion anti-join / per-cell receipt never touch the
    * payload column, so the existing operator applies unchanged (and
    * with the [[TrainedState.saveIvfPqIndex]] centroid-partitioned
    * layout, deletion cost is the deletion's cell footprint). */
  def forget(index: DataFrame, deleteIds: DataFrame)
      : (DataFrame, DataFrame) = Similarity.ivfForget(index, deleteIds)

  /** Per-vector RESIDUAL against its cell centroid, in pure f32
    * (IEEE float subtract per component — deterministic, and the
    * result feeds the same f32→f64 kernel dots as every other vector):
    * `(vec_id, centroid_id, embedding = x − c_cell)`. */
  private def residuals(corpus: DataFrame, centroidsDf: DataFrame): DataFrame =
    Similarity.ivfAssign(corpus, centroidsDf)
      .join(broadcast(centroidsDf), Seq("centroid_id"))
      .select(col("vec_id"), col("centroid_id"),
        zip_with(col("embedding"), col("centroid"), (a, b) => a - b)
          .as("embedding"))

  /** Stride-sampled RESIDUAL codebooks — the books
    * [[encodeResidual]] quantizes against (swap in a residual-trained
    * [[ProductQuantizer.codebooksKMeans]] for production, same shape). */
  def residualBooks(corpus: DataFrame, centroidsDf: DataFrame, dim: Int,
                    numSub: Int, stride: Int): DataFrame = {
    ProductQuantizer.requireSubDiv("IvfPq.residualBooks", dim, numSub)
    ProductQuantizer.codebooks(residuals(corpus, centroidsDf), dim, numSub,
      stride)
  }

  /** RESIDUAL IVF-PQ encode — the FAISS `by_residual=true` variant:
    * codes quantize `x − c_cell` instead of `x`, so each cell's codes
    * only span that cell's local spread (tighter quantization, the
    * accuracy default at scale). The trade documented on [[encode]] is
    * real here: codes are COUPLED to the coarse quantizer — a cell
    * rebalance/retrain invalidates the affected vectors' codes (they
    * must re-encode against their new centroid), which global-books
    * [[encode]] never pays. Same index shape, same persistence
    * ([[TrainedState.saveIvfPqIndex]]). */
  def encodeResidual(corpus: DataFrame, centroidsDf: DataFrame,
                     resBooks: DataFrame, dim: Int, numSub: Int): DataFrame = {
    ProductQuantizer.requireSubDiv("IvfPq.encodeResidual", dim, numSub)
    // a cell with a NULL id has no centroid row to key the residual on:
    // such a vector gets no index row
    encodeWith(corpus, centroidsDf, resBooks, dim, numSub, residual = true)
      .filter(col("centroid_id").isNotNull)
  }

  /** ANN top-k over a RESIDUAL codes index. The ADC decomposition:
    * dot(q, x) = dot(q, c_cell) + dot(q, r) ≈ dot(q, c_cell) +
    * Σ_sub dot(q_sub, code_centroid) — the per-(query, probed-cell)
    * coarse dot is ONE extra kernel dot riding the (tiny) probe table,
    * and the residual parts reuse the identical ADC table shape. Exact
    * cosine re-rank of the shortlist restores true ordering, as in
    * [[topKFromIndex]] (same serve body). */
  def topKFromIndexResidual(queries: DataFrame, index: DataFrame,
                            corpus: DataFrame, k: Int,
                            centroidsDf: DataFrame, resBooks: DataFrame,
                            dim: Int, numSub: Int, nprobe: Int,
                            rerank: Int): DataFrame =
    serve("IvfPq.topKFromIndexResidual", queries, index, corpus, k,
      centroidsDf, resBooks, dim, numSub, nprobe, rerank, residual = true)

  /** One-shot composition: build the codes index from stride-sampled
    * cells/books and search it. Production persists the index instead
    * ([[TrainedState.saveIvfPqIndex]]) — the one-shot plan re-derives
    * the encode subtree per consumer, the persisted index reads it. */
  def topK(queries: DataFrame, corpus: DataFrame, k: Int,
           centroidStride: Int, bookStride: Int, dim: Int, numSub: Int,
           nprobe: Int, rerank: Int): DataFrame = {
    require(centroidStride > 0 && bookStride > 0,
      s"IvfPq.topK: strides must be positive " +
        s"(got $centroidStride, $bookStride)")
    val centroids = corpus
      .filter(pmod(col("vec_id"), lit(centroidStride)) === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid"))
    val books = ProductQuantizer.codebooks(corpus, dim, numSub, bookStride)
    topKFromIndex(queries, encode(corpus, centroids, books, dim, numSub),
      corpus, k, centroids, books, dim, numSub, nprobe, rerank)
  }
}
