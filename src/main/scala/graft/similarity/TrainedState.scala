package graft.similarity

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Persistence convention for trained ANN state — k-means centroids and PQ
  * codebooks — so the expensive training pass runs ONCE and the search jobs
  * load the result (train-offline / serve-online, the standard 100TB ANN
  * deployment shape; the reference's analog is its build-time trained
  * dictionary shipped as a resource, reference build.rs:174-217).
  *
  * Format: plain parquet with a pinned schema, validated on load so a
  * mis-pointed path fails fast at the driver instead of mid-job with a
  * binding error. Trained state is k (or numSub × k) rows — single-file
  * parquet via repartition(1) keeps the artifact a copyable unit.
  *
  * Corpus-sized, delta-capable artifacts (IVF and IVF-PQ cells, vectors,
  * token bags, pooled corpora, banded signatures, flat and layered
  * graphs, PQ codes, and the three BM25 sub-artifacts) share one
  * lifecycle: save, load, cached load, append, forget, compact, merge
  * and detection all run an [[ArtifactKind]] descriptor from the
  * `registry`. A new kind is one descriptor there — its schema and
  * reconcile key, the payload column whose NULL is a tombstone, the
  * localized-reconcile row cap, the base layout (range-sorted, with an
  * optional `partitionBy`, or cell-partitioned), the layout/schema test
  * [[detectArtifactKind]] tries, and an optional input hook — plus
  * one-line public entry points. The generation protocol underneath
  * (claim, append, reconcile, merge, crash-safe swap) exists once.
  */
object TrainedState {

  private val f = org.apache.spark.sql.functions

  val centroidSchema: StructType = StructType(Seq(
    StructField("centroid_id", LongType, nullable = false),
    StructField("centroid", ArrayType(FloatType), nullable = true)))

  val codebookSchema: StructType = StructType(Seq(
    StructField("sub", IntegerType, nullable = false),
    StructField("code", IntegerType, nullable = false),
    StructField("centroid", ArrayType(FloatType), nullable = true)))

  /** Persist [[KMeans.fit]] output. */
  def saveCentroids(centroids: DataFrame, path: String): Unit =
    save(centroids, centroidSchema, path)

  /** Load centroids for [[Similarity.ivfTopKWith]] / [[KMeans.assign]]. */
  def loadCentroids(spark: SparkSession, path: String): DataFrame =
    load(spark, centroidSchema, path)

  /** Persist [[ProductQuantizer.codebooksKMeans]] (or stride) output. */
  def saveCodebooks(books: DataFrame, path: String): Unit =
    save(books, codebookSchema, path)

  /** Load codebooks for [[ProductQuantizer.topKWith]]. */
  def loadCodebooks(spark: SparkSession, path: String): DataFrame =
    load(spark, codebookSchema, path)

  val mergeSchema: StructType = StructType(Seq(
    StructField("rank", LongType, nullable = false),
    StructField("pair", StringType, nullable = false),
    StructField("merged", StringType, nullable = false),
    StructField("freq", LongType, nullable = false)))

  /** Persist [[graft.text.BpeTrain.merges]] output — the tokenizer's
    * trained artifact (k rows), served by
    * [[graft.streaming.StreamingTokenize.serveBpe]]. */
  def saveMerges(mergeTable: DataFrame, path: String): Unit =
    save(mergeTable, mergeSchema, path)

  /** Load a merge table for [[graft.text.BpeTrain.applyMerges]]. */
  def loadMerges(spark: SparkSession, path: String): DataFrame =
    load(spark, mergeSchema, path)

  val linearModelSchema: StructType = StructType(Seq(
    StructField("feature", IntegerType, nullable = false),
    StructField("weight", LongType, nullable = false)))

  /** Persist a [[graft.text.QualityClassifier.fit]] weight vector (Dim
    * rows of integer 1e-6-unit weights) — the quality gate's trained
    * artifact; serving is the stateless
    * [[graft.text.QualityClassifier.scoreWith]]. */
  def saveLinearModel(spark: SparkSession, weights: Seq[Long],
                      path: String): Unit = {
    import spark.implicits._
    save(weights.zipWithIndex
      .map { case (w, j) => (j, w) }.toDF("feature", "weight"),
      linearModelSchema, path)
  }

  /** Load weights back as the Array [[graft.text.QualityClassifier
    * .scoreWith]] takes, ordered by feature slot; fails fast on slot
    * gaps or duplicates. */
  def loadLinearModel(spark: SparkSession, path: String): Array[Long] = {
    val rows = load(spark, linearModelSchema, path)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    require(rows.map(_._1).toSeq == rows.indices.toSeq,
      s"trained-state slots at $path are not 0..${rows.length - 1}: " +
        rows.map(_._1).mkString(","))
    rows.map(_._2)
  }

  val ivfIndexSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("centroid_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType), nullable = true)))

  val ivfPqIndexSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("centroid_id", LongType, nullable = false),
    StructField("codes", ArrayType(IntegerType), nullable = true)))

  val vectorsSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType), nullable = true)))

  val tokensSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("token_idx", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType), nullable = true)))

  val pooledSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("n_tokens", LongType, nullable = false),
    StructField("pool", ArrayType(LongType), nullable = true),
    StructField("dims", IntegerType, nullable = false)))

  val bandedSigSchema: StructType = StructType(Seq(
    // t·2¹⁶ + bucket ([[Similarity.bandKeys]]); -1 on tombstone rows
    StructField("bkey", LongType, nullable = false),
    StructField("id", LongType, nullable = false),
    // NULL = tombstone ([[forgetBandedSigsDelta]])
    StructField("simhash", LongType, nullable = true),
    StructField("blocks", IntegerType, nullable = false)))

  val graphIndexSchema: StructType = StructType(Seq(
    StructField("query_id", LongType, nullable = false),
    StructField("rank", IntegerType, nullable = false),
    StructField("neighbor_id", LongType, nullable = false),
    StructField("cos_sim", DoubleType, nullable = true)))

  val hnswIndexSchema: StructType = StructType(Seq(
    StructField("layer", IntegerType, nullable = false),
    StructField("query_id", LongType, nullable = false),
    StructField("rank", IntegerType, nullable = false),
    StructField("neighbor_id", LongType, nullable = false),
    StructField("cos_sim", DoubleType, nullable = true)))

  val pqCodesSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("sub", IntegerType, nullable = false),
    // nullable: a NULL code row is a TOMBSTONE ([[forgetPqCodesDelta]])
    StructField("code", IntegerType, nullable = true)))

  val postingsSchema: StructType = StructType(Seq(
    StructField("term", StringType, nullable = false),
    StructField("doc_id", LongType, nullable = false),
    StructField("tf", LongType, nullable = false)))
  val retrievalTermsSchema: StructType = StructType(Seq(
    StructField("term", StringType, nullable = false),
    StructField("df", LongType, nullable = false)))
  val docLensSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    // nullable: a NULL dl row is a TOMBSTONE ([[forgetRetrievalDocs]])
    StructField("dl", LongType, nullable = true)))
  val retrievalStatsSchema: StructType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("avgdl", DoubleType, nullable = false)))

  // ---- delta-capable kinds: one-line delegations to the registry ----
  // Every kind below: save writes the base in the kind's layout; load
  // is schema-checked, reconciles delta generations newest-wins per key
  // and drops tombstones; the Cached load sits behind the fingerprint
  // cache (the serving loops' per-trigger load); append writes one delta
  // generation; forget writes one tombstone generation; compact folds
  // the generations back crash-safely ([[compactSwap]]).

  /** Persist an IVF codes index ([[Similarity.ivfAssign]] /
    * [[Similarity.ivfFoldIn]] output), cell-partitioned; a fold-in
    * batch may `append` new files into the touched cells only. */
  def saveIvfIndex(index: DataFrame, path: String, append: Boolean = false,
                   targetRowsPerFile: Long = DefaultTargetRowsPerFile)
      : Unit =
    saveKind(ivfKind, index, path, append = append,
      targetRowsPerFile = targetRowsPerFile)

  /** Load a codes index for [[Similarity.ivfTopKFromIndex]]. */
  def loadIvfIndex(spark: SparkSession, path: String): DataFrame =
    loadKind(ivfKind, spark, path)

  def loadIvfIndexCached(spark: SparkSession, path: String): DataFrame =
    cachedKind(ivfKind, spark, path)

  /** Append a REBALANCE's reassigned slice ([[Similarity
    * .ivfRebalanceParts]]): rows that changed cells supersede their base
    * rows. Plain fold-in uses `saveIvfIndex(append = true)`. */
  def appendIvfDelta(delta: DataFrame, path: String): Unit =
    appendKind(ivfKind, delta, path)

  def forgetIvfDelta(deleteIds: DataFrame, path: String): Unit =
    forgetKind(ivfKind, deleteIds, path)

  def compactIvfIndex(spark: SparkSession, path: String): Unit =
    compactKind(ivfKind, spark, path)

  /** Persist an IVF-PQ codes index ([[IvfPq.encode]] output),
    * cell-partitioned like the IVF index. */
  def saveIvfPqIndex(index: DataFrame, path: String, append: Boolean = false,
                     targetRowsPerFile: Long = DefaultTargetRowsPerFile)
      : Unit =
    saveKind(ivfPqKind, index, path, append = append,
      targetRowsPerFile = targetRowsPerFile)

  /** Load an IVF-PQ codes index for [[IvfPq.topKFromIndex]]. */
  def loadIvfPqIndex(spark: SparkSession, path: String): DataFrame =
    loadKind(ivfPqKind, spark, path)

  def loadIvfPqIndexCached(spark: SparkSession, path: String): DataFrame =
    cachedKind(ivfPqKind, spark, path)

  /** Append re-encoded or reassigned vectors' replacement rows. */
  def appendIvfPqDelta(delta: DataFrame, path: String): Unit =
    appendKind(ivfPqKind, delta, path)

  def forgetIvfPqDelta(deleteIds: DataFrame, path: String): Unit =
    forgetKind(ivfPqKind, deleteIds, path)

  def compactIvfPqIndex(spark: SparkSession, path: String): Unit =
    compactKind(ivfPqKind, spark, path)

  /** Persist a [[LateInteraction.poolSum]] output for
    * [[LateInteraction.maxSimFunnelWith]]; every pool's width is checked
    * against `dims`, which is recorded in the rows. */
  def savePooled(pooled: DataFrame, path: String, dims: Int): Unit =
    saveKind(pooledKind, pooled, path, param = dims)

  /** The recorded `dims` of a pooled artifact; fails fast if shards
    * disagree (partial overwrite / mixed-save dir). */
  def loadPooledParams(spark: SparkSession, path: String): Int = {
    val r = spark.read.parquet(path)
      .agg(f.min(f.col("dims")).cast("int"), f.max(f.col("dims")).cast("int"))
      .head()
    require(!r.isNullAt(0) && r.getInt(0) == r.getInt(1),
      s"loadPooledParams($path): shards disagree on dims — mixed or " +
        "partial save")
    r.getInt(0)
  }

  /** Load a pooled corpus `(id, n_tokens, pool)` for
    * [[LateInteraction.maxSimFunnelWith]]. */
  def loadPooled(spark: SparkSession, path: String): DataFrame =
    loadKind(pooledKind, spark, path).drop("dims")

  def loadPooledCached(spark: SparkSession, path: String): DataFrame =
    cachedLoad(spark, path)(loadPooled(spark, path))

  /** Append a funnel fold-in batch's pooled rows, width-checked against
    * the artifact's recorded dims. */
  def appendPooledDelta(delta: DataFrame, path: String): Unit =
    appendKind(pooledKind, delta, path)

  /** Forget doc ids: without it a deleted doc keeps burning a brute
    * funnel shortlist slot per query per trigger. */
  def forgetPooledDelta(deleteIds: DataFrame, path: String): Unit =
    forgetKind(pooledKind, deleteIds, path)

  def compactPooled(spark: SparkSession, path: String): Unit =
    compactKind(pooledKind, spark, path)

  /** Persist raw `(id, simhash)` signatures pre-banded, with the pHash
    * `blocks` parameter recorded in the rows. */
  def saveBandedSigIndex(sigs: DataFrame, path: String, blocks: Int,
                         numFiles: Int = 0): Unit =
    saveKind(bandedSigsKind, sigs, path, numFiles, param = blocks)

  /** The recorded `blocks` of a banded signature index, from one row. */
  def bandedSigParams(spark: SparkSession, path: String): Int =
    paramOf(spark, path, "blocks")

  def loadBandedSigIndex(spark: SparkSession, path: String): DataFrame =
    loadKind(bandedSigsKind, spark, path)

  def loadBandedSigIndexCached(spark: SparkSession, path: String): DataFrame =
    cachedKind(bandedSigsKind, spark, path)

  /** Append admitted signatures — O(batch·4) rows per trigger. */
  def appendBandedSigsDelta(sigs: DataFrame, path: String): Unit =
    appendKind(bandedSigsKind, sigs, path)

  def forgetBandedSigsDelta(deleteIds: DataFrame, path: String): Unit =
    forgetKind(bandedSigsKind, deleteIds, path)

  def compactBandedSigIndex(spark: SparkSession, path: String,
                            targetRowsPerFile: Long =
                              DefaultTargetRowsPerFile): Unit =
    compactKind(bandedSigsKind, spark, path, targetRowsPerFile)

  /** Persist a kNN-graph edge table ([[Similarity.knnGraph]]-family /
    * [[GraphAnn.insertBySearch]] output), range-sorted by source. */
  def saveGraphIndex(edges: DataFrame, path: String, numFiles: Int = 0): Unit =
    saveKind(graphKind, edges, path, numFiles)

  /** Load a graph index for [[GraphAnn.searchGraph]]. */
  def loadGraphIndex(spark: SparkSession, path: String): DataFrame =
    loadKind(graphKind, spark, path)

  def loadGraphIndexCached(spark: SparkSession, path: String): DataFrame =
    cachedKind(graphKind, spark, path)

  /** Append an insert's changed slice ([[GraphAnn.insertBySearchParts]]'
    * second output); an empty slice writes nothing. */
  def appendGraphDelta(delta: DataFrame, path: String): Unit =
    appendKind(graphKind, delta, path)

  def compactGraphIndex(spark: SparkSession, path: String,
                        targetRowsPerFile: Long =
                          DefaultTargetRowsPerFile): Unit =
    compactKind(graphKind, spark, path, targetRowsPerFile)

  /** Persist an [[Hnsw.buildIndex]] layered graph: a search reads only
    * the layer directories on its path. */
  def saveHnswIndex(layered: DataFrame, path: String,
                    numFiles: Int = 0): Unit =
    saveKind(hnswKind, layered, path, numFiles)

  /** Load a layered index for [[Hnsw.search]]. */
  def loadHnswIndex(spark: SparkSession, path: String): DataFrame =
    loadKind(hnswKind, spark, path)

  def loadHnswIndexCached(spark: SparkSession, path: String): DataFrame =
    cachedKind(hnswKind, spark, path)

  /** Append an insert's changed slice ([[Hnsw.insertWithDelta]]'s
    * second output): loading a delta-appended index equals loading a
    * full rewrite, bit for bit (HnswSpec). */
  def appendHnswDelta(delta: DataFrame, path: String): Unit =
    appendKind(hnswKind, delta, path)

  def compactHnswIndex(spark: SparkSession, path: String,
                       targetRowsPerFile: Long =
                         DefaultTargetRowsPerFile): Unit =
    compactKind(hnswKind, spark, path, targetRowsPerFile)

  /** Persist a flat PQ codes table ([[ProductQuantizer.encode]] output)
    * for [[GraphAnn.searchGraphPq]]. */
  def savePqCodes(codes: DataFrame, path: String, numFiles: Int = 0): Unit =
    saveKind(pqCodesKind, codes, path, numFiles)

  def loadPqCodes(spark: SparkSession, path: String): DataFrame =
    loadKind(pqCodesKind, spark, path)

  def loadPqCodesCached(spark: SparkSession, path: String): DataFrame =
    cachedKind(pqCodesKind, spark, path)

  /** Append new vectors' codes or re-encoded vectors' full code sets. */
  def appendPqCodesDelta(delta: DataFrame, path: String): Unit =
    appendKind(pqCodesKind, delta, path)

  def forgetPqCodesDelta(deleteIds: DataFrame, path: String): Unit =
    forgetKind(pqCodesKind, deleteIds, path)

  def compactPqCodes(spark: SparkSession, path: String,
                     targetRowsPerFile: Long =
                       DefaultTargetRowsPerFile): Unit =
    compactKind(pqCodesKind, spark, path, targetRowsPerFile)

  /** Persist corpus vectors `(vec_id, embedding)` — what lets
    * [[graft.streaming.StreamingAnn.buildGraphPersisted]] keep vector
    * state on disk and do O(batch) work per trigger. */
  def saveVectors(vectors: DataFrame, path: String, numFiles: Int = 0): Unit =
    saveKind(vectorsKind, vectors, path, numFiles)

  def loadVectors(spark: SparkSession, path: String): DataFrame =
    loadKind(vectorsKind, spark, path)

  def loadVectorsCached(spark: SparkSession, path: String): DataFrame =
    cachedKind(vectorsKind, spark, path)

  def appendVectorsDelta(delta: DataFrame, path: String): Unit =
    appendKind(vectorsKind, delta, path)

  def forgetVectorsDelta(deleteIds: DataFrame, path: String): Unit =
    forgetKind(vectorsKind, deleteIds, path)

  def compactVectors(spark: SparkSession, path: String,
                     targetRowsPerFile: Long =
                       DefaultTargetRowsPerFile): Unit =
    compactKind(vectorsKind, spark, path, targetRowsPerFile)

  /** Persist token bags `(doc_id, token_idx, embedding)` — usually the
    * largest float table; the MaxSim rerank's bounded doc-id `isin`
    * ([[LateInteraction.maxSimRerank]]) reads only its docs' row
    * groups. */
  def saveTokens(tokens: DataFrame, path: String, numFiles: Int = 0): Unit =
    saveKind(tokensKind, tokens, path, numFiles)

  def loadTokens(spark: SparkSession, path: String): DataFrame =
    loadKind(tokensKind, spark, path)

  def loadTokensCached(spark: SparkSession, path: String): DataFrame =
    cachedKind(tokensKind, spark, path)

  def appendTokensDelta(delta: DataFrame, path: String): Unit =
    appendKind(tokensKind, delta, path)

  /** Forget whole documents: one tombstone per live token of each. */
  def forgetTokensDelta(spark: SparkSession, deleteDocIds: DataFrame,
                        path: String): Unit =
    forgetKind(tokensKind, deleteDocIds, path)

  def compactTokens(spark: SparkSession, path: String,
                    targetRowsPerFile: Long =
                      DefaultTargetRowsPerFile): Unit =
    compactKind(tokensKind, spark, path, targetRowsPerFile)

  /** Edge endpoints with no live vector — no deletion log needed, the
    * artifacts ARE the log. */
  private def danglingIds(edges: DataFrame, live: DataFrame): DataFrame =
    edges.select(f.col("query_id").as("vec_id"))
      .unionByName(edges.select(f.col("neighbor_id").as("vec_id")))
      .distinct()
      .join(live.select(f.col("vec_id")), Seq("vec_id"), "left_anti")
      .localCheckpoint(true)

  /** CONSOLIDATE a lazily-deleted graph deployment: after
    * [[forgetVectorsDelta]] tombstones the edges still NAME the deleted
    * ids, so the walk cannot expand THROUGH them and recall decays with
    * the deletion fraction. This pass removes the DANGLING ids' rows,
    * re-derives every surviving out-list that lost an edge
    * ([[GraphAnn.graphForgetRepaired]] — a bounded search per affected
    * source, not a rebuild) and rewrites the base through the
    * crash-safe data-sized swap.
    *
    * @return the forget/repair receipts `(vec_id, n_out_removed,
    *         n_in_removed, was_indexed, n_repaired)`, MATERIALIZED
    *         before the swap (a lazy plan would read replaced files) */
  def consolidateGraphArtifact(spark: SparkSession, indexPath: String,
                               vectorsPath: String, entryId: Long,
                               beam: Int, hops: Int, degree: Int,
                               targetRowsPerFile: Long =
                                 DefaultTargetRowsPerFile): DataFrame = {
    val edges = loadGraphIndex(spark, indexPath)
    val live = loadVectors(spark, vectorsPath)
    val dangling = danglingIds(edges, live)
    require(dangling.filter(f.col("vec_id") === entryId).isEmpty,
      s"consolidateGraphArtifact: entry $entryId has no live vector — " +
        "repairs route through the entry; re-seed it before consolidating")
    val (repaired, receipts) = GraphAnn.graphForgetRepaired(
      edges, live, dangling, entryId, beam, hops, degree)
    // deletion-footprint-sized; must not stay lazy across the swap
    val receiptsOut = receipts.localCheckpoint(true)
    // the pre-delete row count sizes the rewrite — an upper bound, so
    // file density errs dense-side by at most the deletion fraction
    rewrite(graphKind, spark, indexPath, repaired, targetRowsPerFile)
    receiptsOut
  }

  /** [[consolidateGraphArtifact]] lifted to the LAYERED artifact:
    * [[Hnsw.forgetRepaired]] repairs per layer (electing a live
    * per-layer repair entry — a deleted global entry degrades, never
    * strands). `maxLevel` is read from the artifact, not trusted from a
    * call site. */
  def consolidateHnswArtifact(spark: SparkSession, indexPath: String,
                              vectorsPath: String, beam: Int, hops: Int,
                              degree: Int, targetRowsPerFile: Long =
                                DefaultTargetRowsPerFile): DataFrame = {
    val layered = loadHnswIndex(spark, indexPath)
    val live = loadVectors(spark, vectorsPath)
    val (repaired, receipts) = Hnsw.forgetRepaired(layered, live,
      danglingIds(layered, live), hnswMaxLevel(spark, indexPath), beam,
      hops, degree)
    val receiptsOut = receipts.localCheckpoint(true)
    rewrite(hnswKind, spark, indexPath, repaired, targetRowsPerFile)
    receiptsOut
  }

  /** The TOP LAYER of a persisted HNSW artifact WITHOUT scanning it:
    * the base's layers are its `layer=N` partition DIRECTORIES (a
    * metadata listing), and only the batch-sized delta generations —
    * which may fold in rows at any layer — are read for rows. A
    * per-trigger guard ([[graft.streaming.StreamingAnn
    * .forgetHnswPersisted]]) must not pay an O(index) aggregation to
    * learn a number the layout already states. */
  def hnswMaxLevel(spark: SparkSession, path: String): Int = {
    val fs = fsOf(spark, path)
    val p = new Path(path)
    val dirLayers = fs.listStatus(p).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case s if s.startsWith("layer=") =>
        s.stripPrefix("layer=").toInt }
    val deltaPath = s"$path/$DeltaDir"
    val deltaLayers =
      if (!hasDataFiles(spark, deltaPath)) Seq.empty[Int]
      else readDeltas(spark, deltaPath)
        .agg(f.max(f.col("layer")))
        .collect().toSeq.filterNot(_.isNullAt(0)).map(_.getInt(0))
    val all = dirLayers ++ deltaLayers
    require(all.nonEmpty, s"hnswMaxLevel($path): no layers found — not " +
      "a layered artifact")
    all.max
  }

  /** The cell-partitioned writer: co-locate each cell before the
    * `partitionBy(centroid_id)` write (else each of P writer tasks opens
    * a file in every cell — P × cells tiny files), SALTED so a cell
    * bigger than `targetRowsPerFile` splits into ⌈cellRows/target⌉ files
    * instead of one unsplittable giant: files scale with CELL size, the
    * [[RangeSorted]] density story inside a pruned cell. Cell row counts
    * come from one aggregate over the input, broadcast back (C-sized). */
  private def saveCellPartitioned(projected: DataFrame, schema: StructType,
                                  path: String, append: Boolean,
                                  targetRowsPerFile: Long): Unit = {
    require(targetRowsPerFile >= 1,
      s"saveCellPartitioned: targetRowsPerFile=$targetRowsPerFile must " +
        "be >= 1")
    val buckets = f.greatest(f.lit(1L),
      f.ceil(f.col("_cell_rows").cast("double") /
        f.lit(targetRowsPerFile.toDouble)).cast("long"))
    val cellCounts = projected.groupBy(f.col("centroid_id"))
      .agg(f.count(f.lit(1)).as("_cell_rows"))
      .withColumn("_buckets", buckets)
      .localCheckpoint(true) // C-sized; read twice below (group count
                             // + broadcast join) — one execution
    val needsSplit = !cellCounts.filter(f.col("_buckets") > 1L).isEmpty
    if (!needsSplit)
      // FAST PATH (no cell above target — the common case): the
      // original one-pass hash co-location, exactly one file per cell
      projected
        .repartition(f.col("centroid_id"))
        .write.mode(if (append) "append" else "overwrite")
        .partitionBy("centroid_id").parquet(path)
    else {
      // one shuffle partition per (cell, salt) group: hashing groups
      // into the session default can merge two into one file; range
      // partitioning sized to the group count keeps each its own task
      val sumRow = cellCounts.agg(f.sum(f.col("_buckets"))).head()
      val groups = (if (sumRow.isNullAt(0)) 1L else sumRow.getLong(0))
        .max(1L).min(Int.MaxValue.toLong).toInt
      projected
        .join(f.broadcast(cellCounts), Seq("centroid_id"))
        .withColumn("_salt", f.pmod(f.xxhash64(f.col("vec_id")),
          f.col("_buckets")))
        .repartitionByRange(groups, f.col("centroid_id"), f.col("_salt"))
        // drop the helper columns AFTER the shuffle — a projection keeps
        // the partitioning, so each task still holds one (cell, salt)
        // group and writes exactly one file into its cell directory
        .select(schema.fields.map(x => f.col(x.name)).toIndexedSeq: _*)
        .write.mode(if (append) "append" else "overwrite")
        .partitionBy("centroid_id").parquet(path)
    }
  }

  /** (fingerprint, reconciled plan) per (session, artifact path) — the
    * cached loads. LRU-bounded ([[MaxCachedLoads]]); every lookup drops
    * entries of stopped sessions, so a long-lived multi-session driver
    * retains no dead session's plans. Access is synchronized on the map
    * (driver-side, one lookup per trigger). */
  private val MaxCachedLoads = 256
  private val loadCache =
    new java.util.LinkedHashMap[String, (String, DataFrame)](16, 0.75f,
      /* accessOrder = */ true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, (String, DataFrame)]): Boolean =
        size() > MaxCachedLoads
    }

  /** Metadata fingerprint of everything that can change a delta-aware
    * load: the root's TOP-LEVEL statuses (a compaction swap replaces the
    * base files) plus `_delta`'s child statuses (an append adds a
    * child). Listing-only; generations are write-once after commit. When
    * it is unchanged, a cached load's reconciled plan (and its pinned
    * file listing) is still valid and the delta localization is reused. */
  private def loadFingerprint(spark: SparkSession, path: String): String = {
    val fs = fsOf(spark, path)
    val out = Seq.newBuilder[String]
    def ls(p: String, prefix: String, depth: Int): Unit = {
      val hp = new Path(p)
      // a directory can vanish between exists and listStatus (a
      // concurrent compaction dropping _delta): treat it as absent —
      // at worst the caller does one uncached load this trigger
      val statuses =
        try {
          if (!fs.exists(hp)) Seq.empty
          else fs.listStatus(hp).toSeq
        } catch { case _: java.io.FileNotFoundException => Seq.empty }
      statuses.foreach { s =>
        val name = prefix + s.getPath.getName
        out += s"$name:${s.getModificationTime}:${s.getLen}"
        // object stores (e.g. S3A) return SYNTHETIC directory statuses
        // (mtime 0): a rewrite inside a layer=/centroid_id= directory
        // would fingerprint identically and serve a stale plan. Descend
        // until real statuses appear, bounded (the deepest layout is
        // batch=/centroid_id=/files); real filesystems never descend.
        if (s.isDirectory && s.getModificationTime == 0L && depth < 4)
          ls(s.getPath.toString, name + "/", depth + 1)
      }
    }
    ls(path, "", 0)
    // _delta children explicitly even on real filesystems
    ls(s"$path/$DeltaDir", "_delta/", 0)
    out.result().sorted.mkString("\n")
  }

  /** Stable per-session cache key: the session's UUID (`private[sql]`
    * in source, public in bytecode — hence the reflective read), else
    * the identity hash, which is also safe: an entry pins its session,
    * so the hash cannot be reused while the entry lives. */
  private def sessionKey(spark: SparkSession): String =
    try spark.getClass.getMethod("sessionUUID").invoke(spark).toString
    catch { case _: ReflectiveOperationException =>
      System.identityHashCode(spark).toString }

  private def cachedLoad(spark: SparkSession, path: String)
                        (load: => DataFrame): DataFrame = {
    val key = sessionKey(spark) + "|" + path
    val fp = loadFingerprint(spark, path)
    val hit = loadCache.synchronized {
      // sweep dead sessions' plans first: a stopped session's cached
      // DataFrame is unusable and pins its whole session state
      val it = loadCache.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getValue._2.sparkSession.sparkContext.isStopped) it.remove()
      }
      loadCache.get(key)
    }
    if (hit != null && hit._1 == fp) hit._2
    else {
      val df = load
      // racing loaders: last one wins, both plans are correct for fp
      loadCache.synchronized { loadCache.put(key, (fp, df)) }
      df
    }
  }

  /** Target per-file row density for DATA-SIZED rewrites
    * ([[RangeSorted]]'s rationale), with no coupling to the session's
    * shuffle default, which is sized for jobs, not for an artifact that
    * outlives them. 2²⁰ edge/code rows ≈ 20-30 MB files: pruning skips
    * most of a file's siblings, and a 100 TB artifact stays well under
    * filesystem listing limits. */
  val DefaultTargetRowsPerFile: Long = 1L << 20

  /** Files for a data-sized rewrite: ceil(rows / target), min 1. */
  def filesForRows(rows: Long, targetRowsPerFile: Long): Int = {
    require(targetRowsPerFile >= 1,
      s"filesForRows: targetRowsPerFile=$targetRowsPerFile must be >= 1")
    math.min(math.max(1L, (rows + targetRowsPerFile - 1) / targetRowsPerFile),
      Int.MaxValue.toLong).toInt
  }

  /** Approximate row count of a delta-capable artifact — base plus
    * pending generations from parquet footers (superseded base rows are
    * double-counted: an over-estimate bounded by the batch-sized
    * deltas). 0 for a missing artifact, so [[compactSwap]] fails with
    * its recovery-pointer message instead of a raw read error. */
  private def approxRows(spark: SparkSession, path: String): Long = {
    // footers read on the driver (zero jobs) up to 1024 files; past
    // that a distributed count reads the same footers in parallel
    def rows(df: DataFrame): Long = {
      val files = df.inputFiles
      if (files.length <= 1024) footerRowCount(spark, files)
      else df.count()
    }
    if (!pathExists(spark, path)) 0L
    else {
      val base = rows(spark.read.parquet(path))
      val deltaPath = s"$path/$DeltaDir"
      val deltas =
        if (hasDataFiles(spark, deltaPath))
          rows(readDeltas(spark, deltaPath))
        else 0L
      base + deltas
    }
  }

  private val DeltaDir = "_delta" // "_"-prefix: hidden from the
                                  // base parquet listing
  private val DeltaSeqCol = "_seq"
  private val DeltaLockDir = "_locks" // one atomically-created marker
                                      // file per claimed generation

  private def pathExists(spark: SparkSession, p: String): Boolean = {
    val hp = new Path(p)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hp)
  }

  private def fsOf(spark: SparkSession, p: String): FileSystem =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Whether `dir` holds at least one DATA file (recursively, skipping
    * "_"/"."-prefixed names — committer markers and lock files): a
    * delta directory that exists but carries only `_SUCCESS`/`_locks`
    * (an aborted or skipped-empty write) must read as "no deltas", not
    * crash `spark.read.parquet` with an unreadable-dir error. */
  private def hasDataFiles(spark: SparkSession, dir: String): Boolean = {
    val fs = fsOf(spark, dir)
    val p = new Path(dir)
    if (!fs.exists(p)) false
    else {
      // the listing returns FULLY-QUALIFIED paths (file:/…); qualify
      // the root the same way or every ancestor check walks past it
      val root = fs.makeQualified(p)
      // bound the ancestor walk by URI-PATH STRING, not Path equality:
      // authority spelling differs across listing APIs, and walking past
      // the root would classify EVERY delta file hidden
      val rootStr = root.toUri.getPath.stripSuffix("/")
      val it = fs.listFiles(p, true)
      var found = false
      while (!found && it.hasNext) {
        val s = it.next()
        val name = s.getPath.getName
        // a file inside a hidden subtree (e.g. _locks/gen-3) must not
        // count either — check every ancestor up to `dir`
        def hiddenAnywhere(q: Path): Boolean =
          if (q == null ||
              q.toUri.getPath.stripSuffix("/") == rootStr) false
          else if (q.getName.startsWith("_") || q.getName.startsWith("."))
            true
          else hiddenAnywhere(q.getParent)
        found = s.isFile && !name.startsWith("_") && !name.startsWith(".") &&
          !hiddenAnywhere(s.getPath.getParent)
      }
      found
    }
  }

  /** Row cap for LOCALIZING the delta slice at load (2¹⁸ rows ≈ a few
    * MB of ids/scores): a `broadcast(plan)` RE-EXECUTES its plan on every
    * action of every consumer (each descent hop), while a LocalRelation
    * broadcasts job-free. Past the cap the load falls back to the
    * distributed reconcile — same rows, lazier shape. */
  private[similarity] val LocalDeltaCap = 1 << 18

  /** Exact row count of parquet files from their FOOTERS, read on the
    * driver — zero Spark jobs (a `count()` was one scheduler round trip
    * per delta-bearing artifact per load). Given a relation's own
    * pinned `inputFiles`, the count and a later collect see the same
    * generation set. */
  private[similarity] def footerRowCount(spark: SparkSession,
                             files: Array[String]): Long = {
    val conf = spark.sessionState.newHadoopConf()
    def one(uri: String): Long = {
      val p = new Path(new java.net.URI(uri))
      val in = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
      try in.getRecordCount finally in.close()
    }
    // many-file artifacts read footers through a small driver-side pool:
    // on object stores each open is 50-100 ms, and a sequential loop over
    // hundreds of files would be slower than the distributed count this
    // replaced (r15 ADVICE); a handful of files stays a plain loop
    if (files.length <= 16) files.foldLeft(0L)((acc, f) => acc + one(f))
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      try {
        import scala.jdk.CollectionConverters._
        val tasks: java.util.List[java.util.concurrent.Callable[Long]] =
          files.toSeq.map[java.util.concurrent.Callable[Long]](f =>
            () => one(f)).asJava
        pool.invokeAll(tasks).asScala.foldLeft(0L)((acc, fut) =>
          acc + fut.get())
      } finally pool.shutdown()
    }
  }

  /** Newest-generation-wins reconcile shared by every delta-capable
    * artifact: for each `keyCols` tuple present in a delta, the
    * highest-generation delta rows replace the base rows; untouched
    * base rows read through verbatim. The delta key set is
    * batch-bounded by contract, so the corpus-sized base passes the
    * anti-join broadcast-style without a shuffle — reconciliation cost
    * scales with the deltas, not the index (and, under
    * [[LocalDeltaCap]], is paid ONCE at load rather than per consumer
    * action). */
  private[similarity] def reconcileDeltas(base: DataFrame, spark: SparkSession,
                              path: String, schema: StructType,
                              keyCols: Seq[String],
                              localCap: Long = LocalDeltaCap.toLong)
      : DataFrame = {
    val deltaPath = s"$path/$DeltaDir"
    if (!hasDataFiles(spark, deltaPath)) base
    else {
      val delta = readDeltas(spark, deltaPath)
      require(delta.schema.fieldNames.contains(DeltaSeqCol),
        s"trained-state at $deltaPath is not a delta artifact: missing " +
          DeltaSeqCol)
      val cols = schema.fields.map(x => f.col(x.name)).toIndexedSeq
      val keyIdx = keyCols.map(schema.fieldNames.indexOf(_))
      val seqIdx = schema.fields.length // _seq appended after the schema
      // the footer count reads the SAME pinned listing the collect will
      // scan, so a generation committed between the two is invisible to
      // both and the cap genuinely bounds the pull
      val deltaRows =
        if (footerRowCount(spark, delta.inputFiles) <= localCap)
          Some(delta.select(cols :+ f.col(DeltaSeqCol): _*).collect())
        else None
      deltaRows match {
        case Some(rows) =>
          // newest-wins in driver memory: one pass keeps each key's
          // max-_seq generation rows, then both sides of the reconcile
          // are LocalRelations — every later action against the loaded
          // index pays only the base scan
          val maxSeq = scala.collection.mutable.HashMap.empty[Seq[Any], Long]
          rows.foreach { r =>
            val k = keyIdx.map(r.get)
            val s = r.getLong(seqIdx)
            if (maxSeq.getOrElse(k, Long.MinValue) < s) maxSeq(k) = s
          }
          import scala.jdk.CollectionConverters._
          val latestRows = rows.iterator.filter(r =>
              maxSeq(keyIdx.map(r.get)) == r.getLong(seqIdx))
            .map(r => org.apache.spark.sql.Row.fromSeq(
              schema.fields.indices.map(r.get)))
            .toSeq
          val latestLocal = spark.createDataFrame(latestRows.asJava, schema)
          val keySchema = StructType(keyCols.map(n =>
            schema.fields(schema.fieldNames.indexOf(n))))
          val keysLocal = spark.createDataFrame(maxSeq.keysIterator
              .map(k => org.apache.spark.sql.Row.fromSeq(k)).toSeq.asJava,
            keySchema)
          base.join(f.broadcast(keysLocal), keyCols, "left_anti")
            .select(cols: _*)
            .unionByName(latestLocal)
        case None =>
          val latestSeq = delta.groupBy(keyCols.map(f.col).toIndexedSeq: _*)
            .agg(f.max(f.col(DeltaSeqCol)).as(DeltaSeqCol))
          val latest = delta
            .join(latestSeq, keyCols :+ DeltaSeqCol)
            .select(cols: _*)
          val keys = latestSeq.select(keyCols.map(f.col).toIndexedSeq: _*)
          base.join(f.broadcast(keys), keyCols, "left_anti")
            .select(cols: _*)
            .unionByName(latest)
      }
    }
  }

  /** How a kind lays out its corpus-sized base. */
  private sealed trait Layout

  /** `repartitionByRange(range)` + `sortWithinPartitions(sort)`: every
    * file carries tight min/max key stats, so a bounded-id `isin` reads
    * only the row groups its ids can touch (`partitionBy` on
    * corpus-cardinal ids would mint a directory per vector). Files: the
    * caller's `numFiles` (0 = shuffle default); data-sized on compaction
    * — the r14 100× leg (SCALE.md) measured search 2.32× at a fixed file
    * count, 1.12× with files ∝ rows. `partitionBy`: one directory per
    * value of a low-cardinality column. Empty `range`: rows as given. */
  private final case class RangeSorted(range: Seq[String], sort: Seq[String],
                                       partitionBy: Option[String] = None)
      extends Layout

  /** `partitionBy(centroid_id)` with hot cells salted into several
    * files ([[saveCellPartitioned]]): a probe of `nprobe` cells is a
    * partition-pruned read of exactly those cells. The partition
    * column's type is inferred on read, so the load checks its presence
    * and casts it. */
  private case object CellPartitioned extends Layout

  /** One delta-capable artifact kind, stated once; the generic lifecycle
    * ([[saveKind]], [[loadKind]], [[appendKind]], [[forgetKind]],
    * [[compactKind]]) runs any descriptor.
    *
    * @param kind      [[detectArtifactKind]] name (shared by the three
    *                  retrieval sub-artifacts, `sub` below the root)
    * @param noun      what a schema-mismatch error says the path is not
    * @param keys      reconcile key: owns its newest generation's row set
    * @param tombstone payload column whose NULL is a tombstone (None: no
    *                  forget)
    * @param localCap  localized-reconcile row cap: 2¹² for embedding rows
    *                  (2¹² × 4096 dims = 64 MB worst case), wider if narrow
    * @param detect    (child dirs, base columns) test, in registry order
    * @param param     one value per artifact: given to the save, read back
    *                  by every append/forget
    * @param fill      tombstone values of non-key, non-payload columns
    * @param input     hook `(op, rows, path, param)` reshaping caller rows
    *                  for "save", "append" or "forget" (key rows) */
  private final case class ArtifactKind(
      kind: String, sub: String, noun: String, schema: StructType,
      keys: Seq[String], tombstone: Option[String], localCap: Long,
      layout: Layout, detect: (Set[String], Set[String]) => Boolean,
      param: Option[String] = None, fill: Map[String, Any] = Map.empty,
      input: Option[(String, DataFrame, String, Int) => DataFrame] = None) {
    def at(root: String): String = if (sub.isEmpty) root else s"$root/$sub"
  }

  /** A BM25 artifact-set root: directory-shaped, so tried first. */
  private val retrievalRoot: (Set[String], Set[String]) => Boolean =
    (d, _) => Set("postings", "terms", "doclens", "stats").subsetOf(d)

  /** [[graft.text.Retrieval]] postings, range-sorted by (term, doc_id). */
  private val postingsKind = ArtifactKind("retrieval", "postings",
    "retrieval-postings", postingsSchema, Seq("term", "doc_id"), None,
    LocalDeltaCap.toLong, RangeSorted(Seq("term", "doc_id"),
      Seq("term", "doc_id")), retrievalRoot)

  /** Per-term document frequencies; a fold-in's accumulated df row
    * supersedes the base row. */
  private val termsKind = ArtifactKind("retrieval", "terms",
    "retrieval-terms", retrievalTermsSchema, Seq("term"), None,
    LocalDeltaCap.toLong, RangeSorted(Seq("term"), Seq("term")), retrievalRoot)

  /** Document lengths — the serve's membership side: a NULL-dl tombstone
    * removes the doc from results at once. */
  private val docLensKind = ArtifactKind("retrieval", "doclens",
    "retrieval-doclens", docLensSchema, Seq("doc_id"), Some("dl"),
    LocalDeltaCap.toLong, RangeSorted(Seq("doc_id"), Seq("doc_id")),
    retrievalRoot)

  /** Layered graph: one `layer=` directory per layer, each range-sorted
    * by source like the flat graph; the newest generation wins per
    * (layer, source). */
  private val hnswKind = ArtifactKind("hnsw", "", "layered-graph",
    hnswIndexSchema, Seq("layer", "query_id"), None, LocalDeltaCap.toLong,
    RangeSorted(Seq("layer", "query_id"), Seq("layer", "query_id", "rank"),
      Some("layer")), (d, _) => d.exists(_.startsWith("layer=")))

  /** IVF-PQ codes: numSub ints per row, so the scalar-row cap halved. */
  private val ivfPqKind = ArtifactKind("ivfpq", "", "IVF-PQ-index",
    ivfPqIndexSchema, Seq("vec_id"), Some("codes"), 1L << 17, CellPartitioned,
    (d, c) => d.exists(_.startsWith("centroid_id=")) && c("codes"),
    fill = Map("centroid_id" -> -1L))

  /** IVF codes index: the flat probe scores the index's OWN embeddings,
    * so a tombstone here (not only on the vectors artifact) is what
    * keeps a deleted id from being served. */
  private val ivfKind = ArtifactKind("ivf", "", "IVF-index",
    ivfIndexSchema, Seq("vec_id"), Some("embedding"), 1L << 12,
    CellPartitioned,
    (d, c) => d.exists(_.startsWith("centroid_id=")) && c("embedding"),
    fill = Map("centroid_id" -> -1L))

  /** Flat kNN-graph edges; a re-touched source's out-list is replaced
    * whole. */
  private val graphKind = ArtifactKind("graph", "", "graph-index",
    graphIndexSchema, Seq("query_id"), None, LocalDeltaCap.toLong,
    RangeSorted(Seq("query_id"), Seq("query_id", "rank")),
    (_, c) => Seq("query_id", "rank", "neighbor_id").forall(c))

  /** Flat PQ codes (DiskANN cold side): keyed per `vec_id`, so ONE
    * `(vec_id, 0, NULL)` tombstone outranks the id's whole code set. */
  private val pqCodesKind = ArtifactKind("pqcodes", "", "PQ-codes",
    pqCodesSchema, Seq("vec_id"), Some("code"), LocalDeltaCap.toLong,
    RangeSorted(Seq("vec_id"), Seq("vec_id", "sub")),
    (_, c) => Seq("vec_id", "sub", "code").forall(c), fill = Map("sub" -> 0))

  /** Row cap for localizing a deletion id list — single-long rows, so
    * the [[Similarity]] shortlist cap's rationale applies. */
  private val MaxLocalForgetIds = 1 << 17

  /** Late-interaction token bags, keyed per (doc_id, token_idx): a
    * SHORTER re-ingested bag leaves the old higher indices as orphans,
    * so a changed bag is forgotten first, then appended. A forget names
    * doc ids; the hook enumerates their live token keys, id-pruned (the
    * deletion list localizes into an `isin` on the doc_id-sorted scan;
    * past [[MaxLocalForgetIds]] a broadcast left-semi). */
  private val tokensKind: ArtifactKind = ArtifactKind("tokens", "",
    "token-bag", tokensSchema, Seq("doc_id", "token_idx"), Some("embedding"),
    1L << 12, RangeSorted(Seq("doc_id"), Seq("doc_id", "token_idx")),
    (_, c) => Seq("doc_id", "token_idx", "embedding").forall(c),
    input = Some((op, rows, path, _) => if (op != "forget") rows else {
      val live = loadKind(tokensKind, rows.sparkSession, path)
      val ids = rows.select(f.col("doc_id").cast("long").as("doc_id"))
      val local = ids.limit(MaxLocalForgetIds + 1).collect()
      if (local.length > MaxLocalForgetIds)
        live.join(f.broadcast(ids), Seq("doc_id"), "left_semi")
      else live.filter(f.col("doc_id").isin(
        local.map(_.getLong(0)).distinct.toIndexedSeq: _*))
    }))

  /** Pooled corpus for the MaxSim funnel's coarse stage. `dims` rides in
    * the rows, and every written pool's width is checked against it: a
    * width-drifted row would make the serving dot_codes silently null.
    * Not range-sorted — the brute coarse stage scans it whole. */
  private val pooledKind = ArtifactKind("pooled", "", "pooled-corpus",
    pooledSchema, Seq("id"), Some("pool"), 1L << 15, RangeSorted(Nil, Nil),
    (_, c) => Seq("id", "n_tokens", "pool", "dims").forall(c),
    param = Some("dims"), fill = Map("n_tokens" -> 0L),
    input = Some((op, rows, _, dims) => if (op == "forget") rows else {
      require(dims >= 1, s"savePooled: dims=$dims must be >= 1")
      rows.select(f.col("id").cast("long").as("id"),
        f.col("n_tokens").cast("long").as("n_tokens"),
        f.when(f.size(f.col("pool")) === dims, f.col("pool"))
          .otherwise(f.raise_error(f.concat(f.lit(
            s"savePooled contract ($op): pool width <> dims=$dims for id "),
            f.col("id").cast("string"))).cast("array<long>")).as("pool"))
    }))

  /** pHash/simhash signatures PRE-BANDED: one row per (signature, 16-bit
    * block), sorted by `bkey` so a probe batch's bucket `isin` reads only
    * its buckets' row groups. Keyed per `id`: a re-admitted signature's
    * band rows replace the old set, and ONE `(-1, id, NULL)` row
    * tombstones it. Caller rows are raw `(id, simhash)`. */
  private val bandedSigsKind = ArtifactKind("bandedsigs", "",
    "banded-signature", bandedSigSchema, Seq("id"), Some("simhash"),
    LocalDeltaCap.toLong, RangeSorted(Seq("bkey", "id"), Seq("bkey", "id")),
    (_, c) => Seq("bkey", "id", "simhash", "blocks").forall(c),
    param = Some("blocks"), fill = Map("bkey" -> -1L),
    input = Some((op, rows, _, blocks) => if (op == "forget") rows else {
      require(blocks >= 1 && blocks <= 60,
        s"saveBandedSigIndex: blocks=$blocks")
      Similarity.bandKeys(rows.select(f.col("id").cast("long").as("id"),
        f.col("simhash").cast("long").as("simhash")))
    }))

  /** Corpus vectors, the float side of a persisted ANN deployment,
    * range-sorted by `vec_id` for the walks' and fold-ins' bounded id
    * probes. Tried last: the IVF embedding shape matches it too. */
  private val vectorsKind = ArtifactKind("vectors", "", "corpus-vectors",
    vectorsSchema, Seq("vec_id"), Some("embedding"), 1L << 12,
    RangeSorted(Seq("vec_id"), Seq("vec_id")),
    (_, c) => Seq("vec_id", "embedding").forall(c))

  /** Every delta-capable kind, in [[detectArtifactKind]]'s order
    * (directory layouts first, then the narrower column sets). */
  private val registry: Seq[ArtifactKind] = Seq(postingsKind, termsKind,
    docLensKind, hnswKind, ivfPqKind, ivfKind, graphKind, pqCodesKind,
    tokensKind, pooledKind, bandedSigsKind, vectorsKind)

  /** The descriptors of a [[detectArtifactKind]] kind, roots first. */
  private def partsOf(kind: String): Seq[ArtifactKind] = {
    val parts = registry.filter(_.kind == kind)
    require(parts.nonEmpty, s"unknown artifact kind $kind")
    parts
  }

  /** Caller rows as the kind stores them: the input hook, then the
    * recorded parameter. */
  private def stored(k: ArtifactKind, op: String, rows: DataFrame,
                     path: String, param: Int): DataFrame = {
    val shaped = k.input.fold(rows)(_(op, rows, path, param))
    k.param.fold(shaped)(c => shaped.withColumn(c, f.lit(param)))
  }

  /** The recorded parameter from ONE row: the save writes one value on
    * every row, so any row speaks for the base — where a full min/max
    * sweep ([[loadPooledParams]]) would be an O(corpus) job per batch. */
  private def paramOf(spark: SparkSession, path: String, c: String): Int = {
    val r = spark.read.parquet(path).select(f.col(c).cast("int"))
      .limit(1).collect()
    require(r.nonEmpty, s"trained-state at $path is empty: no $c recorded")
    r.head.getInt(0)
  }

  private def saveKind(k: ArtifactKind, rows: DataFrame, path: String,
                       numFiles: Int = 0, param: Int = 0,
                       append: Boolean = false,
                       targetRowsPerFile: Long = DefaultTargetRowsPerFile)
      : Unit =
    write(k, stored(k, "save", rows, path, param), path, numFiles, append,
      targetRowsPerFile)

  /** Write a base in the kind's layout (schema columns only). */
  private def write(k: ArtifactKind, rows: DataFrame, path: String,
                    numFiles: Int, append: Boolean = false,
                    targetRowsPerFile: Long = DefaultTargetRowsPerFile)
      : Unit = {
    val projected = rows.select(k.schema.fields.map(x =>
      f.col(x.name).cast(x.dataType).as(x.name)).toIndexedSeq: _*)
    k.layout match {
      case CellPartitioned => saveCellPartitioned(projected, k.schema, path,
        append, targetRowsPerFile)
      case RangeSorted(range, sort, partitionBy) =>
        val laid =
          if (range.isEmpty) projected
          else (if (numFiles > 0)
                  projected.repartitionByRange(numFiles, range.map(f.col): _*)
                else projected.repartitionByRange(range.map(f.col): _*))
            .sortWithinPartitions(sort.head, sort.tail: _*)
        val w = laid.write.mode("overwrite")
        partitionBy.fold(w)(c => w.partitionBy(c)).parquet(path)
    }
  }

  /** Schema-checked base + newest-wins deltas ([[reconcileDeltas]]),
    * tombstones dropped after winning: the load never serves a deleted
    * key, and a later append of the key supersedes its tombstone. */
  private def loadKind(k: ArtifactKind, spark: SparkSession,
                       path: String): DataFrame = {
    val inferred =
      if (k.layout == CellPartitioned) Set("centroid_id") else Set.empty[String]
    val live = reconcileDeltas(load(spark, k.schema, path, k.noun, inferred),
      spark, path, k.schema, k.keys, k.localCap)
    k.tombstone.fold(live)(c => live.filter(f.col(c).isNotNull))
  }

  private def cachedKind(k: ArtifactKind, spark: SparkSession,
                         path: String): DataFrame =
    cachedLoad(spark, path)(loadKind(k, spark, path))

  /** One delta generation of caller rows — write cost scales with the
    * batch, not the artifact. Returns the materialized slice. */
  private def appendKind(k: ArtifactKind, rows: DataFrame,
                         path: String): DataFrame = {
    val param = k.param.fold(0)(paramOf(rows.sparkSession, path, _))
    appendDeltaGeneration(stored(k, "append", rows, path, param), path,
      k.schema)
  }

  /** One TOMBSTONE generation — O(deletions); ordered (a later append of
    * the key supersedes it); folded out of the bytes by the next
    * compaction, which rewrites the already-filtered load. Forgetting a
    * never-saved id writes a harmless row. */
  private def forgetKind(k: ArtifactKind, ids: DataFrame,
                         path: String): Unit = {
    val param = k.param.fold(0)(paramOf(ids.sparkSession, path, _))
    val keyed = stored(k, "forget", ids, path, param)
    appendDeltaGeneration(keyed.select(k.schema.fields.map { x =>
      val c =
        if (k.keys.contains(x.name) || k.param.contains(x.name))
          f.col(x.name)
        else f.lit(k.fill.getOrElse(x.name, null))
      c.cast(x.dataType).as(x.name)
    }.toIndexedSeq: _*), path, k.schema)
  }

  /** Fold pending generations into the base, crash-safely
    * ([[compactSwap]]). */
  private def compactKind(k: ArtifactKind, spark: SparkSession, path: String,
                          targetRowsPerFile: Long = DefaultTargetRowsPerFile)
      : Unit =
    rewrite(k, spark, path, loadKind(k, spark, path), targetRowsPerFile)

  /** Swap `live` in as the base of `path` in the kind's layout; a
    * range-sorted rewrite is DATA-SIZED (files from the artifact's rows
    * at `targetRowsPerFile`), a cell-partitioned one splits hot cells at
    * the same target. */
  private def rewrite(k: ArtifactKind, spark: SparkSession, path: String,
                      live: => DataFrame, targetRowsPerFile: Long): Unit = {
    val files = k.layout match {
      case RangeSorted(range, _, _) if range.nonEmpty =>
        filesForRows(approxRows(spark, path), targetRowsPerFile)
      case _ => 0
    }
    compactSwap(spark, path, live,
      (df, p) => write(k, df, p, files, targetRowsPerFile = targetRowsPerFile))
  }

  /** Claimed-generation numbers visible as lock markers. */
  private def lockNumbers(fs: FileSystem, deltaPath: String): Seq[Long] = {
    val lockDir = new Path(s"$deltaPath/$DeltaLockDir")
    if (!fs.exists(lockDir)) Seq.empty
    else fs.listStatus(lockDir).toSeq.map(_.getPath.getName)
      .collect { case s if s.startsWith("gen-") =>
        s.stripPrefix("gen-").toLong }
  }

  /** Committed-generation numbers visible as `gen-N` directories. */
  private def genDirNumbers(fs: FileSystem, deltaPath: String): Seq[Long] = {
    val p = new Path(deltaPath)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case s if s.startsWith("gen-") =>
        s.stripPrefix("gen-").toLong }
  }

  /** Claim-FLOOR markers (`_locks/floor-N`): a compaction pre-seeds the
    * rewritten tree with the highest number it folded, so
    * [[claimGeneration]] never reuses a folded number. Without it, a
    * crash after the swap but before the carryover would restart
    * numbering at gen-1, and the stranded-trash recovery would carry
    * higher-numbered stale gens back in over a newer acknowledged
    * append. Floors are a numbering lower bound, never pending work
    * ([[deltaGenerations]] ignores them). */
  private def floorNumbers(fs: FileSystem, deltaPath: String): Seq[Long] = {
    val lockDir = new Path(s"$deltaPath/$DeltaLockDir")
    if (!fs.exists(lockDir)) Seq.empty
    else fs.listStatus(lockDir).toSeq.map(_.getPath.getName)
      .collect { case s if s.startsWith("floor-") =>
        s.stripPrefix("floor-").toLong }
  }

  /** Fail loudly on the pre-r13 delta layout (files appended directly
    * under `_delta` / `layer=` directories), which the recursive
    * reconcile read would silently drop (MIGRATION.md): a data file
    * outside every `gen-N` subtree. */
  private def requireGenLayout(spark: SparkSession,
                               deltaPath: String): Unit = {
    val fs = fsOf(spark, deltaPath)
    if (hasDataFiles(spark, deltaPath)) {
      val root = fs.makeQualified(new Path(deltaPath))
      // string-path containment, not Path equality — qualified URIs
      // differ in authority spelling across listing APIs (the
      // hasDataFiles makeQualified lesson, one level harder)
      val rootStr = root.toUri.getPath.stripSuffix("/")
      val it = fs.listFiles(root, true)
      while (it.hasNext) {
        val s = it.next()
        val name = s.getPath.getName
        if (s.isFile && !name.startsWith("_") && !name.startsWith(".")) {
          val fp = s.getPath.toUri.getPath
          val top =
            if (fp.startsWith(rootStr + "/"))
              fp.substring(rootStr.length + 1).split('/').headOption
            else None
          // hidden top-level subtrees (_locks, committer leftovers)
          // are not data; top == the file itself means data directly
          // under _delta — the legacy flat-append shape
          val hiddenTop = top.exists(t =>
            t.startsWith("_") || t.startsWith("."))
          require(hiddenTop ||
              top.exists(t => t.startsWith("gen-") && t != name),
            s"trained-state at $deltaPath carries deltas in the pre-r13 " +
              "flat-append layout (data outside gen-N directories) — " +
              "compact the artifact with the code that wrote it before " +
              "upgrading; see MIGRATION.md")
        }
      }
    }
  }

  /** The number of delta generations CLAIMED under a saved artifact —
    * the compaction-policy input (reconcile cost at load grows with
    * it). FS metadata only: the distinct union of lock markers and
    * committed `gen-N` directories, so a claimed-then-failed writer and
    * a generation whose lock was lost both count. */
  def deltaGenerations(spark: SparkSession, path: String): Long = {
    val deltaPath = s"$path/$DeltaDir"
    requireGenLayout(spark, deltaPath)
    val fs = fsOf(spark, deltaPath)
    (lockNumbers(fs, deltaPath) ++ genDirNumbers(fs, deltaPath))
      .distinct.size.toLong
  }

  /** Default `maxGenerations` for policy-driven compaction: 16 keeps
    * the per-load delta slice trivially bounded while amortizing each
    * corpus-sized fold over 16 batch-sized appends; raise it for
    * write-heavy loops, lower it for read-latency-sensitive ones. */
  val DefaultMaxGenerations = 16L

  /** Compact `path` with `compact` once the claimed-generation count
    * reaches `maxGenerations`; returns whether it ran. A serving loop
    * calls this after each fold-in. */
  def compactIfNeeded(spark: SparkSession, path: String, maxGenerations: Long)
                     (compact: (SparkSession, String) => Unit): Boolean = {
    require(maxGenerations >= 1,
      s"compactIfNeeded: maxGenerations=$maxGenerations must be >= 1")
    if (deltaGenerations(spark, path) < maxGenerations) false
    else { compact(spark, path); true }
  }

  /** Bytes under the committed `gen-N` directories of an artifact's
    * `_delta` (FS metadata only) — the size-tiered policy's delta-side
    * input. */
  private def deltaBytes(fs: FileSystem, deltaPath: String): Long =
    genDirNumbers(fs, deltaPath).foldLeft(0L) { (acc, n) =>
      acc + fs.getContentSummary(new Path(s"$deltaPath/gen-$n")).getLength
    }

  /** Bytes of the artifact's BASE (everything under `path` except the
    * `_delta` tree and hidden siblings) — the size-tiered policy's
    * base-side input. */
  private def baseBytes(fs: FileSystem, path: String): Long = {
    val p = new Path(path)
    if (!fs.exists(p)) 0L
    else fs.listStatus(p).toSeq
      .filterNot(s => s.getPath.getName.startsWith("_") ||
        s.getPath.getName.startsWith("."))
      .foldLeft(0L)((acc, s) =>
        acc + fs.getContentSummary(s.getPath).getLength)
  }

  /** MERGE the committed delta generations of a delta-capable artifact
    * into ONE generation — the size-tiered (LSM-style minor) compaction:
    * write cost scales with the DELTAS, never the corpus-sized base, so
    * a long-running fold-in fleet stops paying an
    * O(artifact) rewrite every [[DefaultMaxGenerations]] appends. The
    * merged generation carries the newest-wins survivors of the merged
    * gens — for each key, the row-SET of its highest-generation delta —
    * restamped with the merged generation's own (freshly claimed,
    * strictly higher) number M, so:
    *
    *  - reconcile(base, gen-M) == reconcile(base, old gens) exactly
    *    (the load reconcile would have picked the same rows);
    *  - a crash between committing gen-M and deleting the old gens is
    *    harmless: per key, max-_seq is M, so the old copies lose the
    *    reconcile deterministically — no duplicates, no stale winners;
    *  - a generation committed CONCURRENTLY (claimed after M) keeps
    *    winning over the merged rows, exactly as it won over the
    *    originals;
    *  - a generation claimed BEFORE M that the listing missed (a fold-in
    *    still writing, or committed after the listing) makes the merge
    *    release M and return false: restamped rows would outrank it.
    *    [[compactOrMergeIfNeeded]] then takes the full fold. A lock
    *    left by a crashed writer keeps deferring merges the same way.
    *
    * The merged generation is written ASIDE (hidden `.merge-tmp-M`),
    * verified (`_SUCCESS`), renamed into place, and only then are the
    * merged `gen-N` directories and their spent locks dropped — at no
    * point does a reader see a partial generation or miss a committed
    * one. Same single-maintainer contract as [[compactSwap]]: one
    * merge/compaction at a time per artifact.
    *
    * Returns false (no-op) when fewer than two committed generations
    * exist or a lower claim is outstanding. */
  def mergeDeltaGenerations(spark: SparkSession, path: String,
                            schema: StructType,
                            keyCols: Seq[String]): Boolean = {
    val deltaPath = s"$path/$DeltaDir"
    requireGenLayout(spark, deltaPath)
    val fs = fsOf(spark, deltaPath)
    // stale pre-rename work from a crashed merge: base + gens intact,
    // safe to discard
    if (fs.exists(new Path(deltaPath)))
      fs.listStatus(new Path(deltaPath)).toSeq
        .filter(_.getPath.getName.startsWith(".merge-tmp-"))
        .foreach(s => fs.delete(s.getPath, true))
    val gens0 = genDirNumbers(fs, deltaPath).sorted
    if (gens0.size < 2) return false
    val m = claimGeneration(spark, deltaPath) // > every gens0 number
    // a fold-in that claimed a number below m but is not in gens0 (its
    // gen-N uncommitted, or committed after the listing) would lose
    // every overlapping key to rows restamped m: release m and defer to
    // the full fold, which carries late generations over
    if ((lockNumbers(fs, deltaPath) ++ genDirNumbers(fs, deltaPath))
          .exists(n => n < m && !gens0.contains(n))) {
      fs.delete(new Path(s"$deltaPath/$DeltaLockDir/gen-$m"), false)
      return false
    }
    val merged = spark.read
      .option("recursiveFileLookup", "true")
      .parquet(gens0.map(n => s"$deltaPath/gen-$n"): _*)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(f.col).toIndexedSeq: _*)
    val sortCols = schema.fields.map(_.name).toIndexedSeq
    val tmp = new Path(s"$deltaPath/.merge-tmp-$m")
    merged
      .withColumn("_mx", f.max(f.col(DeltaSeqCol)).over(w))
      .filter(f.col(DeltaSeqCol) === f.col("_mx"))
      .select(schema.fields.map(x => f.col(x.name)).toIndexedSeq: _*)
      .withColumn(DeltaSeqCol, f.lit(m))
      .repartition(1)
      .sortWithinPartitions(sortCols.head, sortCols.tail: _*)
      .write.parquet(tmp.toString)
    require(fs.exists(new Path(tmp, "_SUCCESS")),
      s"mergeDeltaGenerations: merged generation at $tmp did not commit " +
        s"(_SUCCESS missing) — original generations at $deltaPath are " +
        "untouched")
    require(fs.rename(tmp, new Path(s"$deltaPath/gen-$m")),
      s"mergeDeltaGenerations: could not activate gen-$m — merged tree " +
        s"left at $tmp, original generations untouched")
    // drop the merged gens and their spent locks; a crash mid-delete
    // leaves leftovers that lose every reconcile (seq < M) and are
    // re-merged away by the next pass
    gens0.foreach { n =>
      fs.delete(new Path(s"$deltaPath/gen-$n"), true)
      fs.delete(new Path(s"$deltaPath/$DeltaLockDir/gen-$n"), false)
    }
    true
  }

  /** The generation-merge for a [[detectArtifactKind]] kind — the
    * size-tiered counterpart of [[compactorFor]]; true when any of the
    * kind's artifacts merged. */
  def mergerFor(kind: String): (SparkSession, String) => Boolean = {
    val parts = partsOf(kind)
    (s, p) => parts.map(k =>
      mergeDeltaGenerations(s, k.at(p), k.schema, k.keys)).exists(identity)
  }

  /** Merge (O(deltas) written) while the pending deltas are under
    * base/[[MergeSizeRatio]] — each byte is re-merged ~log₂(base/delta)
    * times at most; past it, the full fold (O(base + deltas)) also
    * restores the data-sized file layout. */
  val MergeSizeRatio = 8L

  /** Size-tiered maintenance: once the claimed generation count reaches
    * `maxGenerations`, MERGE the generations while they are small
    * relative to the base (and no lower claim is outstanding), else run
    * the full `compact`. Returns "none" | "merged" | "compacted".
    * [[maintainRoot]] runs this; [[compactIfNeeded]] always folds. */
  def compactOrMergeIfNeeded(spark: SparkSession, path: String,
                             maxGenerations: Long, kind: String)
                            (compact: (SparkSession, String) => Unit)
      : String = {
    require(maxGenerations >= 1,
      s"compactOrMergeIfNeeded: maxGenerations=$maxGenerations must " +
        "be >= 1")
    val fs = fsOf(spark, path)
    // a retrieval ROOT carries no _delta of its own — policy inputs
    // are the max/sums over its delta-bearing sub-artifacts
    val subs = partsOf(kind).map(_.at(path))
    val gens = subs.map(deltaGenerations(spark, _)).max
    if (gens < maxGenerations) "none"
    else {
      val db = subs.map(s => deltaBytes(fs, s"$s/$DeltaDir")).sum
      val bb = subs.map(baseBytes(fs, _)).sum
      // a merge leaves ONE live generation, so it only satisfies the
      // policy when the threshold is at least 2
      if (maxGenerations >= 2 && db * MergeSizeRatio < bb &&
          mergerFor(kind)(spark, path))
        "merged"
      else { compact(spark, path); "compacted" }
    }
  }

  /** One artifact's row in a [[maintainRoot]] sweep: what was found
    * at `path`, how many generations it carried when inspected, and
    * whether this sweep compacted it. `kind` None = unclassifiable
    * layout (left untouched — the receipt is the loud signal). */
  final case class MaintenanceReceipt(path: String, kind: Option[String],
                                      generations: Long, compacted: Boolean)

  /** Best-effort artifact-KIND detection from layout + schema — the
    * [[maintainRoot]] dispatcher: the first registry descriptor whose
    * test accepts the path's child directories and base columns. None
    * when nothing matches — a sweep must never guess a compactor. */
  def detectArtifactKind(spark: SparkSession, path: String): Option[String] = {
    val fs = fsOf(spark, path)
    val p = new Path(path)
    if (!fs.exists(p)) None
    else {
      val childDirs = fs.listStatus(p).toSeq.filter(_.isDirectory)
        .map(_.getPath.getName).toSet
      val fields =
        try spark.read.parquet(path).schema.fieldNames.toSet
        catch { case scala.util.control.NonFatal(_) => Set.empty[String] }
      registry.find(_.detect(childDirs, fields)).map(_.kind)
    }
  }

  /** The compaction for a [[detectArtifactKind]] kind. */
  def compactorFor(kind: String): (SparkSession, String) => Unit = {
    val parts = partsOf(kind)
    (s, p) => parts.foreach(k => compactKind(k, s, k.at(p)))
  }

  /** ROOT-SWEEPING maintenance: every artifact directory directly under
    * `root` whose claimed-generation count reached `maxGenerations` is
    * merged or compacted ([[compactOrMergeIfNeeded]]) — the fleet pass
    * for artifacts no serving loop owns. Skips hidden entries and
    * `.compact-tmp`/`.compact-trash` siblings. An unclassifiable
    * artifact is NEVER touched (its receipt is the loud signal); a
    * pre-r13 delta layout aborts the sweep rather than being skipped. */
  def maintainRoot(spark: SparkSession, root: String,
                   maxGenerations: Long = DefaultMaxGenerations)
      : Seq[MaintenanceReceipt] = {
    require(maxGenerations >= 1,
      s"maintainRoot: maxGenerations=$maxGenerations must be >= 1")
    val fs = fsOf(spark, root)
    val rp = new Path(root)
    if (!fs.exists(rp)) Seq.empty
    else fs.listStatus(rp).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith(".") ||
        n.endsWith(".compact-tmp") || n.endsWith(".compact-trash"))
      .sorted
      .map { name =>
        val p = s"$root/$name"
        val kind = detectArtifactKind(spark, p)
        // a retrieval ROOT carries no _delta of its own — its pending
        // state is the max over the delta-bearing sub-artifacts
        val gens = kind.fold(deltaGenerations(spark, p))(k =>
          partsOf(k).map(x => deltaGenerations(spark, x.at(p))).max)
        if (gens < maxGenerations)
          MaintenanceReceipt(p, kind, gens, compacted = false)
        else kind match {
          case Some(k) =>
            val action = compactOrMergeIfNeeded(spark, p,
              maxGenerations, k)(compactorFor(k))
            MaintenanceReceipt(p, Some(k), gens, compacted = action != "none")
          case None =>
            MaintenanceReceipt(p, None, gens, compacted = false)
        }
      }
  }

  /** Atomically claim the next delta generation number: generation N is
    * owned by whoever CREATES `_delta/_locks/gen-N` first, so two
    * concurrent fold-ins can never write the same `_seq` and the
    * max-generation reconcile never serves two writers' rows for one
    * key. The floor is the max over lock markers AND committed `gen-N`
    * directories (pure FS metadata — a generation whose lock was lost
    * still blocks its number). On stores without atomic create (some
    * object stores) this degrades to the documented single-writer
    * contract. */
  private def claimGeneration(spark: SparkSession, deltaPath: String): Long = {
    requireGenLayout(spark, deltaPath)
    val fs = fsOf(spark, deltaPath)
    val lockDir = new Path(s"$deltaPath/$DeltaLockDir")
    fs.mkdirs(lockDir)
    // floor markers participate in the lower bound but never in the
    // generation COUNT: a compacted tree carries only its floor, so
    // numbering is monotone across compactions (and across the
    // post-swap-crash recovery) while deltaGenerations reads 0
    val seen = lockNumbers(fs, deltaPath) ++ genDirNumbers(fs, deltaPath) ++
      floorNumbers(fs, deltaPath)
    val floor = if (seen.isEmpty) 0L else seen.max
    // atomic create-if-absent: Hadoop's LOCAL filesystem checks then
    // creates (two claimants can both "succeed"), so file: goes through
    // the JDK's atomic createNewFile. A throw also means "claim failed,
    // try the next" — BOUNDED, so disk-full/permissions surface.
    def tryClaim(n: Long): Boolean = {
      val p = new Path(lockDir, s"gen-$n")
      try {
        if (fs.getScheme == "file")
          new java.io.File(fs.makeQualified(p).toUri.getPath)
            .createNewFile()
        else fs.createNewFile(p)
      } catch { case _: java.io.IOException => false }
    }
    var next = floor + 1
    var attempts = 0
    while (!tryClaim(next)) {
      next += 1
      attempts += 1
      require(attempts < MaxClaimAttempts,
        s"claimGeneration: $MaxClaimAttempts consecutive claim failures " +
          s"under $lockDir — the filesystem is rejecting creates (disk " +
          "full / permissions?), not losing races")
    }
    next
  }

  /** Consecutive failed claim attempts before concluding the
    * filesystem is broken rather than busy: real contention resolves
    * in a handful of tries (each failure means ANOTHER writer claimed
    * that number). */
  private val MaxClaimAttempts = 10000

  /** The shared delta-generation writer: skip EMPTY slices (a
    * `_SUCCESS`-only directory bricks naive readers), claim a generation
    * atomically, stamp rows with it, and write it into ITS OWN
    * directory (`_delta/gen-N/`): two jobs appending into one directory
    * share its `_temporary` staging and each commit/abort deletes the
    * other's files. A generation is one sorted, batch-bounded file with
    * every schema column as data (no `partitionBy`), so the recursive
    * reconcile read keeps all columns. */
  private def appendDeltaGeneration(delta: DataFrame, path: String,
                                    schema: StructType): DataFrame = {
    val spark = delta.sparkSession
    val deltaPath = s"$path/$DeltaDir"
    val cols = schema.fields.map(x =>
      f.col(x.name).cast(x.dataType).as(x.name))
    // ONE execution of the (possibly expensive) slice plan: both the
    // emptiness probe and the write read the checkpointed rows, which
    // are returned for a caller that needs the slice again
    // (foldInRetrieval's touched-vocabulary aggregation)
    val projected = delta.select(cols.toIndexedSeq: _*)
      .localCheckpoint(true)
    if (projected.isEmpty) () // nothing changed — no generation
    else {
      val next = claimGeneration(spark, deltaPath)
      val sortCols = schema.fields.map(_.name).toIndexedSeq
      projected.withColumn(DeltaSeqCol, f.lit(next))
        .repartition(1)
        .sortWithinPartitions(sortCols.head, sortCols.tail: _*)
        .write.parquet(s"$deltaPath/gen-$next")
    }
    projected
  }

  /** Read every delta generation under an artifact, all schema columns
    * plus [[DeltaSeqCol]], by recursive lookup (generations are
    * self-contained files), after [[requireGenLayout]]. */
  private[similarity] def readDeltas(spark: SparkSession, deltaPath: String): DataFrame = {
    requireGenLayout(spark, deltaPath)
    spark.read.option("recursiveFileLookup", "true").parquet(deltaPath)
  }

  /** Post-rewrite / pre-swap hook for the concurrency spec (injects a
    * "generation committed during the compaction rewrite"). Never set
    * outside tests. */
  private[similarity] var compactTestHook: Option[() => Unit] = None

  /** Post-swap / pre-carryover hook for the crash-recovery spec (a
    * throw here simulates a compactor dying after the two renames but
    * before the late-generation carryover — the stranded-trash state
    * the next compaction must recover). Never set outside tests. */
  private[similarity] var compactPostSwapHook: Option[() => Unit] = None

  /** Move gen directories and lock markers from a parked tree's
    * `_delta` into the live one, skipping entries the live tree
    * already has (a Hadoop rename into an existing DIRECTORY nests the
    * source inside it instead of replacing — the exists-guard is
    * load-bearing, not defensive). Shared by the post-swap late-
    * generation carryover and the stale-trash recovery below. */
  private def carryOver(fs: FileSystem, fromDelta: String, toDelta: String,
                        gens: Seq[Long], locks: Seq[Long],
                        floors: Seq[Long] = Seq.empty): Unit =
    if (gens.nonEmpty || locks.nonEmpty || floors.nonEmpty) {
      val lockDir = new Path(s"$toDelta/$DeltaLockDir")
      fs.mkdirs(lockDir)
      // floor markers ride over too (monotone lower bound — a lower
      // carried floor beside a higher live one is harmless, the claim
      // takes the max); a lost floor is the post-swap-crash hazard
      floors.foreach { n =>
        val dst = new Path(lockDir, s"floor-$n")
        if (!fs.exists(dst))
          require(fs.rename(new Path(
              s"$fromDelta/$DeltaLockDir/floor-$n"), dst),
            s"compact: could not carry floor marker floor-$n from " +
              s"$fromDelta into $toDelta — parked tree left intact")
      }
      // a FAILED rename must abort LOUDLY before any caller reaches
      // its trash delete: silently leaving a generation behind would
      // turn the delete into permanent data loss — the exact hazard
      // the carryover exists to prevent
      gens.foreach { n =>
        val dst = new Path(s"$toDelta/gen-$n")
        if (!fs.exists(dst))
          require(fs.rename(new Path(s"$fromDelta/gen-$n"), dst),
            s"compact: could not carry generation $n from $fromDelta " +
              s"into $toDelta — parked tree left intact")
      }
      locks.foreach { n =>
        val dst = new Path(lockDir, s"gen-$n")
        if (!fs.exists(dst))
          require(fs.rename(new Path(s"$fromDelta/$DeltaLockDir/gen-$n"), dst),
            s"compact: could not carry lock marker gen-$n from " +
              s"$fromDelta into $toDelta — parked tree left intact")
      }
    }

  /** Crash-safe compaction shared by every delta-capable artifact:
    * write the reconciled index ASIDE to a sibling temp path, verify
    * its `_SUCCESS`, then swap via two renames with the old tree parked
    * at a trash path until the new one is live. A crash before the swap
    * leaves base + deltas untouched; a crash mid-swap leaves the
    * complete new tree at the temp or live path and the complete old
    * tree at the trash path.
    *
    * CONCURRENT APPENDS survive: a generation committed after the
    * snapshot is CARRIED OVER from the parked tree into the new live
    * `_delta`, with every unspent lock marker, before the trash drops
    * (re-carrying a folded generation is idempotent under newest-wins). */
  private def compactSwap(spark: SparkSession, path: String,
                          reconciled: => DataFrame,
                          write: (DataFrame, String) => Unit): Unit = {
    val fs = fsOf(spark, path)
    val live = new Path(path)
    val tmp = new Path(s"$path.compact-tmp")
    val trash = new Path(s"$path.compact-trash")
    val deltaPath = s"$path/$DeltaDir"
    require(fs.exists(live),
      s"compact: no artifact at $path" + (if (fs.exists(trash))
        s" — a prior compaction crashed mid-swap; the pre-compaction " +
          s"tree is intact at $trash (rename it back to recover)" else ""))
    // stale leftovers from a prior crash: the temp is pre-swap work,
    // safe to discard. A trash beside a live path is a superseded tree,
    // but a crash after the swap and before the carryover strands
    // acknowledged generations in it: carry over every gen directory
    // and marker the live `_delta` lacks, THEN delete (re-carrying is
    // idempotent; a spent lock only overcounts, the safe direction).
    fs.delete(tmp, true)
    if (fs.exists(trash)) {
      val staleDelta = s"${trash.toString}/$DeltaDir"
      val liveGens = genDirNumbers(fs, deltaPath).toSet
      val liveLocks = lockNumbers(fs, deltaPath).toSet
      val liveFloors = floorNumbers(fs, deltaPath).toSet
      carryOver(fs, staleDelta, deltaPath,
        genDirNumbers(fs, staleDelta).filterNot(liveGens),
        lockNumbers(fs, staleDelta).filterNot(liveLocks),
        floorNumbers(fs, staleDelta).filterNot(liveFloors))
    }
    fs.delete(trash, true)
    // snapshot the generations this compaction can have folded in:
    // anything beyond this set at swap time arrived concurrently and
    // must ride over into the new tree
    val gens0 = genDirNumbers(fs, deltaPath).toSet
    write(reconciled, tmp.toString)
    compactTestHook.foreach(_.apply())
    require(fs.exists(new Path(tmp, "_SUCCESS")),
      s"compact: rewrite at $tmp did not commit (_SUCCESS missing) — " +
        s"original index at $path is untouched")
    // PRE-SEED the claim floor in the tmp tree BEFORE the swap: the
    // highest folded/claimed/floor number becomes `floor-F`, so even a
    // crash before the carryover leaves a tree whose next claim starts
    // above every old number ([[floorNumbers]]).
    val floorF = (gens0.toSeq ++ lockNumbers(fs, deltaPath) ++
      floorNumbers(fs, deltaPath)).foldLeft(0L)(math.max)
    if (floorF > 0L) {
      val tmpLockDir = new Path(s"${tmp.toString}/$DeltaDir/$DeltaLockDir")
      fs.mkdirs(tmpLockDir)
      fs.createNewFile(new Path(tmpLockDir, s"floor-$floorF"))
    }
    require(fs.rename(live, trash),
      s"compact: could not park $path at $trash — original untouched")
    require(fs.rename(tmp, live),
      s"compact: could not activate $tmp at $path — the complete new " +
        s"tree is at $tmp and the complete old tree at $trash")
    compactPostSwapHook.foreach(_.apply())
    // carry over LATE generations, plus every lock marker NOT matched
    // by a folded committed generation (one in gens0). Claim order is
    // not commit order: a writer that claimed gen-5 while a later
    // claimant committed gen-6 before this compaction still has its
    // write in flight — a numeric above-the-folded-max filter would
    // drop that lock, let a post-compaction claimant reuse number 5,
    // and share the gen-5 directory/staging with the stale writer (the
    // exact clobber the locks exist to prevent, plus its stale _seq=5
    // rows outranking a newer post-compaction generation's rows). So a
    // lock is spent ONLY when its gen directory was in the folded
    // snapshot; everything else rides over. A late writer's in-flight
    // data lands under the NEW live path once its job commits (the
    // committer mkdirs its target).
    val trashDelta = s"${trash.toString}/$DeltaDir"
    val late = genDirNumbers(fs, trashDelta).filterNot(gens0)
    val keepLocks = lockNumbers(fs, trashDelta).filterNot(gens0)
    carryOver(fs, trashDelta, deltaPath, late, keepLocks)
    fs.delete(trash, true)
    ()
  }

  val rotationSchema: StructType = StructType(Seq(
    StructField("row_idx", IntegerType, nullable = false),
    StructField("row", ArrayType(FloatType), nullable = true)))

  /** Persist a trained OPQ rotation ([[Opq.trainRotation]]) — d rows of
    * d floats, row-major. A k-row artifact (d ≤ 4096 by [[Opq]]'s
    * contract): single-file parquet like the codebooks. */
  def saveRotation(spark: SparkSession, rot: Array[Array[Float]],
                   path: String): Unit = {
    val dim = rot.length
    require(dim >= 1 && rot.forall(_.length == dim),
      s"saveRotation: rotation must be square, got $dim rows of widths " +
        rot.map(_.length).distinct.mkString(","))
    import spark.implicits._
    save(rot.toIndexedSeq.zipWithIndex
      .map { case (r, i) => (i, r.toSeq) }.toDF("row_idx", "row"),
      rotationSchema, path)
  }

  /** Load a persisted rotation; fails fast on schema drift, a non-square
    * shape, or missing/duplicate row indices. */
  def loadRotation(spark: SparkSession, path: String): Array[Array[Float]] = {
    val rows = load(spark, rotationSchema, path).collect()
    val dim = rows.length
    require(dim >= 1, s"loadRotation($path): empty rotation artifact")
    val out = Array.ofDim[Array[Float]](dim)
    rows.foreach { r =>
      val i = r.getInt(0)
      require(i >= 0 && i < dim && out(i) == null,
        s"loadRotation($path): row_idx $i out of range or duplicated " +
          s"for a $dim-row artifact")
      val v = r.getSeq[Float](1)
      require(v.length == dim,
        s"loadRotation($path): row $i has width ${v.length}, expected $dim")
      out(i) = v.toArray
    }
    out
  }

  val dsirModelSchema: StructType = StructType(Seq(
    StructField("w", StringType, nullable = false),
    StructField("dsir_e6", LongType, nullable = false)))

  /** Persist a [[graft.text.Dsir.model]] table. VOCABULARY-sized — unlike
    * the k-row artifacts above it keeps its partitioning (no
    * single-file coalesce; a 100 TB corpus vocabulary is millions of
    * rows). Served by [[graft.streaming.StreamingDsir.serveScore]]. */
  def saveDsirModel(model: DataFrame, path: String): Unit =
    save(model, dsirModelSchema, path, singleFile = false)

  /** Load a DSIR model for [[graft.text.Dsir.score]]. */
  def loadDsirModel(spark: SparkSession, path: String): DataFrame =
    load(spark, dsirModelSchema, path)

  val backoffTriSchema: StructType = StructType(Seq(
    StructField("w1", StringType, nullable = false),
    StructField("w2", StringType, nullable = false),
    StructField("w3", StringType, nullable = false),
    StructField("c3", LongType, nullable = false)))
  val backoffBiSchema: StructType = StructType(Seq(
    StructField("w1", StringType, nullable = false),
    StructField("w2", StringType, nullable = false),
    StructField("c", LongType, nullable = false)))
  val backoffUniSchema: StructType = StructType(Seq(
    StructField("w", StringType, nullable = false),
    StructField("cu", LongType, nullable = false)))
  val backoffTotalSchema: StructType = StructType(Seq(
    StructField("n", LongType, nullable = false)))

  /** Persist a stupid-backoff model ([[graft.text.NgramLm.fitBackoff]]
    * output) as four tables under one root. tri/bi/uni are
    * vocabulary-sized (no single-file coalesce — the DSIR convention);
    * the 1-row total coalesces. Served by
    * [[graft.streaming.StreamingLm.serveBackoffScore]]. */
  def saveBackoffModel(tri: DataFrame, bi: DataFrame, uni: DataFrame,
                       total: DataFrame, path: String): Unit = {
    save(tri, backoffTriSchema, s"$path/tri", singleFile = false)
    save(bi, backoffBiSchema, s"$path/bi", singleFile = false)
    save(uni, backoffUniSchema, s"$path/uni", singleFile = false)
    save(total, backoffTotalSchema, s"$path/total")
  }

  /** Load a stupid-backoff model for
    * [[graft.text.NgramLm.scoreBackoffWith]]. */
  def loadBackoffModel(spark: SparkSession, path: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) =
    (load(spark, backoffTriSchema, s"$path/tri"),
      load(spark, backoffBiSchema, s"$path/bi"),
      load(spark, backoffUniSchema, s"$path/uni"),
      load(spark, backoffTotalSchema, s"$path/total"))

  /** Persist a [[graft.text.Retrieval.buildIndex]] artifact set under
    * one root: postings and terms range-sorted by `term`, docLens by
    * `doc_id` (the serve's localized query-term `isin` and the
    * fold-in/forget id probes read only the row groups their keys can
    * touch; partitionBy(term) would mint one directory per vocabulary
    * entry). `numFiles` knobs scale files ∝ rows (0 = session default);
    * stats is one row. */
  def saveRetrievalIndex(postings: DataFrame, terms: DataFrame,
                         docLens: DataFrame, stats: DataFrame,
                         path: String, postingsFiles: Int = 0,
                         termsFiles: Int = 0, docLensFiles: Int = 0)
      : Unit = {
    saveKind(postingsKind, postings, postingsKind.at(path), postingsFiles)
    saveKind(termsKind, terms, termsKind.at(path), termsFiles)
    saveKind(docLensKind, docLens, docLensKind.at(path), docLensFiles)
    save(stats, retrievalStatsSchema, s"$path/stats")
  }

  /** Load a retrieval index for [[graft.text.Retrieval.topK]]: postings
    * newest-wins per `(term, doc_id)`, terms per `term`, docLens per
    * `doc_id` with tombstoned docs dropped — the serve-side deletion
    * (topK inner-joins docLens). stats is overwrite-per-fold. */
  def loadRetrievalIndex(spark: SparkSession, path: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) =
    (loadKind(postingsKind, spark, postingsKind.at(path)),
      loadKind(termsKind, spark, termsKind.at(path)),
      loadKind(docLensKind, spark, docLensKind.at(path)),
      load(spark, retrievalStatsSchema, s"$path/stats"))

  /** [[loadRetrievalIndex]] behind the fingerprint cache, one entry per
    * sub-artifact. */
  def loadRetrievalIndexCached(spark: SparkSession, path: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) =
    (cachedKind(postingsKind, spark, postingsKind.at(path)),
      cachedKind(termsKind, spark, termsKind.at(path)),
      cachedKind(docLensKind, spark, docLensKind.at(path)),
      cachedLoad(spark, s"$path/stats")(
        load(spark, retrievalStatsSchema, s"$path/stats")))

  /** FOLD a batch of NEW documents ([[graft.text.Retrieval.buildIndex]]
    * over JUST the batch) into a persisted retrieval index,
    * O(batch + touched terms): postings and docLens rows append as
    * generations (the caller guards redelivery); the batch's term dfs
    * ACCUMULATE onto the touched vocabulary slice's current dfs (read
    * through a bounded `isin`) and append as replacement rows; stats
    * rewrites with the exact merged (n, avgdl). The folded index serves
    * bit-identically to a rebuild over base ∪ batch. NOT atomic across
    * sub-artifacts: the redelivery-guard docLens lands LAST, and
    * [[consolidateRetrievalIndex]] repairs a crash mid-fold. */
  def foldInRetrieval(spark: SparkSession, batchPostings: DataFrame,
                      batchDocLens: DataFrame, path: String): Unit = {
    val lens = batchDocLens
      .select(f.col("doc_id").cast("long").as("doc_id"),
        f.col("dl").cast("long").as("dl"))
      .localCheckpoint(true)
    // one agg serves BOTH the emptiness gate and the stats merge —
    // the separate isEmpty action this replaces was a scheduler round
    // trip per trigger
    val bt = lens.agg(f.count(f.lit(1)).cast("long"),
      f.sum(f.col("dl")).cast("long")).head()
    val bn = bt.getLong(0)
    if (bn == 0L) return
    val bsum = bt.getLong(1)
    // appendDeltaGeneration materializes the projected slice; reuse
    // its blocks for the vocabulary aggregation below instead of
    // paying a caller-side checkpoint of the same lineage
    val posts = appendKind(postingsKind, batchPostings, postingsKind.at(path))
    // touched vocabulary slice: batch-bounded by construction, and the
    // >4096-term branch pulls it driver-side ANYWAY (that path
    // broadcasts it), so ONE collect replaces the old
    // checkpoint + incremental-limit key collect pair
    val brows = posts.groupBy(f.col("term"))
      .agg(f.count(f.lit(1)).as("_bdf")).collect()
    // the fold contract says batches are BOUNDED (a trigger's worth of
    // docs); a caller that violates it lands here with a vocabulary-
    // sized driver pull — fail loudly with the contract's name instead
    // of an unattributable driver OOM (r15 ADVICE: the old >4096-term
    // branch at least hit the 8GB broadcast cap's error message)
    require(brows.length <= (1 << 21),
      s"foldInRetrieval: batch touched ${brows.length} distinct terms " +
        "(> 2^21) — fold-in batches must be trigger-bounded; ingest this " +
        "corpus through buildRetrievalIndex / consolidateRetrievalIndex " +
        "instead")
    import scala.jdk.CollectionConverters._
    val batchLocal = spark.createDataFrame(brows.toSeq.asJava,
      StructType(Seq(StructField("term", StringType),
        StructField("_bdf", LongType))))
    // only the terms reconcile + the 1-row stats — constructing the
    // full 4-tuple would pay the postings/docLens delta reads too
    val curTerms = loadKind(termsKind, spark, termsKind.at(path))
    val curStats = load(spark, retrievalStatsSchema, s"$path/stats")
    val current =
      if (brows.length <= (1 << 12))
        curTerms.filter(f.col("term").isin(
          brows.map(_.getString(0)).toIndexedSeq: _*))
      else curTerms.join(f.broadcast(batchLocal.select(f.col("term"))),
        Seq("term"), "left_semi")
    val merged = batchLocal.join(current, Seq("term"), "left")
      .select(f.col("term"),
        (f.coalesce(f.col("df"), f.lit(0L)) + f.col("_bdf")).as("df"))
    appendKind(termsKind, merged, termsKind.at(path))
    // exact stats merge: totals, not averages of averages
    val st = curStats.head()
    val (n0, avg0) = (st.getLong(0), st.getDouble(1))
    val n1 = n0 + bn
    val avg1 = (avg0 * n0 + bsum) / n1
    import spark.implicits._
    save(Seq((n1, avg1)).toDF("n", "avgdl"), retrievalStatsSchema,
      s"$path/stats")
    // the guard column lands last (see scaladoc)
    appendKind(docLensKind, lens, docLensKind.at(path))
  }

  /** FORGET docs from a persisted retrieval index — the LAZY delete:
    * one tombstone generation on docLens, the membership side of
    * serving, so the docs leave the results IMMEDIATELY. Postings and
    * df/n/avgdl keep their pre-delete values, so surviving docs' SCORES
    * drift by the deleted fraction (and a re-ingested doc's dfs
    * re-accumulate on the stale counts) until
    * [[consolidateRetrievalIndex]] recounts them. */
  def forgetRetrievalDocs(deleteDocIds: DataFrame, path: String): Unit =
    forgetKind(docLensKind, deleteDocIds, docLensKind.at(path))

  /** CONSOLIDATE a lazily-deleted retrieval index: drop the deleted
    * docs' postings rows (the docs absent from the live docLens),
    * recompute terms and stats EXACTLY from the survivors, and fold
    * every sub-artifact's generations physically. Corpus-sized
    * maintenance, crash-safe per sub-artifact ([[compactSwap]]), and
    * IDEMPOTENT — a crash between the four steps re-runs to the same
    * fixpoint because terms/stats re-derive from postings ∩ docLens
    * ground truth. Also the repair for a crashed [[foldInRetrieval]]
    * (its scaladoc's contract). */
  def consolidateRetrievalIndex(spark: SparkSession, path: String,
                                targetRowsPerFile: Long =
                                  DefaultTargetRowsPerFile): Unit = {
    val (postings, terms, docLens) = (postingsKind.at(path),
      termsKind.at(path), docLensKind.at(path))
    // 1. docLens: fold tombstones out of the bytes
    compactKind(docLensKind, spark, docLens, targetRowsPerFile)
    // 2. postings: reconciled rows ∩ post-compaction live doc set
    rewrite(postingsKind, spark, postings,
      loadKind(postingsKind, spark, postings).join(
        load(spark, docLensSchema, docLens).select(f.col("doc_id")),
        Seq("doc_id"), "left_semi"), targetRowsPerFile)
    // 3. terms: exact recount from the surviving postings
    rewrite(termsKind, spark, terms,
      load(spark, postingsSchema, postings).groupBy(f.col("term"))
        .agg(f.count(f.lit(1)).as("df")), targetRowsPerFile)
    // 4. stats: exact recount from the surviving docLens
    save(load(spark, docLensSchema, docLens)
      .agg(f.count(f.lit(1)).cast("long").as("n"),
        f.avg(f.col("dl")).as("avgdl")), retrievalStatsSchema, s"$path/stats")
  }

  /** Fold a sub-artifact's pending generations without the doc-drop
    * recount — the policy compactor ([[compactorFor]]) for the
    * retrieval root's delta-bearing pieces; data-sized like every
    * other kind. */
  def compactRetrievalDocLens(spark: SparkSession, path: String): Unit =
    compactKind(docLensKind, spark, path)

  /** [[compactRetrievalDocLens]] for the postings sub-artifact. */
  def compactRetrievalPostings(spark: SparkSession, path: String): Unit =
    compactKind(postingsKind, spark, path)

  /** [[compactRetrievalDocLens]] for the terms sub-artifact. */
  def compactRetrievalTerms(spark: SparkSession, path: String): Unit =
    compactKind(termsKind, spark, path)

  private def save(df: DataFrame, schema: StructType, path: String,
                   singleFile: Boolean = true): Unit = {
    val projected = df.select(schema.fields.map(x =>
      f.col(x.name).cast(x.dataType).as(x.name)).toIndexedSeq: _*)
    // k-row artifacts coalesce to one copyable file; vocabulary-sized
    // ones (singleFile = false) keep their partitioning
    (if (singleFile) projected.repartition(1) else projected)
      .write.mode("overwrite").parquet(path)
  }

  /** Read `path` as `schema`, failing fast at the driver on drift: every
    * column must be present with its declared type, except `inferred`
    * partition columns (type inferred from directory names), which only
    * need to be present and are cast. */
  private[similarity] def load(spark: SparkSession, schema: StructType,
                   path: String, noun: String = "trained-state",
                   inferred: Set[String] = Set.empty): DataFrame = {
    val df = spark.read.parquet(path)
    val got = df.schema.fields.map(x => x.name -> x.dataType).toMap
    schema.fields.foreach { x =>
      require(got.get(x.name).exists(t =>
          t == x.dataType || inferred.contains(x.name)),
        s"trained-state schema mismatch at $path: expected ${x.name}: " +
          s"${x.dataType.sql}, found ${got.get(x.name).map(_.sql)
            .getOrElse("<missing>")} — not a $noun artifact")
    }
    df.select(schema.fields.map(x =>
      f.col(x.name).cast(x.dataType).as(x.name)).toIndexedSeq: _*)
  }
}
