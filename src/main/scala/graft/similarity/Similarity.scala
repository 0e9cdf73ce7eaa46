package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.text.TextOps

/** Deduplication and similarity-search operators for training-data
  * pipelines, designed scale-out from the start:
  *
  *   - MinHash+LSH: signature is a map-only projection (higher-order array
  *     functions over shingles); the only shuffle is the band-bucket
  *     self-join, whose cardinality is controlled by banding — the standard
  *     shape for near-dup detection at corpus scale.
  *   - SimHash: map-only fingerprint + bucket join on the top bits.
  *   - Embedding ANN: brute-force cosine top-k as the exact baseline
  *     (crossJoin with a *broadcast* query side — scales in corpus size),
  *     and a random-hyperplane LSH bucketed variant as the 100TB path.
  *
  * All dot products / cosines are computed in double with a sequential left
  * fold (aggregate ∘ zip_with) so results are bit-reproducible and
  * oracle-checkable.
  */
object Similarity {

  // ------------------------------------------------------------- MinHash

  /** k minhash values over a 64-bit gram-id array: sig[i] = min over grams
    * of xxhash64(i, gram). Map-only. Delegates to the native codegen'd
    * kernel ([[graft.functions.MinHashSig]] — one tight loop per row);
    * [[minhashSignatureFold]] is the declarative reference semantics
    * (bit-identical, asserted in SimilaritySpec). Empty input ⇒ all slots
    * Long.MaxValue (callers filter empty shingle sets first). */
  def minhashSignature(shinglesCol: Column, k: Int): Column =
    graft.functions.MinHashSig.minhash_sig(shinglesCol, k)

  /** Declarative fold form of [[minhashSignature]]: ONE pass over the
    * grams (aggregate carrying a k-slot min array), NOT
    * `transform(0..k-1, i => array_min(transform(sh, ...)))` — there the
    * shingle column sits inside the outer lambda, and after Catalyst
    * collapses projections the whole upstream subtree (tokenize + shingle
    * hash) re-evaluates once PER SLOT, ×k the corpus scan work (measured
    * ~10× end-to-end on minhashPairs). Same trap as TextOps.shingles'
    * scaladoc: HOF *inputs* evaluate once per row, lambda *bodies* once
    * per element. */
  private[graft] def minhashSignatureFold(shinglesCol: Column, k: Int): Column =
    aggregate(shinglesCol,
      transform(sequence(lit(0), lit(k - 1)), _ => lit(Long.MaxValue)),
      (acc, s) => zip_with(acc, sequence(lit(0), lit(k - 1)),
        (m, i) => least(m, xxhash64(i, s))))

  /** Explode a signature into (band_idx, band_hash) rows for LSH bucketing:
    * rowsPerBand consecutive signature slots hash into one bucket key. */
  def bands(sig: Column, numBands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(numBands - 1)),
      b => struct(b.as("band"),
        xxhash64(b, concat_ws("_",
          (0 until rowsPerBand).map(r =>
            element_at(sig, b * rowsPerBand + r + 1)): _*)).as("bucket")))

  /** Exact Jaccard similarity of two arrays (set semantics; any element
    * type — string grams or 64-bit gram ids). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(array_union(a, b)).cast("double")
    when(uni > 0, inter / uni).otherwise(0.0)
  }

  /** Near-duplicate candidate pairs via MinHash LSH over `df(idCol,
    * textCol)`: returns (id_a, id_b, jaccard) with id_a < id_b, verified
    * against true shingle Jaccard ≥ minJaccard. The shuffle is on
    * (band, bucket) — skew-bounded because identical signatures collapse
    * into one bucket per band. */
  /** @param maxBucketSize skew guard: band buckets larger than this are
    *   dropped before pairing (a bucket of n identical signatures pairs
    *   O(n²) — run exact dedup first; giant buckets there are its job).
    *   0 = uncapped.
    */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
                   shingleN: Int = 3, numHashes: Int = 32, numBands: Int = 8,
                   minJaccard: Double = 0.5, maxBucketSize: Int = 0): DataFrame = {
    require(numBands > 0 && numHashes % numBands == 0,
      s"numBands ($numBands) must divide numHashes ($numHashes): " +
        "numBands > numHashes makes every band hash the empty slice " +
        "(constant bucket -> all-pairs O(n^2) join), and a remainder " +
        "silently ignores trailing signature slots")
    val rowsPerBand = numHashes / numBands
    // 64-bit shingle ids, not strings (TextOps.ngramHashes): the shingle
    // arrays ride through the band shuffle on BOTH sides of the pair join,
    // so 8-byte ids vs ~25-char strings is a ~3× cut in shuffle bytes, and
    // no gram string is ever built. Set-Jaccard over ids equals Jaccard
    // over grams up to 64-bit collisions.
    val withShingles = df.select(
      col(idCol).as("id"),
      array_distinct(TextOps.ngramHashes(TextOps.tokens(col(textCol)),
        shingleN)).as("sh"))
      .filter(size(col("sh")) > 0)
    // materialize (id, sh, sig) BEFORE banding: bands() reads the signature
    // via element_at inside per-band lambdas, so an unmaterialized sig
    // would re-run the whole signature computation once per band slot
    // after projection collapse. O(corpus) staging — the 100TB analog is a
    // staging write between the two jobs.
    val sigs = withShingles.withColumn("sig",
      minhashSignature(col("sh"), numHashes))
      .localCheckpoint(true)
    var banded = sigs.select(col("id"), col("sh"),
      explode(bands(col("sig"), numBands, rowsPerBand)).as("b"))
      .select(col("id"), col("sh"), col("b.band"), col("b.bucket"))
    if (maxBucketSize > 0) {
      val sizes = banded.groupBy("band", "bucket")
        .agg(count(lit(1)).as("_bn"))
        .filter(col("_bn") <= maxBucketSize)
        .select("band", "bucket")
      banded = banded.join(sizes, Seq("band", "bucket"), "left_semi")
    }
    val l = banded.select(col("band"), col("bucket"),
      col("id").as("id_a"), col("sh").as("sh_a"))
    val r = banded.select(col("band"), col("bucket"),
      col("id").as("id_b"), col("sh").as("sh_b"))
    // dedup candidate PAIRS before the exact jaccard: a pair colliding in
    // all b bands would otherwise evaluate the full-array set arithmetic b
    // times and only collapse afterwards (the shingle arrays ride along so
    // the verify stays map-side — same pattern as lshTopK's candidates)
    l.join(r, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("sh_a"), col("sh_b"))
      .dropDuplicates("id_a", "id_b")
      .select(col("id_a"), col("id_b"),
        jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  // -------------------------------------------------------------- SimHash

  /** Per-row simhash + near-dup pairs with hamming ≤ maxHamming, found by
    * MULTI-PROBE block LSH: the 64-bit signature splits into `numProbes`
    * disjoint 16-bit blocks, each an independent bucket table
    * (OR-construction, like [[lshTopK]]'s tables). Pigeonhole guarantee:
    * a pair at hamming ≤ numProbes-1 has at least one untouched block, so
    * with the default 4 probes recall at hamming ≤ 3 is EXACT, not
    * heuristic — the round-6 single-probe miss (differing bits all inside
    * the top-16 block) is structurally closed.
    *
    * Scale: each row emits numProbes bucket entries (a constant 4× on the
    * candidate shuffle, ids + 8-byte signatures only); pairs colliding in
    * several blocks dedup BEFORE the hamming evaluation.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, numProbes: Int = 4,
                   maxBucket: Int = 0): DataFrame =
    simhashPairsFromSigs(
      df.select(col(idCol).as("id"),
        TextOps.simhash64(TextOps.tokens(col(textCol))).as("simhash")),
      maxHamming, numProbes, maxBucket)

  /** The banding/probe stage over precomputed `(id, simhash)` signatures —
    * the seam the multi-probe recall spec drives with hand-planted bit
    * patterns (text→simhash is a hash; specific bit differences can only
    * be planted at the signature level). */
  def simhashPairsFromSigs(sigs: DataFrame, maxHamming: Int,
                           numProbes: Int = 4, maxBucket: Int = 0): DataFrame = {
    require(numProbes >= 1 && numProbes <= 4,
      s"numProbes=$numProbes must be in [1, 4] (16-bit blocks of a 64-bit hash)")
    val probes = (0 until numProbes).map { t =>
      struct(lit(t).as("t"),
        shiftright(col("simhash"), 48 - 16 * t)
          .bitwiseAND(lit(0xFFFFL)).as("bucket"))
    }
    // STAGED before fan-out: the self-join reads `banded` on both sides
    // (and the cap adds a third consumer) — unstaged, the whole sigs
    // subtree re-executes per consumer, which for pHash callers means
    // re-decoding every media payload (the Fingerprint.overlapPairs
    // staging lesson). O(rows·numProbes) of 24-byte tuples. persist()
    // rather than eager localCheckpoint: this runs at DataFrame
    // CONSTRUCTION in a library function, and the eager form scheduled
    // a Spark job for every caller — including ones that never execute
    // the result — and truncated lineage; the lazy cache serves all
    // consumers identically once the first action runs
    // (PortableSimSpec pins the no-job-at-construction contract).
    // Lazy ALSO means this function can't unpersist — loop-shaped
    // callers (per-trigger streaming re-pairing) drain the entry via
    // [[StagedCache.release]] once their outputs are materialized.
    var banded = StagedCache.register(sigs.select(col("id"), col("simhash"),
      explode(array(probes: _*)).as("p"))
      .select(col("id"), col("simhash"), col("p.t").as("t"),
        col("p.bucket").as("bucket"))
      .persist())
    // skew guard, [[minhashPairs]]' maxBucketSize contract: with
    // CORRELATED signatures (short video frames, templated images) a
    // probe block can go hot and one bucket's quadratic pair work
    // straggles the stage; over-threshold buckets drop entirely — a
    // DOCUMENTED recall trade (a pair is still found via any of its
    // other numProbes-1 blocks, so the pigeonhole guarantee degrades
    // gracefully rather than exactly). 0 = off (the exact default).
    if (maxBucket > 0) {
      val sizes = banded.groupBy("t", "bucket")
        .agg(count(lit(1)).as("_bn"))
        .filter(col("_bn") <= maxBucket)
        .select("t", "bucket")
      banded = banded.join(sizes, Seq("t", "bucket"), "left_semi")
    }
    val l = banded.select(col("t"), col("bucket"), col("id").as("id_a"),
      col("simhash").as("sim_a"))
    val r = banded.select(col("t"), col("bucket"), col("id").as("id_b"),
      col("simhash").as("sim_b"))
    l.join(r, Seq("t", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", TextOps.hamming64(col("sim_a"), col("sim_b")))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** The four 16-bit band keys of a signature table, packed
    * `t·2¹⁶ + bucket` — the [[simhashPairsFromSigs]] banding as DATA,
    * for the persisted banded index layout
    * ([[TrainedState.saveBandedSigIndex]]): an index row per (sig,
    * block) lets a probe batch prune the index scan to its own
    * buckets' row groups instead of re-banding the corpus per
    * trigger. */
  def bandKeys(sigs: DataFrame): DataFrame = {
    val probes = (0 until 4).map { t =>
      struct(lit(t).as("t"),
        shiftright(col("simhash"), 48 - 16 * t)
          .bitwiseAND(lit(0xFFFFL)).as("bucket"))
    }
    sigs.select(col("id"), col("simhash"),
        explode(array(probes: _*)).as("p"))
      .select((col("p.t").cast("long") * 65536L + col("p.bucket"))
        .as("bkey"), col("id"), col("simhash"))
  }

  /** Batch-vs-INDEX near-dup pairs through a persisted banded
    * signature index — the cross half of [[simhashPairsFromSigs]]
    * with the index side pre-banded on disk: the batch's band keys
    * (bounded — `|batch|·numProbes` and the batch is a micro-batch by
    * contract) localize and push into the index scan as a literal
    * `isin`, so a trigger reads only its buckets' row groups (the
    * joinProbedCells discipline on the LSH family). Identical pair
    * semantics to the symmetric join restricted to (batch, index)
    * pairs: a pair collides iff it shares a bucket among the first
    * `numProbes` 16-bit blocks — the index carries all four blocks'
    * rows, the batch probes only its first `numProbes`. Within-batch
    * pairs are NOT included — combine with [[simhashPairsFromSigs]]
    * over the batch alone. Output is orientation-explicit:
    * `(batch_id, index_id, hamming)`. Past 2¹² keys the probe falls
    * back to a broadcast join of the batch keys (no pruning). */
  def simhashPairsAgainstIndex(batchSigs: DataFrame,
                               bandedIndex: DataFrame, maxHamming: Int,
                               numProbes: Int = 4): DataFrame = {
    require(numProbes >= 1 && numProbes <= 4,
      s"numProbes=$numProbes must be in [1, 4]")
    val qb = bandKeys(batchSigs)
      .filter(col("bkey") < numProbes.toLong * 65536L)
      .select(col("bkey"), col("id").as("batch_id"),
        col("simhash").as("sim_q"))
    val keys = qb.select(col("bkey")).distinct()
      .limit((1 << 12) + 1).collect().map(_.getLong(0)).toIndexedSeq
    val idx =
      if (keys.nonEmpty && keys.length <= (1 << 12))
        bandedIndex.filter(col("bkey").isin(keys: _*))
      else bandedIndex.join(broadcast(qb.select(col("bkey")).distinct()),
        Seq("bkey"), "left_semi")
    idx.select(col("bkey"), col("id").as("index_id"),
        col("simhash").as("sim_i"))
      .join(broadcast(qb), Seq("bkey"))
      .filter(col("batch_id") =!= col("index_id"))
      .dropDuplicates("batch_id", "index_id")
      .withColumn("hamming",
        graft.text.TextOps.hamming64(col("sim_q"), col("sim_i")))
      .filter(col("hamming") <= maxHamming)
      .select(col("batch_id"), col("index_id"), col("hamming"))
  }

  // ------------------------------------------------------- embedding ANN

  /** Double-precision dot product. Primary implementation is the native
    * codegen'd kernel (graft.functions.DotProduct); [[dotFold]] is the
    * declarative higher-order-function form — both produce bit-identical
    * results (same f32→f64 widening, same left-to-right accumulation), and
    * SimilaritySpec asserts the equivalence. */
  def dot(a: Column, b: Column): Column =
    graft.functions.DotProduct.dot_product(a, b)

  /** Declarative fold form (CodegenFallback — used as the reference
    * semantics and by the DuckDB oracle mirror). */
  private[graft] def dotFold(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (l2norm(a) * l2norm(b))

  /** Cosine with the ZERO-NORM guard every ranking/threshold consumer in
    * this file uses: a degenerate (zero-norm) vector scores −∞ instead of
    * NaN. Spark treats NaN as LARGER than any value — unguarded, one
    * zero-norm corpus vector becomes the rank-1 "neighbor" of every query
    * under `orderBy(desc)`, passes every `>= threshold` filter, and (in a
    * dedup cell) mass-deletes its cell-mates. −∞ inverts that: degenerate
    * vectors never rank, never match, never delete — the similarity-DESC
    * orientation of [[KMeans.assign]]'s +∞ distance rule (which has its
    * own spec). Identical to [[cosine]] whenever both norms are positive,
    * so the bit-exactness oracles are untouched on real data. */
  private[graft] def cosineGuarded(a: Column, b: Column): Column = {
    val denom = l2norm(a) * l2norm(b)
    when(denom > 0, dot(a, b) / denom)
      .otherwise(lit(Double.NegativeInfinity))
  }

  /** The distance-orientation twin of [[cosineGuarded]] for argmin
    * assignment/probing: −cos, with degenerate pairs pinned to +∞ (never
    * the nearest cell). */
  private[graft] def negCosGuarded(a: Column, b: Column): Column = {
    val denom = l2norm(a) * l2norm(b)
    when(denom > 0, -dot(a, b) / denom)
      .otherwise(lit(Double.PositiveInfinity))
  }

  private[graft] def cosineFold(a: Column, b: Column): Column =
    dotFold(a, b) / (sqrt(dotFold(a, a)) * sqrt(dotFold(b, b)))

  /** Exact brute-force top-k cosine neighbors of each query vector.
    * The query side is broadcast — the corpus never shuffles, so this
    * scales linearly in corpus size for a bounded query batch. */
  def bruteTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb")))
    val c = corpus.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("c_emb"))
    val scored = c.join(q, col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_sim", cosineGuarded(col("q_emb"), col("c_emb")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos_sim"))
  }

  /** Matryoshka (MRL) prefix truncation: keep the first `dims`
    * components. Nested-representation training orders information
    * front-to-back, so the prefix is itself a usable lower-cost
    * embedding — at 100 TB the prefix lives as its own (pruned) parquet
    * column and the coarse stage reads `dims/64` of the vector bytes. */
  def truncateDims(df: DataFrame, dims: Int): DataFrame = {
    require(dims >= 1, s"truncateDims: dims=$dims must be >= 1")
    df.withColumn("embedding", slice(col("embedding"), 1, dims))
  }

  /** Two-stage Matryoshka retrieval: a prefix-`dims` cosine scan
    * shortlists `shortlist` candidates per query (reading a fraction of
    * the vector bytes), then the full-dimension cosine reranks the
    * shortlist to top-k — the standard MRL serving funnel. The rerank
    * join touches only `queries × shortlist` rows, so full vectors are
    * fetched for a vanishing fraction of the corpus; ties break on
    * neighbor_id at both stages (the [[bruteTopK]] convention), which
    * makes the whole funnel SQL-replayable. Exact when the true top-k
    * survive the shortlist; `shortlist = corpus size` degenerates to
    * [[bruteTopK]] (spec-pinned). */
  def mrlTopK(queries: DataFrame, corpus: DataFrame, k: Int, dims: Int,
              shortlist: Int): DataFrame = {
    require(shortlist >= k, s"mrlTopK: shortlist=$shortlist must be >= k=$k")
    val coarse = bruteTopK(truncateDims(queries, dims),
        truncateDims(corpus, dims), shortlist)
      .select(col("query_id"), col("neighbor_id"))
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb")))
    val c = corpus.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("c_emb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    coarse.join(q, Seq("query_id")).join(c, Seq("neighbor_id"))
      .withColumn("cos_sim", cosineGuarded(col("q_emb"), col("c_emb")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos_sim"))
  }

  /** In-degree of every node of a kNN graph (output of [[knnGraph]] /
    * [[knnGraphAdjacent]] / [[bruteTopK]]): how often a vector appears
    * in other vectors' top-k — the hubness diagnostic. High-hub nodes
    * dominate retrieval results and semantic-dedup deletions; a skewed
    * in-degree histogram is the standard symptom of un-normalized or
    * degenerate embedding spaces. The node set is the union of BOTH
    * graph sides: a vector whose probed cells contain only itself emits
    * no query rows ([[knnGraph]]'s recall-zero convention) yet can
    * still be retrieved as a neighbor — query-side-only enumeration
    * would drop exactly those nonzero-degree nodes. Nodes appearing on
    * neither side (isolated AND never retrieved) are unknowable from
    * the graph alone; join against the corpus id list for a full
    * census. */
  def knnInDegree(graph: DataFrame): DataFrame = {
    val nodes = graph.select(col("query_id").as("vec_id"))
      .unionByName(graph.select(col("neighbor_id").as("vec_id")))
      .distinct()
    val deg = graph.groupBy(col("neighbor_id").as("vec_id"))
      .agg(count(lit(1)).as("in_degree"))
    nodes.join(deg, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("in_degree"), lit(0L)).as("in_degree"))
  }

  /** Random-hyperplane LSH bucket id: numPlanes sign bits of dot(v, plane),
    * planes derived deterministically from xxhash64 (component j of plane p
    * is ±1 by hash parity) — no trained state to ship. Native fused kernel;
    * table 0 of [[hyperplaneBuckets]] (the t=0 seeds coincide). */
  def hyperplaneBucket(emb: Column, dim: Int, numPlanes: Int): Column =
    element_at(
      graft.functions.HyperplaneBucketsExpr
        .hyperplane_buckets(emb, dim, numPlanes, 1), 1)

  /** IVF (inverted-file) approximate top-k. Centroids are chosen
    * deterministically (every `corpusSize/nCentroids`-th vector — no trained
    * state to ship; swap in k-means offline for production). Each corpus
    * vector is assigned to its nearest centroid (one broadcast pass); a
    * query probes its `nprobe` nearest centroid cells. With nprobe =
    * nCentroids this is exactly brute force — the recall/throughput dial of
    * a 100TB ANN deployment.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              centroidStride: Int, nprobe: Int): DataFrame = {
    // a non-positive stride makes pmod null/always-false — zero centroids
    // and a silently EMPTY result, not an error. Same hazard if the id
    // space is non-dense (no vec_id % stride == 0, e.g. snowflake ids):
    // stride selection assumes dense-ish ids; use ivfTopKWith with
    // explicit centroids otherwise.
    require(centroidStride > 0,
      s"ivfTopK: centroidStride must be positive, got $centroidStride")
    // every strideth vector is a centroid — a pure filter, no global
    // window/shuffle, deterministic at any corpus size; swap in
    // [[KMeans.fit]] output via [[ivfTopKWith]] for trained cells
    ivfTopKWith(queries, corpus, k,
      corpus.filter(pmod(col("vec_id"), lit(centroidStride)) === 0)
        .select(col("vec_id").as("centroid_id"),
          col("embedding").as("centroid")),
      nprobe)
  }

  /** IVF with caller-provided centroids (e.g. [[KMeans.fit]]): assign the
    * corpus, then probe — one-shot composition of [[ivfAssign]] +
    * [[ivfTopKFromIndex]]. */
  def ivfTopKWith(queries: DataFrame, corpus: DataFrame, k: Int,
                  centroidsDf: DataFrame, nprobe: Int): DataFrame =
    ivfTopKFromIndex(queries, ivfAssign(corpus, centroidsDf), k,
      centroidsDf, nprobe)

  /** The IVF CODES INDEX: each corpus vector's cell assignment —
    * `(vec_id, centroid_id, embedding)`. This is the materializable
    * artifact of the build→persist→probe→fold-in lifecycle
    * ([[TrainedState.saveIvfIndex]]); probing reads it instead of
    * re-assigning the corpus, and [[ivfFoldIn]] appends new vectors
    * without touching existing rows.
    *
    * Corpus-side assignment is a PROJECTION: the centroid table is
    * collected once and broadcast, and one codegen'd kernel per row
    * takes the [[negCosGuarded]] argmin with the probe window's
    * (distance, centroid_id) tie-break ([[graft.functions.PqEncode]]) —
    * no join, no shuffle, no aggregate. One output row per input row
    * (a duplicate or null `vec_id` is not merged).
    */
  def ivfAssign(corpus: DataFrame, centroidsDf: DataFrame): DataFrame =
    ivfAssignWith(corpus, centroidsDf, Nil)

  /** [[ivfAssign]] carrying named METADATA columns through the
    * projection: a filtered-search deployment stores its predicate
    * columns IN the index rows so serving never joins back to the corpus
    * ([[ivfTopKFiltered]]). */
  def ivfAssignWith(corpus: DataFrame, centroidsDf: DataFrame,
                    extraCols: Seq[String]): DataFrame = {
    import graft.functions.PqEncode
    val t = new PqEncode.Tables(Some(PqEncode.cells(centroidsDf)), None,
      residual = false)
    val cell = PqEncode.pq_encode(col("embedding"), t, corpus.sparkSession)
      .getField("centroid_id")
    val assigned = corpus.select(
      (Seq(col("vec_id"), cell.as("centroid_id"), col("embedding")) ++
        extraCols.map(col)): _*)
    // an empty centroid table assigns nothing: no row
    if (t.isEmpty) assigned.filter(lit(false)) else assigned
  }

  /** Stride-sampled SUPER-CENTROIDS over a centroid table — the level-1
    * quantizer for [[ivfAssignTwoLevel]]: every `stride`-th centroid
    * becomes a super-centroid `(super_id, super_c)`, keeping its
    * centroid_id as super_id. Sampling FROM the centroid table (rather
    * than training supers independently) buys the non-emptiness
    * invariant two-level assignment needs: each super-cell contains at
    * least its own seed centroid, because the seed's nearest super is
    * itself (cos(c,c) is maximal; the guarded tie-break is the same
    * everywhere), so no probed super-cell can yield zero candidates. */
  def superCentroids(centroidsDf: DataFrame, stride: Int): DataFrame = {
    require(stride > 0, s"superCentroids: stride=$stride must be > 0")
    centroidsDf.filter(pmod(col("centroid_id"), lit(stride)) === 0)
      .select(col("centroid_id").as("super_id"),
        col("centroid").as("super_c"))
  }

  /** TWO-LEVEL coarse assignment — the fix for [[ivfAssign]]'s n×C wall
    * (SCALE.md: the flat argmin scores every vector against every
    * centroid, which past ~10⁵ cells dominates the build). Structure
    * (the FAISS IVF-on-IVF / two-level coarse quantizer shape): the C
    * centroids are themselves quantized into S super-cells (each
    * centroid belongs to its nearest super — [[ivfAssign]] applied to
    * the CENTROID TABLE as corpus, so the tie-break is the repo argmin
    * verbatim); each vector ranks only the S supers (map-only in-row
    * walk over a collected super literal — the [[knnGraph]] trick; S is
    * super-sized BY CONTRACT so the collect is bounded), probes its
    * `fanout` nearest, and argmins over just those supers' member
    * centroids. Per-vector cost: S + fanout·(C/S) average, vs C flat —
    * with S ≈ √C that is O(√C) per vector, and the measured per-vector
    * cost stays near-flat as C grows (SCALE.md round-11).
    *
    * EXACTNESS DIAL (spec-pinned): at `fanout >= S` every super is
    * probed, every centroid is a candidate, and the final argmin — the
    * same min_by((dist, centroid_id)) on the same guarded distances —
    * is [[ivfAssign]] bit-for-bit. Below full fan-out the documented
    * recall trade is a boundary vector whose true cell lives in an
    * unprobed super (the [[knnGraphAdjacent]] trade one level up);
    * every vector still gets an assignment (non-empty super-cells, see
    * [[superCentroids]]) and output schema/row-count match
    * [[ivfAssign]] exactly, so the result feeds every downstream IVF
    * surface (probe, fold-in, rebalance, forget, PQ encode) unchanged.
    *
    * Scale ledger: one bounded collect (S supers); the centroid→super
    * map is C-sized and broadcast; the corpus never crossJoins
    * centroids — its only shuffle is the final per-vector argmin
    * groupBy (map-side partial). */
  def ivfAssignTwoLevel(corpus: DataFrame, centroidsDf: DataFrame,
                        superDf: DataFrame, fanout: Int): DataFrame = {
    require(fanout >= 1, s"ivfAssignTwoLevel: fanout=$fanout must be >= 1")
    // level-1: centroid → nearest super (the repo argmin, reused verbatim
    // on the centroid table; carries the centroid payload for the
    // candidate scoring below). C-sized by contract → broadcast.
    val c2s = broadcast(
      ivfAssign(
        centroidsDf.select(col("centroid_id").as("vec_id"),
          col("centroid").as("embedding")),
        superDf.select(col("super_id").as("centroid_id"),
          col("super_c").as("centroid")))
        .select(col("vec_id").as("centroid_id"),
          col("centroid_id").as("super_id"),
          col("embedding").as("centroid")))
    // level-0 probe: in-row walk over the collected super literal — the
    // [[knnGraph]] shape (no corpus×supers shuffle, no corpus window);
    // struct sort order (distance, super_id) is the argmin tie-break.
    val sups = superDf
      .select(col("super_id").cast("long"), col("super_c")).collect()
    require(sups.nonEmpty, "ivfAssignTwoLevel: empty super-centroid table")
    val supLit = array(sups.map { r =>
      struct(lit(r.getLong(0)).as("sid"),
        array(r.getSeq[Float](1).map(lit(_)): _*)
          .cast("array<float>").as("c"))
    }: _*)
    val probes = corpus
      .withColumn("_ps", explode(slice(array_sort(transform(supLit,
        s => struct(
          negCosGuarded(col("embedding"), s.getField("c")).as("d"),
          s.getField("sid").as("sid")))), 1, fanout)))
      .select(col("vec_id"), col("embedding"),
        col("_ps").getField("sid").as("super_id"))
    // final argmin over the probed supers' member centroids only —
    // the (distance, centroid_id) tie-break of [[ivfAssign]]
    probes.join(c2s, Seq("super_id"))
      .withColumn("_cdist", negCosGuarded(col("embedding"), col("centroid")))
      .groupBy(col("vec_id"))
      .agg(min_by(col("centroid_id"),
        struct(col("_cdist"), col("centroid_id"))).as("centroid_id"),
        first(col("embedding")).as("embedding"))
      .select(col("vec_id"), col("centroid_id"), col("embedding"))
  }

  /** AUTO-DISPATCHED coarse assignment — the [[ivfAssignTwoLevel]]
    * fanout guidance as code, so a naive caller cannot land in the
    * documented small-C low-agreement regime (SCALE.md: at C ≈ 400 a
    * fanout-2 two-level probe agreed with flat on only ~55% of
    * assignments, while at production cell counts agreement is ~100%
    * and the two-level form is 13× cheaper at C = 10⁴): below
    * `minCellsForTwoLevel` cells the flat exact [[ivfAssign]] runs —
    * it is also the CHEAPER form there (no super indirection pays off
    * until C is large) — and above it the centroid table is
    * stride-sampled to S ≈ √C supers (every √C-th centroid in id
    * order, preserving [[superCentroids]]' non-empty-cell invariant)
    * and [[ivfAssignTwoLevel]] probes `fanout` of them. Output schema
    * and row count match [[ivfAssign]] exactly on both branches;
    * equality with flat at small C is spec-pinned.
    *
    * One bounded action: `count()` over the centroid table (C-sized by
    * contract). The rank window below runs over the same bounded table
    * (single-partition window — deliberate, the table is small). */
  def ivfAssignAuto(corpus: DataFrame, centroidsDf: DataFrame,
                    fanout: Int = 8,
                    minCellsForTwoLevel: Int = 4096): DataFrame = {
    require(fanout >= 1, s"ivfAssignAuto: fanout=$fanout must be >= 1")
    require(minCellsForTwoLevel >= 1,
      s"ivfAssignAuto: minCellsForTwoLevel=$minCellsForTwoLevel must " +
        "be >= 1")
    val c = centroidsDf.count()
    if (c < minCellsForTwoLevel) ivfAssign(corpus, centroidsDf)
    else {
      val stride = math.max(1, math.round(math.sqrt(c.toDouble)).toInt)
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("centroid_id"))
      val supers = centroidsDf
        .withColumn("_r", row_number().over(w))
        .filter(pmod(col("_r") - 1, lit(stride)) === 0)
        .select(col("centroid_id").as("super_id"),
          col("centroid").as("super_c"))
      ivfAssignTwoLevel(corpus, centroidsDf, supers, fanout)
    }
  }

  /** Fold a batch of new vectors into an existing codes index WITHOUT
    * retraining or re-scanning the indexed corpus: the batch alone is
    * assigned against the SAME centroids and appended. Because cell
    * assignment is per-vector under fixed centroids, existing rows are
    * bit-unchanged — so probe(foldIn(index, batch)) ==
    * probe(rebuild(corpus ∪ batch)) exactly, at any nprobe (spec-proven).
    * Same contract as [[IncrementalDedup.foldIntoIndex]]: ingest cost
    * scales with the BATCH, not the index. */
  def ivfFoldIn(index: DataFrame, newVectors: DataFrame,
                centroidsDf: DataFrame): DataFrame =
    index.unionByName(ivfAssign(newVectors, centroidsDf))

  /** REBALANCE oversized IVF cells — the maintenance pass after
    * [[ivfFoldIn]] drift (a cell that keeps catching fold-ins degrades
    * toward a linear scan for every probe that ranks it): cells with
    * more than `maxCellSize` rows are SPLIT by training `subK`
    * sub-centroids on their own rows, and ONLY those cells' vectors
    * reassign; untouched cells keep their rows and centroid ids
    * verbatim. Split-cell training is one fused
    * [[KMeans.fitGrouped]] pass for ALL oversized cells (iters × ~3
    * jobs total, not per cell); sub-centroids renumber from
    * max(existing id)+1 so ids never collide, and the retiring fat
    * cells' ids leave the codebook.
    *
    * Invariants (spec-pinned): the vector SET is preserved exactly; an
    * identical pair of vectors stays co-located (bit-equal distances,
    * same tie-break — planted-dup probes keep their guarantee); probes
    * at full nprobe over the result still equal brute force. One round
    * splits each fat cell into ≤ subK children bounded by k-means
    * balance, not a hard cap — loop if a pathological cell needs it.
    *
    * @return (new centroids, new codes index)
    */
  def ivfRebalance(index: DataFrame, centroidsDf: DataFrame,
                   maxCellSize: Int, subK: Int,
                   iters: Int = 2): (DataFrame, DataFrame) = {
    val (newCentroids, untouched, changed) =
      ivfRebalanceParts(index, centroidsDf, maxCellSize, subK, iters)
    (newCentroids, untouched.unionByName(changed))
  }

  /** [[ivfRebalance]] split into (new centroids, UNTOUCHED rows,
    * CHANGED slice) — the changed slice is exactly the fat cells'
    * reassigned rows, i.e. what a production rebalance persists via
    * [[TrainedState.appendIvfDelta]] while the untouched cells' files
    * stay in place: rebalance WRITE cost then scales with the fat-cell
    * footprint, not the index (the same split [[GraphAnn
    * .insertBySearchParts]] gives the graph fold-in). The k-row
    * centroid artifact rewrites in full as always — it is not
    * corpus-sized. */
  def ivfRebalanceParts(index: DataFrame, centroidsDf: DataFrame,
                        maxCellSize: Int, subK: Int,
                        iters: Int = 2)
      : (DataFrame, DataFrame, DataFrame) = {
    require(maxCellSize > 0 && subK > 1,
      s"maxCellSize=$maxCellSize must be > 0 and subK=$subK > 1")
    // stage the codes index: FOUR consumers below (size census, kept
    // slice, fat slice feeding k-means AND the reassignment) — unstaged,
    // each re-ran the caller's whole assignment lineage (measured: the
    // gate query spent most of its 5s re-deriving ivfAssign per
    // consumer). An already-materialized index (loaded parquet) pays
    // one cheap re-cache.
    val idx = index.localCheckpoint(true)
    val bigIds = idx.groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("_n"))
      .filter(col("_n") > maxCellSize)
      .select(col("centroid_id"))
    val small = idx.join(broadcast(bigIds), Seq("centroid_id"), "left_anti")
    val big = idx.join(broadcast(bigIds), Seq("centroid_id"), "left_semi")
    val subs = KMeans.fitGrouped(
      big.select(col("centroid_id").as("grp"), col("vec_id"),
        col("embedding")), subK, iters)
    // centroid-sized table: a single-partition renumber window is fine
    // here (cells × subK rows), anchored like KMeans' init rank
    val maxIdRow = centroidsDf.agg(max(col("centroid_id"))).head()
    val base = (if (maxIdRow.isNullAt(0)) 0L else maxIdRow.getLong(0)) + 1
    val renumbered = subs.withColumn("new_id",
      lit(base) - 1 + row_number().over(
        Window.partitionBy(graft.functions.WindowKeys
          .constantPartitionKey(col("grp")))
          .orderBy(col("grp"), col("centroid_id"))).cast("long"))
      .select(col("grp"), col("new_id"), col("centroid"))
    // reassign ONLY fat-cell rows, each against ITS OWN cell's children
    // (equi join on the old cell id — k'×subK broadcast, argmin agg:
    // one row per reassigned vector on the shuffle)
    val reassigned = big
      .join(broadcast(renumbered), big("centroid_id") === renumbered("grp"))
      .withColumn("_cdist", negCosGuarded(col("embedding"), col("centroid")))
      .groupBy(col("vec_id"))
      .agg(
        min_by(col("new_id"), struct(col("_cdist"), col("new_id")))
          .as("centroid_id"),
        first(col("embedding")).as("embedding"))
      .select(col("vec_id"), col("centroid_id"), col("embedding"))
    val keptCentroids = centroidsDf
      .join(broadcast(bigIds), Seq("centroid_id"), "left_anti")
    val newCentroids = keptCentroids.unionByName(
      renumbered.select(col("new_id").as("centroid_id"), col("centroid")))
    (newCentroids,
      small.select(col("vec_id"), col("centroid_id"), col("embedding")),
      reassigned)
  }

  /** FORGET vectors from a codes index — the deletion half of the index
    * lifecycle (build → persist → fold-in → rebalance → FORGET), the
    * ANN-side counterpart of [[graft.operators.Forget]]: remove the
    * listed vec_ids and report, per TOUCHED cell, `(centroid_id,
    * n_before, n_removed, n_after)`. The receipt is the operational
    * artifact: with a centroid_id-partitioned persisted index
    * ([[TrainedState.saveIvfIndex]]) the touched cells are exactly the
    * partitions to rewrite — deletion cost scales with the deletion's
    * cell footprint, not the index.
    *
    * The deletion list broadcasts (deletions are small by nature); the
    * cleaned index is one anti join. Cell sizes for `n_before` come
    * from one centroid_id-only aggregation here — a deployment that
    * maintains [[ivfCellCounts]]-style metadata passes the bookkeeping
    * there instead of re-counting.
    *
    * @return (cleaned index, receipt — touched cells only)
    */
  def ivfForget(index: DataFrame, deleteIds: DataFrame)
      : (DataFrame, DataFrame) = {
    val dels = broadcast(deleteIds.select(col("vec_id")))
    val removed = index.join(dels, Seq("vec_id"), "left_semi")
      .groupBy(col("centroid_id")).agg(count(lit(1)).as("n_removed"))
    val sizes = index.groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("n_before"))
    val receipt = sizes.join(removed, Seq("centroid_id"))
      .select(col("centroid_id"), col("n_before"), col("n_removed"),
        (col("n_before") - col("n_removed")).as("n_after"))
    (index.join(dels, Seq("vec_id"), "left_anti"), receipt)
  }

  /** Row cap for localizing a PROBE TABLE (query, probed cell, query
    * embedding) to the driver — |queries|·nprobe rows by construction,
    * embedding-carrying, so the tighter embedding cap applies (the
    * [[TrainedState]] loadIvfIndex rationale: rows × width bounds the
    * pull). */
  private[similarity] val MaxLocalProbedRows = 1 << 12

  /** Localize a bounded plan ONCE: collect up to `cap` rows and rebuild
    * the frame as a LocalRelation, so every downstream consumer — a
    * broadcast derivation, a [[joinProbedCells]] collect, a shortlist
    * action — reads driver-local rows instead of RE-EXECUTING the
    * source plan per action. The IVF-PQ serves consume their probe
    * table three ways (the static cell prune, the broadcast ADC table,
    * and the candidate join), and before this the |q|·C cell-ranking
    * subplan ran once per consumer per trigger — bounded work, but a
    * per-action replanning cost the 100× leg saw as the IVF-PQ
    * residual (SCALE.md r15: 1.83× after the static-prune fix). Past
    * the cap the original plan returns unchanged — the fallback
    * consumers keep their own (DPP / broadcast-join) shapes. */
  private[similarity] def localizeBounded(df: DataFrame, cap: Int)
      : DataFrame = localizeBoundedRows(df, cap)._1

  /** [[localizeBounded]] that ALSO hands back the collected rows when the
    * bound held (None past the cap) — so a caller that needs the same
    * bounded table driver-side (e.g. the fused ADC LUT build) reuses the
    * one collect instead of re-running the source plan. */
  private[similarity] def localizeBoundedRows(df: DataFrame, cap: Int)
      : (DataFrame, Option[Array[org.apache.spark.sql.Row]]) = {
    val rows = df.limit(cap + 1).collect()
    if (rows.length > cap) (df, None)
    else {
      import scala.jdk.CollectionConverters._
      (df.sparkSession.createDataFrame(rows.toSeq.asJava, df.schema),
        Some(rows))
    }
  }

  /** Join a BOUNDED probe table against the cell-keyed index side with
    * STATIC cell pruning: the probe table (each query's `nprobe`
    * ranked cells — bounded by construction) localizes, its distinct
    * cell ids become a literal `isin` on the index scan — compile-time
    * partition pruning against the `centroid_id`-partitioned persisted
    * layout ([[TrainedState.saveIvfIndex]]) — and the probe rows join
    * back as a broadcast LocalRelation. The previous shape relied on
    * DYNAMIC partition pruning (a runtime subquery + re-planning per
    * action): correct, but measured at ~13× the per-action cost of the
    * static prune at a 4000-cell index (SCALE.md r15 — 1.7 s vs 0.13 s
    * per probe batch; the DPP machinery, not the scan, was the floor).
    * Past the localization cap the DPP shape returns as the fallback —
    * same rows either way. */
  private[similarity] def joinProbedCells(indexSide: DataFrame,
                                          probed: DataFrame): DataFrame = {
    val spark = probed.sparkSession
    val rows = probed.limit(MaxLocalProbedRows + 1).collect()
    if (rows.length > MaxLocalProbedRows)
      indexSide.join(broadcast(probed), Seq("centroid_id"))
    else {
      import scala.jdk.CollectionConverters._
      val local = spark.createDataFrame(rows.toSeq.asJava, probed.schema)
      val cIdx = probed.schema.fieldIndex("centroid_id")
      val cells = rows.map(_.getLong(cIdx)).distinct.toIndexedSeq
      if (cells.isEmpty) indexSide.join(broadcast(local), Seq("centroid_id"))
      else indexSide.filter(col("centroid_id").isin(cells: _*))
        .join(broadcast(local), Seq("centroid_id"))
    }
  }

  /** Probe a prebuilt codes index: queries pick their `nprobe` nearest
    * cells (bounded, localized), then join cell-to-cell against the
    * index — only the probed cells' rows are touched: the localized
    * probe set statically partition-prunes the
    * centroid_id-partitioned persisted index
    * ([[joinProbedCells]] / [[TrainedState.saveIvfIndex]]). */
  def ivfTopKFromIndex(queries: DataFrame, index: DataFrame, k: Int,
                       centroidsDf: DataFrame, nprobe: Int): DataFrame = {
    val centroids = broadcast(centroidsDf)
    val w0 = Window.partitionBy(col("vec_id")).orderBy(
      col("_cdist").asc, col("centroid_id"))
    val probed = queries.crossJoin(centroids)
      .withColumn("_cdist", negCosGuarded(col("embedding"), col("centroid")))
      .withColumn("_crank", row_number().over(w0))
      .filter(col("_crank") <= nprobe)
      .drop("_cdist", "_crank", "centroid")
      .select(col("vec_id").as("query_id"), col("centroid_id"),
        col("embedding").as("q_emb"))
    val scored = joinProbedCells(
        index.select(col("vec_id").as("neighbor_id"), col("centroid_id"),
          col("embedding").as("c_emb")), probed)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_sim", cosineGuarded(col("q_emb"), col("c_emb")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos_sim"))
  }

  /** TWO-LEVEL probe of a prebuilt codes index — [[ivfTopKFromIndex]]
    * with the query-side cell RANKING routed through super-centroids:
    * the flat probe ranks all C centroids per query, an O(|q|·C) term
    * that grows linearly when the deployment scales its cell count
    * with the corpus (the production shape — SCALE.md r15 measured it
    * at 3× across two decades). Here each query ranks the S supers,
    * keeps `fanout`, and ranks ONLY those supers' member centroids
    * (≈ fanout·C/S rows) — with S ≈ √C that is O(√C) per query, the
    * [[ivfAssignTwoLevel]] dial applied to the probe side. The scan
    * side is unchanged: the probed cells partition-prune the persisted
    * index exactly like the flat probe.
    *
    * EXACTNESS DIAL (spec-pinned): at `fanout ≥ S` every super is
    * kept, every centroid is a candidate (each centroid belongs to
    * exactly one super), and the ranking — the same
    * `(_cdist, centroid_id)` window tie-break over the same guarded
    * distances — equals [[ivfTopKFromIndex]] bit for bit. Below full
    * fan-out the recall trade is a query whose true cell lives under
    * an unprobed super (the documented two-level boundary case). */
  /** The centroid→super membership map the two-level probe ranks
    * against — `(centroid_id, super_id, centroid)`, each centroid under
    * its nearest super (the repo argmin, so the [[ivfAssignTwoLevel]]
    * tie-break verbatim). INDEX METADATA, not query state: computing it
    * scores C×S pairs, so a serving deployment builds it once per
    * (centroids, supers) pair and passes it to every probe — the
    * [[ivfCellCounts]] staging convention. */
  def centroidSuperMap(centroidsDf: DataFrame,
                       superDf: DataFrame): DataFrame =
    ivfAssign(
      centroidsDf.select(col("centroid_id").as("vec_id"),
        col("centroid").as("embedding")),
      superDf.select(col("super_id").as("centroid_id"),
        col("super_c").as("centroid")))
      .select(col("vec_id").as("centroid_id"),
        col("centroid_id").as("super_id"),
        col("embedding").as("centroid"))

  def ivfTopKFromIndexTwoLevel(queries: DataFrame, index: DataFrame,
                               k: Int, centroidsDf: DataFrame,
                               superDf: DataFrame, fanout: Int,
                               nprobe: Int,
                               c2sDf: Option[DataFrame] = None)
      : DataFrame = {
    require(k >= 1 && fanout >= 1 && nprobe >= 1,
      s"ivfTopKFromIndexTwoLevel: k=$k, fanout=$fanout, nprobe=$nprobe " +
        "must be >= 1")
    // centroid → its one super (C-sized by contract, broadcast with
    // payload for the ranking); precomputed [[centroidSuperMap]]
    // accepted so serving loops don't re-score C×S pairs per trigger
    val c2s = broadcast(
      c2sDf.getOrElse(centroidSuperMap(centroidsDf, superDf)))
    val wS = Window.partitionBy(col("vec_id"))
      .orderBy(col("_sdist").asc, col("super_id"))
    val qSup = queries.crossJoin(broadcast(superDf))
      .withColumn("_sdist", negCosGuarded(col("embedding"), col("super_c")))
      .withColumn("_sr", row_number().over(wS))
      .filter(col("_sr") <= fanout)
      .select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb"), col("super_id"))
    val wC = Window.partitionBy(col("query_id"))
      .orderBy(col("_cdist").asc, col("centroid_id"))
    val probed = qSup.join(c2s, Seq("super_id"))
      .withColumn("_cdist", negCosGuarded(col("q_emb"), col("centroid")))
      .withColumn("_crank", row_number().over(wC))
      .filter(col("_crank") <= nprobe)
      .select(col("query_id"), col("centroid_id"), col("q_emb"))
    // identical scan/score/rank tail to the flat probe (localized
    // probe set → static cell pruning)
    val scored = joinProbedCells(
        index.select(col("vec_id").as("neighbor_id"), col("centroid_id"),
          col("embedding").as("c_emb")), probed)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_sim", cosineGuarded(col("q_emb"), col("c_emb")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("cos_sim"))
  }

  /** Per-cell QUALIFYING-row counts for a metadata predicate over a codes
    * index — `(centroid_id, n_qual)`, centroid-sized. This is the
    * metadata artifact a production deployment maintains NEXT TO the
    * index (updated by fold-in/forget deltas); [[ivfTopKFiltered]]
    * accepts it precomputed so serving never rescans the index, and
    * computes it in one count-only aggregation (centroid ids on the
    * shuffle, nothing else) when not supplied. */
  def ivfCellCounts(index: DataFrame, pred: Column): DataFrame =
    index.filter(pred).groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("n_qual"))

  /** Predicate-FILTERED ANN over a codes index with ADAPTIVE probe
    * depth — the standard vector-DB "filtered search" problem: under a
    * selective metadata filter a fixed `nprobe` silently under-delivers
    * (the nearest cells may hold zero qualifying vectors), while
    * pre-filtering to a brute scan throws the index away. Here each
    * query walks its cells in distance order and probes until the
    * cumulative QUALIFYING count reaches `minCandidates` — so the
    * candidate pool is guaranteed ≥ min(minCandidates, total qualifying)
    * and every query returns min(k, total qualifying) rows, with ONE
    * caveat: a query that is itself indexed and satisfies `pred` counts
    * toward its own walk's floor but is excluded from results (no
    * self-edges) — when queries are drawn from the corpus, pass
    * `minCandidates ≥ k + 1` to keep the k-row guarantee tight. Cells
    * with zero qualifying rows are skipped outright (they widen the
    * walk at zero probe cost).
    *
    * Cost model: probe work scales with the QUALIFYING rows of the
    * probed cells only — the predicate is pushed below the probe join,
    * so with a centroid_id-partitioned index plus a column-pruned scan
    * this reads the probed cells' qualifying rows and nothing else.
    * The cell-count side table is centroid-sized and broadcast with the
    * centroids; recall semantics stay IVF (approximate between
    * `minCandidates` and a full walk — `minCandidates ≥` total
    * qualifying degenerates to exact filtered brute force, spec-pinned).
    *
    * @param cellCounts optional precomputed [[ivfCellCounts]] artifact;
    *                   MUST have been built with this same `pred`
    * @param minCandidates ≥ k; the per-query qualifying-candidate floor
    */
  def ivfTopKFiltered(queries: DataFrame, index: DataFrame, pred: Column,
                      k: Int, centroidsDf: DataFrame, minCandidates: Int,
                      cellCounts: Option[DataFrame] = None): DataFrame = {
    require(minCandidates >= k,
      s"minCandidates=$minCandidates must be >= k=$k")
    val counts = cellCounts.getOrElse(ivfCellCounts(index, pred))
    val cents = broadcast(centroidsDf
      .join(counts, Seq("centroid_id"), "left")
      .select(col("centroid_id"), col("centroid"),
        coalesce(col("n_qual"), lit(0L)).as("_cn")))
    // cumulative qualifying count over the PRECEDING cells in distance
    // order: keep a cell while the walk is still short of minCandidates
    // when it arrives — the cell that crosses the threshold is probed,
    // later ones are not
    val wCum = Window.partitionBy(col("vec_id"))
      .orderBy(col("_cdist").asc, col("centroid_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val probed = broadcast(queries.crossJoin(cents)
      .withColumn("_cdist", negCosGuarded(col("embedding"), col("centroid")))
      .withColumn("_cum", coalesce(sum(col("_cn")).over(wCum), lit(0L)))
      .filter(col("_cum") < minCandidates && col("_cn") > 0)
      .select(col("vec_id").as("query_id"), col("centroid_id"),
        col("embedding").as("q_emb")))
    rankCellCandidates(probed, index.filter(pred), k, Long.MaxValue)
  }

  /** k-NN GRAPH construction: every corpus vector's top-k cosine
    * neighbors — the backbone artifact for label propagation
    * ([[labelPropagate]]), graph-based dedup, and cluster-quality
    * readouts. Brute force is n² and dead at corpus scale; this is the
    * IVF-bounded form: each vector probes its `nprobe` nearest cells and
    * ranks only within them, so pairwise work is Σ (cell probes ×
    * cell size) — the [[semanticDedup]] cost model with an nprobe dial.
    *
    * Scale design: the centroid table is centroid-sized BY CONTRACT, so
    * it is collected and inlined as a LITERAL — the per-vector cell walk
    * is then MAP-ONLY (in-row `array_sort` over the centroid array; no
    * corpus×centroids rows on any shuffle, no corpus-wide window — the
    * [[semanticContamination]] trick). The probe and candidate sides
    * then meet in ONE centroid_id equi-shuffle, and the final top-k is
    * a per-query window over candidate pairs. `maxCellSize` mirrors
    * [[minhashPairs]]' skew guard: cells above the cap are dropped from
    * the CANDIDATE side (documented recall trade — a pathological fat
    * cell otherwise turns one task into a straggler; rebalance with
    * [[ivfRebalance]] instead of raising the cap).
    *
    * Self-edges are excluded; a vector whose probed cells contain only
    * itself emits no rows (the recall-zero convention of [[lshTopK]]).
    */
  def knnGraph(index: DataFrame, centroidsDf: DataFrame, k: Int,
               nprobe: Int, maxCellSize: Long = Long.MaxValue): DataFrame = {
    require(k >= 1 && nprobe >= 1,
      s"knnGraph: k=$k and nprobe=$nprobe must be >= 1")
    val cents = centroidsDf
      .select(col("centroid_id").cast("long"), col("centroid")).collect()
    require(cents.nonEmpty, "knnGraph: empty centroid table")
    val centLit = array(cents.map { r =>
      struct(lit(r.getLong(0)).as("cid"),
        array(r.getSeq[Float](1).map(lit(_)): _*)
          .cast("array<float>").as("c"))
    }: _*)
    // in-row walk: struct sort order (distance, centroid_id) is the
    // probe tie-break every IVF surface here uses
    val probes = index
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      .withColumn("_pc", explode(slice(array_sort(transform(centLit,
        c => struct(
          negCosGuarded(col("q_emb"), c.getField("c")).as("d"),
          c.getField("cid").as("cid")))), 1, nprobe)))
      .select(col("query_id"), col("q_emb"),
        col("_pc").getField("cid").as("centroid_id"))
    rankCellCandidates(probes, index, k, maxCellSize)
  }

  /** [[knnGraph]] with CELL-ADJACENCY probing — the form that survives a
    * centroid count that grows with the corpus. The per-vector literal
    * walk above costs n×C centroid distances; with cell sizes bounded
    * (C ∝ n after [[ivfRebalance]]) that term goes quadratic. Here the
    * probe set is a property of the CELL, not the vector: each centroid
    * precomputes its `nprobe` nearest centroids (its own cell ranks
    * first — cos(c,c) is maximal), a C²-but-centroid-sized broadcast
    * self-join, and every vector probes its assigned cell's adjacency
    * list via one broadcast join — O(1) per vector after assignment,
    * the standard IVF neighbor-cell trick. Recall differs from the
    * per-vector walk only for vectors near a cell boundary whose true
    * second cell is not among their centroid's neighbors; at
    * `nprobe = C` both degenerate to exact brute force (spec-pinned).
    */
  def knnGraphAdjacent(index: DataFrame, centroidsDf: DataFrame, k: Int,
                       nprobe: Int,
                       maxCellSize: Long = Long.MaxValue): DataFrame = {
    require(k >= 1 && nprobe >= 1,
      s"knnGraphAdjacent: k=$k and nprobe=$nprobe must be >= 1")
    val src = centroidsDf.select(col("centroid_id").as("_src"),
      col("centroid").as("_srcc"))
    val dst = broadcast(centroidsDf.select(col("centroid_id").as("_dst"),
      col("centroid").as("_dstc")))
    val wAdj = Window.partitionBy(col("_src"))
      .orderBy(col("_d").asc, col("_dst"))
    val adj = broadcast(src.crossJoin(dst)
      .withColumn("_d", negCosGuarded(col("_srcc"), col("_dstc")))
      .withColumn("_r", row_number().over(wAdj))
      .filter(col("_r") <= nprobe)
      .select(col("_src").as("centroid_id"), col("_dst")))
    val probes = index
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("centroid_id"))
      .join(adj, Seq("centroid_id"))
      .select(col("query_id"), col("q_emb"),
        col("_dst").as("centroid_id"))
    rankCellCandidates(probes, index, k, maxCellSize)
  }

  /** Shared candidate stage of the kNN-graph forms: join probe rows
    * `(query_id, q_emb, centroid_id)` to the index cell-to-cell, drop
    * self-edges, rank per query. `maxCellSize` drops oversized cells
    * from the candidate side (skew guard, documented recall trade). */
  private def rankCellCandidates(probes: DataFrame, index: DataFrame,
                                 k: Int, maxCellSize: Long): DataFrame = {
    val cand = index.select(col("centroid_id"),
      col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"))
    val candCapped =
      if (maxCellSize == Long.MaxValue) cand
      else {
        val big = cand.groupBy(col("centroid_id"))
          .agg(count(lit(1)).as("_n"))
          .filter(col("_n") > maxCellSize).select(col("centroid_id"))
        cand.join(broadcast(big), Seq("centroid_id"), "left_anti")
      }
    val scored = probes.join(candCapped, Seq("centroid_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_sim", cosineGuarded(col("q_emb"), col("c_emb")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("cos_sim"))
  }

  /** ONE round of kNN LABEL PROPAGATION: predict a label for every
    * UNLABELED node (null label) by plain majority vote of its LABELED
    * graph neighbors — the semi-supervised backfill step for partially
    * labeled corpora (quality tags, domain tags). Votes are integer
    * counts (no similarity weighting — weighted votes would put a float
    * comparison between engines; rank-weighted voting is a trivial
    * caller-side variant), ties break to the smallest label, and a node
    * with zero labeled neighbors emits NO row (the caller owns the
    * fallback policy; a silently-guessed label would poison downstream
    * training). Multi-round propagation = iterate with predictions
    * folded into `labels` — each round is this same one-shuffle vote.
    *
    * @param graph  `(query_id, rank, neighbor_id, …)` as produced by
    *               [[knnGraph]]/[[bruteTopK]]
    * @param labels `(vec_id, label)`, null label = unlabeled
    * @return `(vec_id, pred_label, n_votes, n_labeled)` for unlabeled
    *         nodes with ≥ 1 labeled neighbor
    */
  def labelPropagate(graph: DataFrame, labels: DataFrame): DataFrame = {
    val targets = labels.filter(col("label").isNull)
      .select(col("vec_id").as("query_id"))
    majorityVote(graph.join(targets, Seq("query_id")),
      labels.filter(col("label").isNotNull)
        .select(col("vec_id").as("neighbor_id"), col("label")))
  }

  /** The vote stage of [[labelPropagate]], exposed for serving paths
    * where EVERY query is a target (kNN classification of a fresh
    * batch against a labeled index — [[graft.streaming.StreamingAnn
    * .serveKnnClassify]]): per query, count neighbor labels and keep
    * the majority, ties to the smallest label.
    *
    * @param graph  `(query_id, …, neighbor_id, …)` edges
    * @param voters `(neighbor_id, label)`, null-free
    */
  def majorityVote(graph: DataFrame, voters: DataFrame): DataFrame =
    graph.join(voters, Seq("neighbor_id"))
      .groupBy(col("query_id"), col("label"))
      .agg(count(lit(1)).as("n_votes"))
      .groupBy(col("query_id"))
      .agg(
        min_by(struct(col("label"), col("n_votes")),
          struct(-col("n_votes"), col("label"))).as("_win"),
        sum(col("n_votes")).as("n_labeled"))
      .select(col("query_id").as("vec_id"),
        col("_win").getField("label").as("pred_label"),
        col("_win").getField("n_votes").as("n_votes"),
        col("n_labeled"))

  /** Multi-table hyperplane buckets: element t is the bucket id in hash
    * table t (per-table plane sets seeded independently). OR-construction:
    * a candidate pair need only collide in ONE table — the recall knob that
    * a single bucket set lacks. Native fused kernel
    * ([[graft.functions.HyperplaneBucketsExpr]]); bit-identical to
    * [[hyperplaneBucketsFold]] (asserted in SimilaritySpec). */
  def hyperplaneBuckets(emb: Column, dim: Int, numPlanes: Int,
                        numTables: Int): Column =
    graft.functions.HyperplaneBucketsExpr
      .hyperplane_buckets(emb, dim, numPlanes, numTables)

  /** Declarative fold form — the reference semantics the native kernel is
    * verified against. */
  private[graft] def hyperplaneBucketsFold(emb: Column, dim: Int, numPlanes: Int,
                                           numTables: Int): Column = {
    def shl(c: Column, i: Column) = call_function("shiftleft", c, i)
    transform(sequence(lit(0), lit(numTables - 1)), t => {
      val bits = transform(sequence(lit(0), lit(numPlanes - 1)), p => {
        val s = aggregate(
          zip_with(emb, sequence(lit(0), lit(dim - 1)),
            (x, j) => x.cast("double") *
              when(xxhash64(t * 1000 + p, j).bitwiseAND(1L) === 1L, 1.0)
                .otherwise(-1.0)),
          lit(0.0), (acc, v) => acc + v)
        when(s > 0, lit(1L)).otherwise(lit(0L))
      })
      // tag the bucket id with the table index so tables don't cross-match
      aggregate(
        zip_with(bits, sequence(lit(0), lit(numPlanes - 1)), (bv, i) => shl(bv, i)),
        t.cast("long") * 4294967296L, (a, bv) => a.bitwiseOR(bv))
    })
  }

  /** LSH-bucketed approximate top-k with multi-table OR-construction:
    * candidates are the union over `numTables` independent hyperplane
    * tables (explode + equi-join + distinct), scored exactly. Recall rises
    * with numTables; candidates per query stay bounded by bucket sizes —
    * the scale path when the corpus is too large to brute-force. */
  def lshTopK(queries: DataFrame, corpus: DataFrame, dim: Int,
              numPlanes: Int, k: Int, numTables: Int = 8): DataFrame = {
    val c = corpus.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("c_emb"),
      explode(hyperplaneBuckets(col("embedding"), dim, numPlanes, numTables))
        .as("bucket"))
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"),
      explode(hyperplaneBuckets(col("embedding"), dim, numPlanes, numTables))
        .as("bucket")))
    // dedupe multi-table collisions on the id pair only: the embeddings are
    // functionally determined by the ids, and hashing/comparing 64-float
    // arrays as group keys is pure overhead (dropDuplicates partial-aggs
    // map-side just like distinct would)
    val candidates = c.join(q, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "q_emb", "neighbor_id", "c_emb")
      .dropDuplicates(Seq("query_id", "neighbor_id"))
    val scored = candidates
      .withColumn("cos_sim", cosineGuarded(col("q_emb"), col("c_emb")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos_sim"))
  }

  /** SemDeDup-style semantic dedup — cluster-bounded embedding near-dup
    * removal (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", arXiv:2303.09540): assign
    * every vector to its nearest centroid ([[ivfAssign]] — one broadcast
    * pass + map-side argmin aggregation), then compare ONLY within cells.
    * A vector is a duplicate iff some SAME-CELL vector with a SMALLER id
    * scores cosine ≥ `threshold` (keep-lowest-id: deterministic, no RNG,
    * and an exact-duplicate family always keeps its first-ingested
    * member).
    *
    * Scale: pairwise work is Σ|cell|², not |corpus|² — the centroid count
    * is the dial (the paper's setting is ~0.1% of corpus size). The pair
    * join is ONE hash shuffle on `centroid_id`; `maxCellSize` is the same
    * skew guard as [[minhashPairs]]' maxBucketSize — an over-threshold
    * cell pairs O(n²), so oversized cells are SKIPPED (their vectors come
    * back is_dup = false / un-deduped; run exact dedup first, or train
    * more centroids).
    *
    * The decision is per-edge, NOT transitive: in a chain a~b~c with
    * cos(a,c) < threshold, both b and c are dropped (c via b) — the
    * SemDeDup contract (one representative per ε-neighborhood chain
    * head), not connected-components keep-one; [[DedupClusters]] is the
    * transitive tool when that is wanted.
    *
    * @param corpus (`vec_id` LONG, `embedding` ARRAY&lt;FLOAT&gt;) — the
    *   repo-wide vector contract
    * @param centroidsDf (`centroid_id`, `centroid`) — [[KMeans.fit]]
    *   output, [[TrainedState.loadCentroids]], or a stride slice
    * @return one row PER corpus vector: (vec_id, centroid_id, is_dup,
    *   dup_of, max_cos) — `dup_of` = the smallest qualifying lower-id
    *   cell-mate, `max_cos` its strongest qualifying similarity; both
    *   NULL on kept rows
    */
  def semanticDedup(corpus: DataFrame, centroidsDf: DataFrame,
                    threshold: Double, maxCellSize: Int = 0): DataFrame =
    semanticDedupFromIndex(ivfAssign(corpus, centroidsDf), threshold,
      maxCellSize)

  /** [[semanticDedup]] over an existing CODES INDEX (`vec_id`,
    * `centroid_id`, `embedding` — [[ivfAssign]] output /
    * [[TrainedState.loadIvfIndex]]). This is the production form: the
    * one-shot composition recomputes the assignment subtree once per
    * join side (Spark plans are trees — a diamond re-evaluates), which
    * is three corpus scans; with the index persisted
    * ([[TrainedState.saveIvfIndex]] — centroid_id-partitioned) each side
    * is a pruned columnar read of already-assigned rows, and the same
    * index serves the ANN probes and [[ivfFoldIn]] ingest. */
  def semanticDedupFromIndex(index: DataFrame, threshold: Double,
                             maxCellSize: Int = 0): DataFrame = {
    val assigned = index
    val cells =
      if (maxCellSize <= 0) assigned
      else {
        val ok = assigned.groupBy(col("centroid_id"))
          .agg(count(lit(1)).as("_cn"))
          .filter(col("_cn") <= maxCellSize)
          .select(col("centroid_id"))
        assigned.join(ok, Seq("centroid_id"), "left_semi")
      }
    val l = cells.select(col("centroid_id"), col("vec_id").as("_id_a"),
      col("embedding").as("_e_a"))
    val r = cells.select(col("centroid_id"), col("vec_id").as("_id_b"),
      col("embedding").as("_e_b"))
    // threshold filter BEFORE the per-victim aggregation: only qualifying
    // edges shuffle into the groupBy, and the cosine is computed map-side
    // inside the cell join's output stage
    val dups = l.join(r, Seq("centroid_id"))
      .filter(col("_id_a") < col("_id_b"))
      .withColumn("_cos", cosineGuarded(col("_e_a"), col("_e_b")))
      .filter(col("_cos") >= threshold)
      .groupBy(col("_id_b"))
      .agg(min(col("_id_a")).as("dup_of"), max(col("_cos")).as("max_cos"))
    val base = assigned.select(col("vec_id"), col("centroid_id"))
    base.join(dups, base("vec_id") === dups("_id_b"), "left")
      .select(col("vec_id"), col("centroid_id"),
        col("dup_of").isNotNull.as("is_dup"), col("dup_of"), col("max_cos"))
  }

  /** INCREMENTAL [[semanticDedup]]: decide a BATCH of new vectors against
    * an immutable codes index — the ingest-side admission check of the
    * build→persist→probe→fold-in lifecycle ([[ivfFoldIn]] admits the
    * keepers afterwards; [[IncrementalDedup.pairsAgainstIndex]] is the
    * MinHash sibling).
    *
    * Contract (spec-pinned): the returned decisions equal
    * [[semanticDedupFromIndex]] over (index ∪ assign(batch)) RESTRICTED
    * to batch ids — incremental == full rebuild, bucket for bucket
    * (`maxCellSize` counts the union's cells, matching the rebuild).
    * Under the ingest invariant of monotonically increasing ids this is
    * exactly "a new vector is dropped iff it matches anything already
    * admitted or an earlier batch-mate"; a redelivered (same-id) vector
    * pairs with its index copy only as id_a = id_b, which the
    * orientation filter drops — redelivery emits a kept row, not a dup.
    *
    * Scale: the BATCH side of the pair probe is broadcast (micro-batches
    * are small by nature; the index is the 100 TB side) — the index
    * never shuffles, one pruned scan per trigger. Decisions come back
    * one row per batch vector, same schema as [[semanticDedup]].
    */
  def semanticDedupAgainstIndex(newVectors: DataFrame, index: DataFrame,
                                centroidsDf: DataFrame, threshold: Double,
                                maxCellSize: Int = 0): DataFrame = {
    // staged: batchIdx feeds THREE plan branches (the union, the broadcast
    // probe side, and the decision base) — plans are trees, so without the
    // stage the batch crossJoin+argmin assignment runs three times per
    // call (and this runs once per streaming trigger). Batch-sized by
    // contract — the minhashPairs staging convention.
    val batchIdx = ivfAssign(newVectors, centroidsDf).localCheckpoint(true)
    val keep = Seq("vec_id", "centroid_id", "embedding").map(col)
    val all = index.select(keep: _*)
      .unionByName(batchIdx.select(keep: _*))
    val cells =
      if (maxCellSize <= 0) all
      else {
        val ok = all.groupBy(col("centroid_id"))
          .agg(count(lit(1)).as("_cn"))
          .filter(col("_cn") <= maxCellSize)
          .select(col("centroid_id"))
        all.join(ok, Seq("centroid_id"), "left_semi")
      }
    val l = cells.select(col("centroid_id"), col("vec_id").as("_id_a"),
      col("embedding").as("_e_a"))
    // victims are batch rows only — and the batch side broadcasts, so the
    // index side of the probe is a map-side pass, never a shuffle
    val r = broadcast(batchIdx.select(col("centroid_id"),
      col("vec_id").as("_id_b"), col("embedding").as("_e_b")))
    val dups = l.join(r, Seq("centroid_id"))
      .filter(col("_id_a") < col("_id_b"))
      .withColumn("_cos", cosineGuarded(col("_e_a"), col("_e_b")))
      .filter(col("_cos") >= threshold)
      .groupBy(col("_id_b"))
      .agg(min(col("_id_a")).as("dup_of"), max(col("_cos")).as("max_cos"))
    val base = batchIdx.select(col("vec_id"), col("centroid_id"))
    base.join(dups, base("vec_id") === dups("_id_b"), "left")
      .select(col("vec_id"), col("centroid_id"),
        col("dup_of").isNotNull.as("is_dup"), col("dup_of"), col("max_cos"))
  }

  /** HARD-NEGATIVE mining for contrastive/embedding training: for each
    * labeled query vector, the `k` most similar corpus vectors with a
    * DIFFERENT label — the high-similarity wrong-class examples a
    * triplet/InfoNCE loss learns most from (random negatives are mostly
    * trivial; `d_triplets` is the random-pair counterpart). Null-label
    * rows are excluded on both sides: an unlabeled candidate is not a
    * KNOWN negative.
    *
    * Same scale shape as [[bruteTopK]]: the query batch broadcasts, the
    * corpus never shuffles, the rank cut prunes per-partition. For
    * corpus sizes past brute reach, restrict the corpus side through an
    * ANN candidate stage first ([[ivfTopKFromIndex]] output joined back
    * on label) — the contract here is the exact baseline.
    *
    * @param queries / corpus: (`vec_id`, `embedding`, `label`)
    */
  def hardNegatives(queries: DataFrame, corpus: DataFrame,
                    k: Int): DataFrame = {
    val q = broadcast(queries.filter(col("label").isNotNull)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("label").as("q_label")))
    val c = corpus.filter(col("label").isNotNull)
      .select(col("vec_id").as("neighbor_id"),
        col("embedding").as("c_emb"), col("label").as("c_label"))
    val scored = c.join(q,
      col("query_id") =!= col("neighbor_id") &&
        col("c_label") =!= col("q_label"))
      .withColumn("cos_sim", cosineGuarded(col("q_emb"), col("c_emb")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("c_label").as("neighbor_label"), col("cos_sim"))
  }

  /** Semantic DECONTAMINATION: flag corpus vectors whose embedding sits
    * within `threshold` cosine of ANY eval/benchmark vector — the
    * embedding-space counterpart of the n-gram `d_decontaminate` probe
    * (catches paraphrased benchmark leakage that exact n-grams miss; the
    * contamination audit of modern LLM training pipelines).
    *
    * Scale shape: eval sets are KBs–MBs BY NATURE (same contract as the
    * n-gram probe's broadcast fingerprint set), so the eval side is
    * driver-collected and inlined as a LITERAL array with PRECOMPUTED
    * norms — the corpus pass is then MAP-ONLY: zero shuffles, no join,
    * nothing corpus-sized ever moves. Each corpus row folds once over
    * the eval array (corpus norm hoisted OUT of the lambda — computed
    * once per row, not once per eval element; the HOF re-evaluation
    * trap). Ties on max cosine keep the smallest eval id (strict `>`
    * keeps the first element of the id-ordered array).
    *
    * @param evalVecs (`vec_id`, `embedding`) — must be small enough to
    *   collect; enforced via `maxEvalRows`
    * @return one row per corpus vector: (vec_id, nearest_eval_id,
    *   max_eval_cos, contaminated)
    */
  def semanticContamination(corpus: DataFrame, evalVecs: DataFrame,
                            threshold: Double,
                            maxEvalRows: Int = 2000): DataFrame = {
    // norms precomputed driver-side with the same f32→f64 widen +
    // left-to-right fold as dotFold — bit-identical to the in-plan value
    def normOf(xs: Seq[Float]): Double =
      math.sqrt(xs.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble))
    // zero-norm eval vectors are excluded up front: dot/0 = NaN inside
    // the fold, and NaN (larger than everything in Spark) would beat
    // every finite score — ONE degenerate eval row would otherwise flag
    // the entire corpus as contaminated
    val evals = evalVecs.select(col("vec_id"), col("embedding"))
      .orderBy(col("vec_id")).collect()
      .filter(r => normOf(r.getSeq[Float](1)) > 0)
    require(evals.nonEmpty,
      "semanticContamination: empty eval set (after dropping zero-norm rows)")
    // the cap bounds the LITERAL PLAN, not memory: each eval row inlines
    // dim Literal nodes, so rows × dim is the analyzer's working set —
    // a few thousand rows is the practical ceiling. Larger eval sets
    // should be indexed (ivfAssign) and probed, not inlined.
    require(evals.length <= maxEvalRows,
      s"semanticContamination: ${evals.length} eval vectors exceed " +
        s"maxEvalRows=$maxEvalRows — index (ivfAssign) and probe instead")
    val evalArr = array(evals.map { r =>
      val emb = r.getSeq[Float](1)
      struct(lit(r.getLong(0)).as("id"),
        array(emb.map(lit): _*).cast("array<float>").as("emb"),
        lit(normOf(emb)).as("n"))
    }.toIndexedSeq: _*)
    // the fold ranks by s = dot/evalNorm — the corpus norm is a POSITIVE
    // per-row constant, so argmax(s) == argmax(cosine) and it stays OUT
    // of the lambda entirely (projection collapse would otherwise inline
    // the norm into the lambda body and re-evaluate it per eval element
    // — the HOF trap). cos = s/corpusNorm is applied once, outside; the
    // oracle mirrors this exact (d/nb)/na association.
    val best = aggregate(evalArr,
      struct(lit(-1L).as("id"), lit(Double.NegativeInfinity).as("s")),
      (acc, e) => {
        val s = dot(col("embedding"), e.getField("emb")) / e.getField("n")
        when(s > acc.getField("s"),
          struct(e.getField("id").as("id"), s.as("s"))).otherwise(acc)
      })
    // corpus-side zero-norm guard: s/0 = NaN would flag the degenerate
    // row as contaminated (NaN >= threshold is true in Spark); −∞ keeps
    // it visible and un-flagged — the cosineGuarded rule
    val cn = l2norm(col("embedding"))
    val cosOrNegInf = when(cn > 0, col("_best.s") / cn)
      .otherwise(lit(Double.NegativeInfinity))
    corpus.select(col("vec_id"), col("embedding"))
      .withColumn("_best", best)
      .select(col("vec_id"), col("_best.id").as("nearest_eval_id"),
        cosOrNegInf.as("max_eval_cos"),
        (cosOrNegInf >= threshold).as("contaminated"))
  }

  /** Row cap for localizing a rerank SHORTLIST to the driver (two
    * longs per row → ≤ 2 MB at the cap). Shortlists are
    * |queries| · k · rerank by construction — far below this for any
    * real probe batch. */
  private[similarity] val MaxLocalShortlistRows = 1 << 17

  /** Literal-`isin` id bound for the shortlist fetch — MEASURED, not
    * assumed (r15 verdict #3; IsinCapMeasure leg, SCALE.md r16):
    * Catalyst planning and per-row-group stat evaluation are O(values),
    * and with ids spread across every file (the stat-eval worst case —
    * nothing prunes) the literal fetch reads 1.15×/1.97×/7.95×/9.78×
    * the broadcast-join fallback at 10³/10⁴/10⁵/2¹⁷ ids. Up to ~4k ids
    * the two are within noise of each other on scattered ids while the
    * literal form keeps its row-group-pruning win whenever the ids
    * cluster; past the bound the fetch keeps the LOCALIZED shortlist
    * (one execution of the coarse stage) but joins it broadcast-shaped
    * instead of inlining the ids. Matches [[GraphAnn.MaxInlineFrontier]]
    * — the repo-wide inline-literal convention. */
  private[similarity] val MaxIsinShortlistIds = 1 << 12

  /** The exact-rerank FLOAT FETCH behind [[rerankShortlist]] (and the
    * OPQ codes-staged tail, which rotates the fetched rows): join a
    * bounded `(query_id, neighbor_id)` shortlist against the float
    * corpus and return `(query_id, neighbor_id, c_emb)`.
    *
    * The shortlist LOCALIZES (it is ≤ |queries|·k·rerank rows by
    * contract), so the corpus scan carries the candidate ids as an
    * `isin` literal — against the repo's vec_id-sorted persisted
    * layouts that is a row-group-pruned read of just the touched ids
    * (the [[GraphAnn]] frontier-fetch discipline applied to the rerank
    * tail). The previous shape — `broadcast(shortlist).join(corpus)` —
    * never shuffled the corpus but READ ALL of it per probe batch: an
    * O(corpus) scan per trigger that the 100× leg measured at 7× on
    * the IVF-PQ serve (SCALE.md r15). Localizing also means the coarse
    * stage executes exactly once (at the collect) instead of once per
    * downstream action. Past [[MaxLocalShortlistRows]] the fetch falls
    * back to the broadcast-join shape — same rows, full-read cost. */
  private[similarity] def shortlistEmbeddings(shortlist: DataFrame,
                                              corpus: DataFrame): DataFrame = {
    val spark = shortlist.sparkSession
    require(Seq("query_id", "neighbor_id")
        .forall(shortlist.schema.fieldNames.contains),
      "shortlistEmbeddings: shortlist must carry query_id, neighbor_id")
    // extra scalar columns (e.g. the int8 coarse score) ride through —
    // both fetch strategies preserve the full shortlist row
    val rows = shortlist.limit(MaxLocalShortlistRows + 1).collect()
    val cEmb = corpus.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("c_emb"))
    if (rows.length > MaxLocalShortlistRows)
      broadcast(shortlist).join(cEmb, Seq("neighbor_id"))
    else {
      import scala.jdk.CollectionConverters._
      val local = spark.createDataFrame(rows.toSeq.asJava, shortlist.schema)
      val nIdx = shortlist.schema.fieldIndex("neighbor_id")
      val ids = rows.map(_.getLong(nIdx)).distinct.toIndexedSeq
      if (ids.isEmpty || ids.length > MaxIsinShortlistIds)
        // empty, or past the measured literal-width crossover
        // ([[MaxIsinShortlistIds]]): localized (coarse stage ran once)
        // but join-shaped — same rows, no O(values) literal
        broadcast(local).join(cEmb, Seq("neighbor_id"))
      else cEmb.filter(col("neighbor_id").isin(ids: _*))
        .join(broadcast(local), Seq("neighbor_id"))
    }
  }

  /** The EXACT RE-RANK TAIL shared by every coarse→rerank serve (PQ /
    * IVF-PQ / int8 / binary / graph-PQ): fetch the short list's floats
    * through [[shortlistEmbeddings]], score `cosineGuarded` against the
    * broadcast `(vec_id, embedding)` queries, rank `(cos_sim desc,
    * neighbor_id)` and keep `k` per query. Returns `query_id, rank,
    * neighbor_id, cos_sim` followed by any extra short-list columns
    * (e.g. the int8 coarse `qdot`). The guarded cosine ranks a zero-norm
    * corpus vector last at −∞ instead of failing the query, and equals
    * [[cosine]] bit for bit whenever both norms are positive. */
  private[similarity] def rerankShortlist(shortlist: DataFrame,
                                          queries: DataFrame,
                                          corpus: DataFrame,
                                          k: Int): DataFrame = {
    val extras = shortlist.columns
      .filterNot(c => c == "query_id" || c == "neighbor_id")
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    shortlistEmbeddings(shortlist, corpus)
      .join(q, Seq("query_id"))
      .withColumn("cos_sim", cosineGuarded(col("q_emb"), col("c_emb")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select((Seq("query_id", "rank", "neighbor_id", "cos_sim") ++ extras)
        .map(col): _*)
  }
}
