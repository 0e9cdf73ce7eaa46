package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** GRAPH-BASED ANN: deterministic beam search over a prebuilt kNN graph
  * — the NSW/HNSW family's base-layer search, the third major ANN
  * architecture next to the hashing (LSH) and clustering (IVF/PQ)
  * families already in [[Similarity]] / [[IvfPq]]. The reference engine
  * has no ANN at all (its queries are exact relational pipelines over
  * metered readings); this is part of the training-data extension
  * surface, mirroring how FAISS/Lucene pair a graph index with the
  * quantization ladder.
  *
  * Shape: the graph is the output of [[Similarity.knnGraph]] /
  * [[Similarity.knnGraphAdjacent]] / [[Similarity.bruteTopK]] — directed
  * edges `(query_id, rank, neighbor_id, …)` with bounded out-degree.
  * Search starts every query at one shared entry node, then repeats
  * `hops` rounds of: expand the current best `beam` visited nodes
  * through their out-edges, score the newly reached nodes against the
  * query, and fold them into the visited set. The answer is the top-k
  * of everything visited. With `beam` ≥ |corpus| and enough hops on a
  * connected graph this degenerates to exact brute force
  * (spec-pinned, the [[Similarity.knnGraphAdjacent]] convention).
  *
  * Determinism/oracle contract: scoring is the f32→f64 widened
  * left-to-right cosine of every other ANN surface here (`e_ann_brute`
  * conventions), ties break `(score desc, node asc)` at BOTH the beam
  * cut and the final top-k, and the entry node is caller-pinned — so a
  * fixed-hop search unrolls to chained SQL CTEs and the whole output
  * replays in DuckDB (`e_ann_graph`).
  *
  * Scale design (100 TB): the graph and corpus NEVER shuffle and are
  * never collected — each hop joins the corpus-sized edge table against
  * a broadcast frontier (|queries| × beam rows, bounded by the same
  * bounded-query-batch contract as [[Similarity.bruteTopK]]), and
  * embedding fetch for scoring is a broadcast semi-probe into the
  * corpus. Per-hop work is |frontier| × out-degree candidate rows —
  * independent of corpus size, the whole point of graph ANN. The
  * visited set is localCheckpoint'd each hop (the [[KMeans]] /
  * [[graft.text.BpeTrain]] iterative-lineage convention), so plans stay
  * flat for any hop count.
  */
object GraphAnn {

  /** Beam search every row of `queries` through `edges` over `corpus`.
    *
    * @param queries bounded batch `(vec_id, embedding)` — broadcast side
    * @param edges   kNN-graph edges `(query_id, neighbor_id)` (extra
    *                columns ignored) as produced by
    *                [[Similarity.knnGraph]]-family builders
    * @param corpus  `(vec_id, embedding)` — the scoring source of truth
    * @param entryId shared entry node (must exist in `corpus`); the
    *                deterministic analog of HNSW's top-layer entry point
    * @param beam    expansion width per hop (HNSW's efSearch analog)
    * @param hops    search rounds; 0 scores only the entry node
    * @param k       neighbors returned per query
    * @param queryBound caller-known upper bound on the probe batch's
    *                row count (≥ 0), when available for free — e.g. an
    *                already-collected or localCheckpointed batch's
    *                length. Bounds the walk seed so the walk skips its
    *                guard count job; -1 (default) pays one bounded
    *                count instead. Strategy, never semantics.
    * @return `(query_id, rank, neighbor_id, cos_sim)` — rank 1..k by
    *         (cos_sim desc, neighbor_id asc) over the visited set minus
    *         the query itself; queries whose visited set holds only
    *         themselves emit no rows (the recall-zero convention)
    */
  def searchGraph(queries: DataFrame, edges: DataFrame, corpus: DataFrame,
                  entryId: Long, beam: Int, hops: Int, k: Int,
                  queryBound: Long = -1L): DataFrame =
    searchCore(queries, edges, corpus, entryId, beam, hops, k, None,
      seedBound = queryBound)

  /** METADATA-FILTERED beam search — the graph analog of the filtered
    * IVF surface: the WALK is unfiltered (restricting expansion to the
    * predicate's nodes would disconnect the graph and silently strand
    * whole regions — the standard filtered-graph-ANN design), and the
    * predicate binds at the FINAL rank, so the answer is exactly the
    * top-k of (visited ∩ matching). Recall under selective predicates
    * is therefore a beam/hops budget question: the walk must visit
    * enough matching nodes, same dial as unfiltered recall. The
    * contract `filtered == post-filter of the saturated unfiltered
    * search` is spec-pinned.
    *
    * @param pred row predicate over the corpus columns
    *             (e.g. `col("vec_id") % 3 === 0`)
    */
  def searchGraphFiltered(queries: DataFrame, edges: DataFrame,
                          corpus: DataFrame, entryId: Long, beam: Int,
                          hops: Int, k: Int,
                          pred: org.apache.spark.sql.Column): DataFrame =
    searchCore(queries, edges, corpus, entryId, beam, hops, k,
      Some(corpus.filter(pred)
        .select(col("vec_id").as("node"))))

  private def searchCore(queries: DataFrame, edges: DataFrame,
                         corpus: DataFrame, entryId: Long, beam: Int,
                         hops: Int, k: Int,
                         allowed: Option[DataFrame],
                         seedBound: Long = -1L,
                         mirrorCap: Int = MirrorCap): DataFrame =
    searchFrom(queries, edges, corpus,
      queries.select(col("vec_id").as("query_id"))
        .withColumn("node", lit(entryId)),
      Seq(entryId), beam, hops, k, allowed, includeSelf = false,
      mirrorCap = mirrorCap, seedBound = seedBound)

  /** [[searchGraph]] generalized to PER-QUERY entry points — the seam
    * [[Hnsw]]'s top-down descent needs: each layer's search starts from
    * the entry the layer above refined for THAT query, not one shared
    * node. `entries` is `(query_id, node)` (bounded — ≤ a few rows per
    * query by the bounded-query-batch contract); `entryIds` is the
    * distinct node list when the caller knows it (isin scan pruning,
    * [[scorer]]'s contract — pass Nil when unknown). `includeSelf`
    * keeps a query's own node rankable: the final cut of a DESCENT step
    * wants the closest visited node period (self included — it exists
    * in every lower layer too), while an ANSWER wants neighbors only.
    * `seedBound` is a caller-known upper bound on the seed row count
    * (≥ 0 — e.g. the length of an already-collected probe batch or
    * affected set): when it fits the mirror cap the walk skips its
    * guard count job; -1 means unknown.
    */
  private[similarity] def searchFrom(queries: DataFrame, edges: DataFrame,
                                     corpus: DataFrame, entries: DataFrame,
                                     entryIds: Seq[Long], beam: Int,
                                     hops: Int, k: Int,
                                     allowed: Option[DataFrame],
                                     includeSelf: Boolean,
                                     mirrorCap: Int = MirrorCap,
                                     maxLocalQueryRows: Long =
                                       MaxLocalQueryRows,
                                     maxLocalScoreCells: Long =
                                       MaxLocalScoreCells,
                                     seedBound: Long = -1L): DataFrame = {
    require(beam >= 1, s"searchGraph: beam=$beam must be >= 1")
    require(hops >= 0, s"searchGraph: hops=$hops must be >= 0")
    require(k >= 1, s"searchGraph: k=$k must be >= 1")
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"))
    val adj = edges.select(col("query_id").as("_src"),
      col("neighbor_id").as("_dst"))
    val nodes = corpus.select(col("vec_id").as("node"),
      col("embedding").as("n_emb"))

    val score = scorer(q, nodes) _

    val wBeam = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("node"))

    val visited = walkLoop(
      entries.select(col("query_id"), col("node")), entryIds,
      adj, score,
      // mirror-path scorer (r16): DRIVER-side cosine over the collected
      // probe batch + an isin-fetched, cached node-embedding slice —
      // one fetch job per hop's uncached ids, zero broadcast builds
      // (bit-exact to the DataFrame scorer: [[cosineGuardedLocal]]).
      // BYTE-BUDGETED exactly like the previous localized-q scorer: the
      // walk passes the seed row count (== |queries| here), the pull is
      // pre-gated, and a batch whose count × dim exceeds the cell
      // budget keeps the cluster-shaped scorer; the node-side cache
      // carries the same cell budget (exceeded → cleared, refetched).
      localScore = Some((seedRows: Long) => {
        if (seedRows > maxLocalQueryRows) None
        else {
          val qRows = q.collect()
          val cells = qRows.iterator.map(r =>
            if (r.isNullAt(1)) 1L else r.getSeq[Float](1).length.toLong)
            .foldLeft(0L)(_ + _)
          if (qRows.length > maxLocalQueryRows ||
              cells > maxLocalScoreCells) None
          else {
            val qMap =
              new java.util.HashMap[java.lang.Long, Array[Float]]()
            qRows.foreach { r =>
              if (!r.isNullAt(0)) {
                val id = java.lang.Long.valueOf(r.getLong(0))
                if (!qMap.containsKey(id))
                  qMap.put(id,
                    if (r.isNullAt(1)) null
                    else floatsOrNull(r.getSeq[Any](1)))
              }
            }
            Some(new CosineMirrorScorer(qMap, nodes, MaxInlineFrontier,
              maxLocalScoreCells))
          }
        }
      }),
      beam, hops,
      emptyOk = queries.limit(1).isEmpty,
      failMsg = "searchGraph: no entry node (of " +
        s"${entryIds.take(4).mkString(",")}" +
        s"${if (entryIds.length > 4) ",…" else ""}) is in the corpus",
      mirrorCap = mirrorCap, seedBound = seedBound)
    val eligible = allowed match {
      // the allowed set streams past the broadcast visited rows — the
      // corpus-derived side never shuffles for the filter
      case Some(a) => a.join(broadcast(visited), Seq("node"))
        .select(visited.columns.map(col).toIndexedSeq: _*)
      case None => visited
    }
    (if (includeSelf) eligible
     else eligible.filter(col("node") =!= col("query_id")))
      .withColumn("rank", row_number().over(wBeam))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("node").as("neighbor_id"),
        col("score").as("cos_sim"))
  }

  /** Frontiers up to this many rows are COLLECTED and inlined: the
    * frontier's node ids become an `isin` literal ON the edge scan —
    * with a [[TrainedState.saveGraphIndex]] artifact (range-partitioned,
    * source-sorted, tight min/max stats) that predicate prunes at the
    * row-group level, so a hop against a 100 TB edge table reads only
    * the files its frontier can touch. Above the cap the hop falls back
    * to the broadcast-frontier join (same result — the inline form is a
    * scan-pruning strategy, not a semantics change). The cap bounds the
    * literal list the [[Similarity]] eval-inlining convention's way. */
  private[graft] val MaxInlineFrontier = 4096

  /** Visited sets up to this many rows are MIRRORED on the driver
    * during a walk ([[walkLoop]]): the per-hop beam cut, fresh-node
    * dedup and fixpoint check all run in driver memory, so a hop costs
    * exactly TWO Spark jobs (expand-collect, score-collect) instead of
    * the distributed loop's four (frontier collect, fresh collect,
    * localCheckpoint, count) — measured as the saturated lifecycle
    * oracles' cost ceiling, where hop cost is driver-job round-trips,
    * not data. ~24 bytes/row: the cap bounds the mirror at a few MB.
    * Above it the walk SPILLS to the distributed loop mid-flight with
    * identical content — the mirror is an execution strategy, never a
    * semantics change (parity is spec-pinned bit-for-bit). */
  private[similarity] val MirrorCap = 1 << 18

  /** Row cap for localizing a probe batch's EMBEDDINGS on the driver
    * (the [[searchFrom]] localScore path) — the pre-pull gate. 2¹²
    * rows × the 4096-dim contract ceiling bounds the worst transient
    * pull at ~64 MB even before the cell budget below rejects it. */
  private[similarity] val MaxLocalQueryRows = 1 << 12

  /** Cell budget (rows × embedding width) for driver-localized
    * embedding batches: 2²² floats ≈ 16 MB of payload — a batch wider
    * or larger than this keeps the distributed scorer (checked on the
    * ACTUAL width after the row-capped collect, so no extra job probes
    * the width). The mirror walk stays available either way (it holds
    * only id/score tuples). */
  private[similarity] val MaxLocalScoreCells = 1L << 22

  /** The wBeam window's exact comparator — (score desc, node asc) with
    * Spark's double total order (NaN largest, -0.0 < 0.0), which
    * java.lang.Double.compare reproduces verbatim. */
  private[similarity] val mirrorOrd: Ordering[(Long, Long, Double)] =
    new Ordering[(Long, Long, Double)] {
      def compare(x: (Long, Long, Double), y: (Long, Long, Double)): Int = {
        val c = java.lang.Double.compare(y._3, x._3)
        if (c != 0) c else java.lang.Long.compare(x._2, y._2)
      }
    }

  /** The per-hop frontier cut: top-`beam` visited rows per query under
    * [[mirrorOrd]], via one bounded heap per query — O(V log beam)
    * driver CPU instead of the full per-query sort's O(V log V). At
    * [[MirrorCap]] saturation this is the hottest driver loop (re-run
    * per hop), and only the beam best ever matter. Content-identical
    * to `sorted(mirrorOrd).take(beam)`: mirrorOrd totally orders a
    * query's distinct nodes, and a seed-duplicate pair is two IDENTICAL
    * tuples, so whichever fills the boundary slot is the same row —
    * the walk-family parity specs hold bit-for-bit. The returned order
    * is unspecified (callers treat the frontier as a set). */
  private[similarity] def frontierCut(
      rows: Iterable[(Long, Long, Double)], beam: Int)
      : Array[(Long, Long, Double)] = {
    val heaps = scala.collection.mutable.HashMap
      .empty[Long, scala.collection.mutable.PriorityQueue[(Long, Long, Double)]]
    rows.foreach { t =>
      // max-heap under mirrorOrd: head is the WORST kept row
      val h = heaps.getOrElseUpdate(t._1, scala.collection.mutable
        .PriorityQueue.empty[(Long, Long, Double)](mirrorOrd))
      if (h.size < beam) h += t
      else if (mirrorOrd.compare(t, h.head) < 0) { h.dequeue(); h += t }
    }
    heaps.valuesIterator.flatMap(_.iterator).toArray
  }

  /** The shared hop recurrence of [[searchFrom]] and [[walkPq]]:
    * `hops` rounds of (beam-cut the visited set per query, expand the
    * frontier through `adj`, score the unvisited reached nodes, fold
    * them in), with the fixpoint early-exit. Returns the visited
    * `(query_id, node, score)` table.
    *
    * Strategy, not semantics: while the visited set fits [[MirrorCap]]
    * it lives in a DRIVER MIRROR — the frontier cut (the window's
    * (score desc, node asc) order, reproduced by [[mirrorOrd]] over the
    * same doubles), the already-visited anti-join and the convergence
    * test are plain Scala, and each hop runs exactly two bounded
    * cluster jobs: the frontier-pruned edge expansion (isin on the edge
    * scan when the frontier id list fits [[MaxInlineFrontier]] — the
    * row-group-pruning contract) and the fresh-node scoring (id-pruned
    * corpus/codes fetch, same cap). No per-hop checkpoint, no count.
    * The moment any collect would exceed the cap, the walk REBUILDS the
    * distributed visited set from the mirror and finishes in the
    * [[walkDistributed]] loop — the pre-mirror code path, byte-for-byte
    * the same recurrence. `hops = 0` stays a LAZY plan (no job at
    * construction — the simhashPairsFromSigs lesson).
    *
    * `emptyOk`/`failMsg`: an empty initial scored set with a non-empty
    * probe batch means the entry is absent (or its code rows are
    * incomplete) — fail loud instead of silent recall-zero; the
    * emptiness probe only runs on the failure path. */
  /** Driver-side adjacency cache cap for the mirror walk (rows). A
    * saturating walk re-expands the same out-lists every hop; caching
    * them makes most hops a SINGLE Spark job (the scoring fetch). */
  private val AdjCacheCap = 1 << 21

  /** The mirror walk's per-hop adjacency fetch, exposed for plan-shape
    * pinning (the spec pins the EXACT plan the hot loop runs): the
    * frontier chunk becomes an `isin` ON the edge scan — against a
    * persisted index ([[TrainedState.saveGraphIndex]] /
    * [[TrainedState.saveHnswIndex]]) the predicate prunes at the
    * row-group level, and a layer filter upstream partition-prunes to
    * the layer directory, so a descent hop against a 100 TB layered
    * index reads only the files its frontier can touch. */
  private[graft] def adjFetchPlan(adj: DataFrame,
                                  chunk: Seq[Long]): DataFrame =
    adj.filter(col("_src").isin(chunk: _*))
      .select(col("_src"), col("_dst"))

  /** DRIVER-side scorer for the mirror walk (r16): scores a fresh
    * (query, node) set entirely on the driver against cached node-side
    * data fetched in isin-chunked scans — ONE Spark job per hop for the
    * uncached slice, where the DataFrame scorer paid a scoring collect
    * PLUS broadcast-exchange build jobs per hop (measured: the
    * BroadcastExchange pool owned ~166 of e_ann_hnsw_fold_compact's 206
    * jobs per rep). Implementations REPLICATE their DataFrame scorer's
    * arithmetic and null semantics bit-for-bit: a NULL score (a
    * malformed embedding or a poisoned ADC part) is 0.0 in every regime
    * — the DataFrame scorers coalesce it, so the budget fallback and the
    * distributed walk rank it exactly like the mirror — and a pair whose
    * node-side rows are absent or malformed is OMITTED exactly like the
    * legacy inner join. */
  private[similarity] trait MirrorScorer {
    def score(pairs: Array[(Long, Long)]): Array[(Long, Long, Double)]
  }

  /** [[Similarity.cosineGuarded]] replicated driver-side: null array /
    * null element → null dot → NULL denominator → the `otherwise`
    * branch (-∞); positive denominator with a length-mismatched pair →
    * NULL score → 0.0 (the walk's one NULL semantic, [[MirrorScorer]]). */
  private[similarity] final class CosineMirrorScorer(
      qEmb: java.util.HashMap[java.lang.Long, Array[Float]],
      nodes: DataFrame, maxInline: Int,
      cellBudget: Long) extends MirrorScorer {
    private val cache =
      new java.util.HashMap[java.lang.Long, Array[Float]]()
    private val absent = new java.util.HashSet[java.lang.Long]()
    private val present = new java.util.HashSet[java.lang.Long]()
    private var cells = 0L

    private def fetch(missing: Array[Long]): Unit =
      missing.grouped(maxInline).foreach { chunk =>
        val rows = nodes
          .filter(col("node").isin(chunk.toIndexedSeq: _*))
          .select(col("node"), col("n_emb")).collect()
        rows.foreach { r =>
          if (!r.isNullAt(0)) {
            val id = java.lang.Long.valueOf(r.getLong(0))
            // first collected row wins a (contract-violating)
            // duplicate-id corpus, like the mirror's seen-dedup did
            if (present.add(id)) {
              val emb = if (r.isNullAt(1)) null
                else GraphAnn.floatsOrNull(r.getSeq[Any](1))
              cache.put(id, emb)
              if (emb != null) cells += emb.length
            }
          }
        }
        chunk.foreach { id =>
          if (!present.contains(id)) absent.add(id)
        }
      }

    def score(pairs: Array[(Long, Long)]): Array[(Long, Long, Double)] = {
      // transparent cache with a cell budget: exceeding it clears the
      // cache (later hops refetch — cost, never correctness)
      if (cells > cellBudget) {
        cache.clear(); present.clear(); cells = 0L
      }
      val missing = pairs.iterator.map(_._2).filter(id =>
        !present.contains(id) && !absent.contains(id))
        .toArray.distinct.sorted
      fetch(missing)
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Double)]
      pairs.foreach { case (q, n) =>
        if (present.contains(n) && qEmb.containsKey(q)) {
          val a = qEmb.get(q)
          val b = cache.get(n)
          out += ((q, n, GraphAnn.cosineGuardedLocal(a, b)))
        }
      }
      out.toArray
    }
  }

  /** The ADC scorer's driver twin: candidate code rows fetch in
    * isin-chunked scans, regroup per node with the EXACT sub-sequence
    * check (same drop semantics as the legacy inner-join + size filter
    * — see [[graft.functions.AdcLut]]), scores probe the same LUTs. */
  private[similarity] final class AdcMirrorScorer(
      luts: graft.functions.AdcLut.Luts, codeRows: DataFrame,
      numSub: Int, maxInline: Int) extends MirrorScorer {
    // node -> codes array; null value = malformed (drop every pair)
    private val cache =
      new java.util.HashMap[java.lang.Long, Array[Int]]()
    private val known = new java.util.HashSet[java.lang.Long]()
    private val scratch = new Array[Double](1)

    private def fetch(missing: Array[Long]): Unit =
      missing.grouped(maxInline).foreach { chunk =>
        val rows = codeRows
          .filter(col("node").isin(chunk.toIndexedSeq: _*))
          .select(col("node"), col("sub"), col("code")).collect()
        val bySrc = rows.filter(r => !r.isNullAt(0)).groupBy(_.getLong(0))
        bySrc.foreach { case (id, rs) =>
          val key = java.lang.Long.valueOf(id)
          known.add(key)
          // exact sub set 0..numSub-1, no nulls, no duplicates — else
          // the candidate drops (legacy: incomplete or over-complete
          // join output fails the size filter)
          val ok = rs.length == numSub && !rs.exists(r =>
            r.isNullAt(1) || r.isNullAt(2)) &&
            rs.map(_.getInt(1)).sorted.sameElements(0 until numSub)
          if (!ok) cache.put(key, null)
          else {
            val codes = new Array[Int](numSub)
            rs.foreach(r => codes(r.getInt(1)) = r.getInt(2))
            cache.put(key, codes)
          }
        }
        chunk.foreach { id =>
          val key = java.lang.Long.valueOf(id)
          if (!known.contains(key)) { known.add(key); cache.put(key, null) }
        }
      }

    def score(pairs: Array[(Long, Long)]): Array[(Long, Long, Double)] = {
      val missing = pairs.iterator.map(_._2)
        .filter(id => !known.contains(id)).toArray.distinct.sorted
      fetch(missing)
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Double)]
      pairs.foreach { case (q, n) =>
        val codes = cache.get(java.lang.Long.valueOf(n))
        if (codes != null)
          graft.functions.AdcLut.scoreLocal(luts, q, codes, scratch) match {
            case 2 => out += ((q, n, scratch(0)))
            case 1 => out += ((q, n, 0.0)) // NULL score → 0.0
            case _ => ()
          }
      }
      out.toArray
    }
  }

  private[similarity] def floatsOrNull(s: Seq[Any]): Array[Float] = {
    if (s == null) return null
    val out = new Array[Float](s.length)
    var i = 0
    val it = s.iterator
    while (it.hasNext) {
      val v = it.next()
      if (v == null) return null // null element poisons every dot
      out(i) = v.asInstanceOf[Float]
      i += 1
    }
    out
  }

  /** [[Similarity.cosineGuarded]]'s exact driver-side value, with the
    * walk's null→0.0 coercion applied (see [[MirrorScorer]]). */
  private[similarity] def cosineGuardedLocal(a: Array[Float],
                                             b: Array[Float]): Double = {
    def selfDot(x: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < x.length) { s += x(i).toDouble * x(i).toDouble; i += 1 }
      s
    }
    if (a == null || b == null) return Double.NegativeInfinity
    val denom = math.sqrt(selfDot(a)) * math.sqrt(selfDot(b))
    if (!(denom > 0)) Double.NegativeInfinity
    else if (a.length != b.length) 0.0 // NULL dot → NULL score → 0.0
    else {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s / denom
    }
  }

  private[similarity] def walkLoop(entries: DataFrame, entryIds: Seq[Long],
                                   adj: DataFrame,
                                   score: (DataFrame, Seq[Long]) => DataFrame,
                                   localScore: Option[Long => Option[MirrorScorer]],
                                   beam: Int, hops: Int,
                                   emptyOk: => Boolean, failMsg: => String,
                                   maxInline: Int = MaxInlineFrontier,
                                   mirrorCap: Int = MirrorCap,
                                   seedBound: Long = -1L): DataFrame = {
    // entries = (query_id, node) SEED PAIRS; the walk scores them itself
    // (r16) so the seed rides the driver scorer too — the pre-scored-
    // DataFrame shape paid a scoring collect + broadcast builds per walk
    if (hops == 0) return score(entries, entryIds)
    val spark = entries.sparkSession
    // the cap must bind BEFORE the driver pull, not after: an over-cap
    // seed (a caller ignoring the bounded-query-batch contract with a
    // huge fold-in batch) routes to the distributed walk without ever
    // materializing on the driver. When the caller KNOWS an upper
    // bound (a probe batch it already collected, a localized affected
    // set), the bound decides for free; otherwise ONE bounded count
    // job decides (plain count + collect, not limit+collect —
    // CollectLimitExec pays ~4 incremental partition-round jobs per
    // call even under the row count). The guard counts the seed PAIRS
    // (an upper bound of the scored seed — scoring only drops rows):
    // strategy choice, not semantics.
    if (seedBound < 0 || seedBound > mirrorCap) {
      val seedCount = entries.count()
      if (seedCount > mirrorCap) {
        val visited0 = score(entries, entryIds)
        return walkDistributed(visited0, adj, score, beam, hops, maxInline,
          emptyOk, failMsg)
      }
    }
    val ePairs = entries.select(col("query_id"), col("node")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // hot-loop scorer: a DRIVER-side [[MirrorScorer]] when the caller's
    // byte budget allows — per hop, ONE isin-chunked fetch job for the
    // uncached node slice and zero broadcast builds, vs the DataFrame
    // scorer's collect + BroadcastExchange jobs (the measured dominant
    // job source of the lifecycle gate rows); falls back to the
    // cluster-shaped `score` plan past the budget
    val driverScore = localScore.flatMap(_.apply(ePairs.length.toLong))
    val v0: Array[(Long, Long, Double)] = driverScore match {
      case Some(ms) => ms.score(ePairs)
      case None =>
        val ids = ePairs.map(_._2).distinct.sorted
        score(localPairs(spark,
            ePairs.map(t => org.apache.spark.sql.Row(t._1, t._2))),
          if (ids.length <= maxInline) ids.toIndexedSeq else Nil)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    }
    require(v0.nonEmpty || emptyOk, failMsg)
    // the mirror holds visited ROWS verbatim (a degenerate duplicate
    // (query, node) entry pair occupies two beam slots in the window
    // cut exactly like the distributed form); `seen` is the anti-join
    val mirror = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    val seen = scala.collection.mutable.HashSet.empty[(Long, Long)]
    v0.foreach { t =>
      mirror += t; seen += ((t._1, t._2))
    }
    // node → out-neighbors, fetched once per node in isin-chunked scans
    // (row-group pruned against a persisted index) and reused across
    // hops — re-expanded frontiers cost zero cluster work
    val adjCache = scala.collection.mutable.HashMap.empty[Long, Array[Long]]
    var adjRows = 0
    var hop = 0
    var converged = false
    var spill = false
    while (hop < hops && !converged && !spill) {
      val frontier = frontierCut(mirror, beam)
      val missing = frontier.map(_._2).distinct.sorted
        .filterNot(adjCache.contains)
      missing.grouped(maxInline).foreach { chunk =>
        if (!spill) {
          val rows = adjFetchPlan(adj, chunk.toIndexedSeq).collect()
          adjRows += rows.length
          rows.groupBy(_.getLong(0)).foreach { case (src, rs) =>
            adjCache(src) = rs.map(_.getLong(1)).distinct
          }
          chunk.foreach(id =>
            if (!adjCache.contains(id)) adjCache(id) = Array.emptyLongArray)
          if (adjRows > AdjCacheCap) spill = true
        }
      }
      if (!spill) {
        // driver-side expansion + already-visited anti-join — the
        // distributed form's join/distinct/anti-join, in memory
        val freshSet = scala.collection.mutable.LinkedHashSet.empty[(Long, Long)]
        frontier.foreach { case (qid, node, _) =>
          adjCache(node).foreach { dst =>
            val key = (qid, dst)
            if (!seen(key)) freshSet += key
          }
        }
        if (freshSet.size > mirrorCap) spill = true
        else if (freshSet.isEmpty) converged = true
        else {
          val fresh = freshSet.toArray
          val freshIds = fresh.map(_._2).distinct.sorted
          val scored: Array[(Long, Long, Double)] = driverScore match {
            case Some(ms) => ms.score(fresh)
            case None => score(
                localPairs(spark,
                  fresh.map(t => org.apache.spark.sql.Row(t._1, t._2))),
                if (freshIds.length <= maxInline) freshIds.toIndexedSeq
                else Nil).collect()
              .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
          }
          var added = 0
          scored.foreach { t =>
            if (seen.add((t._1, t._2))) { mirror += t; added += 1 }
          }
          // a fresh set whose every row drops in scoring (absent from
          // the corpus / incomplete codes) is the distributed loop's
          // unchanged-count fixpoint
          if (added == 0) converged = true
          else {
            hop += 1 // this hop COMPLETED — the spill handoff below
                     // must not re-run it
            if (mirror.length > mirrorCap) spill = true
          }
        }
      }
    }
    val mirrorDf = localScored(spark, mirror)
    if (!spill) mirrorDf
    // spill: the walk continues distributed over the same visited
    // content with the CLUSTER-shaped scorer — the recurrence is
    // content-deterministic, so the handoff cannot change the answer
    else walkDistributed(mirrorDf, adj, score, beam, hops - hop, maxInline,
      emptyOk, failMsg)
  }

  /** The pre-mirror distributed walk: per hop, eager checkpoint +
    * count (the iterative-lineage convention) with the unchanged-count
    * fixpoint exit. [[walkLoop]]'s over-cap entry and spill target. The
    * first checkpoint's count doubles as the scored-seed emptiness
    * check, so an over-cap seed that drops entirely in scoring fails
    * with `failMsg` like the mirrored walk, at no extra job. */
  private def walkDistributed(visitedIn: DataFrame, adj: DataFrame,
                              score: (DataFrame, Seq[Long]) => DataFrame,
                              beam: Int, hops: Int, maxInline: Int,
                              emptyOk: => Boolean,
                              failMsg: => String): DataFrame = {
    var visited = visitedIn.localCheckpoint(true)
    var visitedCount = visited.count()
    require(visitedCount > 0 || emptyOk, failMsg)
    var hop = 0
    var converged = false
    while (hop < hops && !converged) {
      // eager per-hop materialization: visited is small relative to the
      // corpus and re-read 3× next round
      visited = visited
        .unionByName(hopOnce(visited, adj, score, beam, maxInline))
        .localCheckpoint(true)
      // `hops` is a BUDGET: once a round adds no nodes, every further
      // round is a fixpoint, so stopping early returns the identical
      // answer (the count is free — visited is already materialized)
      val n = visited.count()
      converged = n == visitedCount
      visitedCount = n
      hop += 1
    }
    visited
  }

  /** Collect a BOUNDED id column (deletion-batch / affected-set
    * contracts) to a deduped, sorted LOCAL relation. Anti-joins and
    * semi-joins against the result broadcast WITHOUT scheduling a
    * Spark job (Project/Filter/Limit over a LocalRelation stay local
    * at plan time), where broadcasting the original plan re-executed
    * it once per action — measured as most of the lifecycle walks'
    * job count (each hop's edge fetch re-broadcast the deletion set).
    * Dedup runs driver-side so the result plan carries no Aggregate
    * (an Aggregate over a LocalRelation still schedules a tiny job). */
  private[similarity] def localIds(df: DataFrame,
                                   colName: String = "vec_id"): DataFrame =
    localIdRel(df.sparkSession, collectIds(df, colName), colName)

  /** The collect half of [[localIds]] — deduped, sorted; callers that
    * also need the COUNT (a walk seed bound) take the array. Collecting
    * an already-local relation schedules no job (LocalTableScanExec
    * returns its rows directly), so re-localizing is free. */
  private[similarity] def collectIds(df: DataFrame,
                                     colName: String = "vec_id")
      : Array[Long] =
    df.select(col(colName).cast("long")).collect()
      .map(_.getLong(0)).distinct.sorted

  /** The relation half of [[localIds]]. */
  private[similarity] def localIdRel(
      spark: org.apache.spark.sql.SparkSession, ids: Array[Long],
      colName: String = "vec_id"): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      ids.toSeq.map(org.apache.spark.sql.Row(_)).asJava,
      org.apache.spark.sql.types.StructType.fromDDL(s"$colName BIGINT"))
  }

  private def localScored(spark: org.apache.spark.sql.SparkSession,
                          rows: Iterable[(Long, Long, Double)]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      rows.map(t => org.apache.spark.sql.Row(t._1, t._2, t._3))
        .toSeq.asJava,
      org.apache.spark.sql.types.StructType.fromDDL(
        "query_id BIGINT, node BIGINT, score DOUBLE"))
  }

  /** One expansion round, exposed for plan-shape pinning: cut the
    * frontier (top-`beam` of `visited` per query), expand it through the
    * corpus-sized edge table, drop already-visited nodes, score the
    * fresh ones. The frontier is bounded (≤ |queries|·beam) by the
    * bounded-query-batch contract, so the hop collects it and probes the
    * edge table with a pushdown-able `isin`; the FRESH set (bounded by
    * frontier × out-degree) is collected the same way so the scorer's
    * corpus fetch is an id-pruned read, not a full corpus pass — the
    * measured difference between ~flat and linear search scaling
    * (Round19ScaleMeasure). Neither big side ever shuffles; a shuffled
    * edge table here is the 100 TB regression PlanShapeSpec guards
    * against. `score`'s second argument is the candidate id list for
    * scan pruning (empty = unknown, score everything it's handed). */
  private[similarity] def localPairs(
      spark: org.apache.spark.sql.SparkSession,
      rows: Array[org.apache.spark.sql.Row]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.toSeq.asJava,
      org.apache.spark.sql.types.StructType.fromDDL(
        "query_id BIGINT, node BIGINT"))
  }

  /** The LAZY expansion plan of one hop (exposed for plan pinning): cut
    * the frontier, probe the edge table with the frontier's node ids as
    * a pushdown-able `isin`, drop already-visited nodes. The edge side
    * NEVER shuffles. */
  private[graft] def expandFrontier(visited: DataFrame, adj: DataFrame,
                                    beam: Int,
                                    maxInline: Int = MaxInlineFrontier)
      : DataFrame = {
    val spark = visited.sparkSession
    val wBeam = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("node"))
    val frontier = visited
      .withColumn("_r", row_number().over(wBeam))
      .filter(col("_r") <= beam)
      .select(col("query_id"), col("node"))
    // capped collect: limit+1 bounds driver memory BEFORE looking — an
    // over-cap frontier falls back to the broadcast join without ever
    // materializing on the driver
    val rows = frontier.limit(maxInline + 1).collect()
    val reached =
      if (rows.length <= maxInline) {
        // LocalRelation frontier + isin literal on the scan: no upstream
        // stages behind the broadcast build, and the predicate reaches
        // the parquet row groups of a persisted index
        val frontierLocal = localPairs(spark, rows)
        val nodeIds = rows.map(_.getLong(1)).distinct.sorted
        adj.filter(col("_src").isin(nodeIds.toIndexedSeq: _*))
          .join(broadcast(frontierLocal),
            adj("_src") === frontierLocal("node"))
          .select(col("query_id"), col("_dst").as("node"))
          .distinct()
      } else
        adj.join(broadcast(frontier), adj("_src") === frontier("node"))
          .select(col("query_id"), col("_dst").as("node"))
          .distinct()
    // visited is bounded (≤ |q|·beam·deg·hops) — broadcast the anti
    // side so the dedup never sorts or shuffles either small set
    reached.join(
      broadcast(visited.select(col("query_id"), col("node"))),
      Seq("query_id", "node"), "left_anti")
  }

  private[graft] def hopOnce(visited: DataFrame, adj: DataFrame,
                             score: (DataFrame, Seq[Long]) => DataFrame,
                             beam: Int,
                             maxInline: Int = MaxInlineFrontier): DataFrame = {
    val fresh = expandFrontier(visited, adj, beam, maxInline)
    // capped collect (limit+1): an over-cap fresh set is never pulled to
    // the driver — the scorer streams it without the isin pruning
    val freshRows = fresh.limit(maxInline + 1).collect()
    if (freshRows.length <= maxInline)
      score(localPairs(visited.sparkSession, freshRows),
        freshRows.map(_.getLong(1)).distinct.sorted.toIndexedSeq)
    else score(fresh, Nil)
  }

  /** The scoring closure [[searchGraph]] uses, exposed with it for
    * plan pinning: fetch candidate embeddings by broadcast probe into
    * the corpus — id-pruned via `candIds` when the hop knows them (the
    * isin reaches the corpus parquet scan) — then attach the broadcast
    * query embedding. The big side stays shuffle-free in both joins. A
    * NULL cosine (length mismatch) scores 0.0, as in the mirror. */
  private[graft] def scorer(q: DataFrame, nodes: DataFrame)
                           (cand: DataFrame, candIds: Seq[Long]): DataFrame = {
    val fetched =
      if (candIds.nonEmpty && candIds.length <= MaxInlineFrontier)
        nodes.filter(col("node").isin(candIds: _*))
      else nodes
    fetched.join(broadcast(cand), Seq("node"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("node"),
        coalesce(Similarity.cosineGuarded(col("q_emb"), col("n_emb")),
          lit(0.0)).as("score"))
  }

  /** DiskANN-shaped serving: graph beam search scored by PQ CODES — the
    * hop loop reads only the graph adjacency and the numSub-int code
    * rows (ADC table lookups, ordered-fold summed like
    * [[ProductQuantizer.topKWith]]), and the float corpus is touched
    * exactly once, by the final exact re-rank of the `k·rerank` ADC
    * survivors. This is the architecture that serves billion-vector
    * indexes from media where float vectors don't fit: adjacency + codes
    * stay hot, full vectors stay cold (Subramanya et al., DiskANN,
    * NeurIPS 2019 — re-expressed as the same broadcast-frontier hop as
    * [[searchGraph]], so every scale property carries over: the big
    * sides never shuffle, per-hop cost is frontier × degree, `hops` is a
    * budget with the fixpoint early-exit).
    *
    * Determinism: ADC parts fold in subspace order (the e_ann_pq_full
    * convention), beam and rank ties break on node id — a planted exact
    * duplicate shares the query's codes, rides the beam at the query's
    * own ADC self-score, and the exact re-rank pins it at cosine 1.
    *
    * @param codes  PQ codes `(vec_id, sub, code)` ([[ProductQuantizer.encode]])
    * @param books  codebooks `(sub, code, centroid)` — broadcast-sized
    * @param corpus float vectors, read ONLY by the final re-rank
    * @param rerank exact-re-scored candidate depth multiplier (× k)
    */
  def searchGraphPq(queries: DataFrame, edges: DataFrame, codes: DataFrame,
                    books: DataFrame, dim: Int, numSub: Int,
                    corpus: DataFrame, entryId: Long, beam: Int, hops: Int,
                    k: Int, rerank: Int = 4): DataFrame = {
    require(beam >= 1 && hops >= 0 && k >= 1 && rerank >= 1,
      s"searchGraphPq: beam=$beam hops=$hops k=$k rerank=$rerank must " +
        "all be >= 1 (hops >= 0)")
    val ctx = pqSearcher(queries, codes, books, dim, numSub)
    val entries = ctx.qLocal.select(col("vec_id").as("query_id"))
      .withColumn("node", lit(entryId))
    val visited = walkPq(ctx, edges, entries, Seq(entryId), beam, hops)
    rerankPqTail(ctx, corpus, visited, k, rerank)
  }

  /** Prepared per-query ADC context — the codes-only scoring half of
    * [[searchGraphPq]], factored out so the HNSW hierarchy composes the
    * SAME walk per layer ([[Hnsw.searchPq]]) instead of duplicating it:
    * the bounded probe batch collected once to a local relation, the
    * broadcast per-(query, sub, code) ADC lookup table, and the scorer
    * closure (candidates probe the codes table — broadcast cand,
    * id-pruned scan when the hop knows the candidate ids; parts fold in
    * subspace order, incomplete code rows dropped). */
  private[graft] final case class PqCtx(
      qLocal: DataFrame, qCount: Long,
      scoreAdc: (DataFrame, Seq[Long]) => DataFrame,
      mirrorScorer: MirrorScorer)

  private[graft] def pqSearcher(queries: DataFrame, codes: DataFrame,
                                books: DataFrame, dim: Int,
                                numSub: Int): PqCtx = {
    require(numSub >= 1 && dim % numSub == 0,
      s"searchGraphPq: numSub=$numSub must divide dim=$dim — a silent " +
        "floor would drop the tail dimensions from every ADC score")
    val subDim = dim / numSub
    // bounded probe batch → local relation holding each query once (the
    // topKWith convention: all downstream broadcasts derive from memory,
    // not repeated scans); re-collecting the local relation is job-free
    val qLocal = ProductQuantizer.localQueries(queries)
    val qRows = qLocal.collect()
    // codebooks are broadcast-sized BY CONTRACT — collect them once, so
    // the lookup tables below derive entirely from memory and no hop's
    // scoring job ever re-executes the caller's codebook-training plan
    // (measured pre-r15: the stride/k-means books plan re-ran on every
    // hop's scoring job)
    val booksLocalRows = books.select(col("sub").cast("int"),
      col("code").cast("int"), col("centroid")).collect()
    // FUSED ADC scorer (r16): the per-query lookup tables build
    // driver-side from the ALREADY-collected probe batch and codebooks
    // — the legacy shape materialized a |q|·numSub·|codes| ADC table
    // and, per hop, joined it against the exploded candidate code rows
    // through a per-(query, node) hash aggregate (collect_list +
    // sort_array + interpreted fold). Now each hop regroups the
    // fetched candidates' code rows to per-node arrays ONCE
    // (query-independent, numSub× fewer aggregate inputs) and scores
    // each (query, node) pair with one codegen expression
    // ([[graft.functions.AdcLut]]; bit-identical contract documented
    // there, drop semantics pinned by the exact sub-sequence filter —
    // the e_ann_graph_pq / e_ann_hnsw_pq oracles replay this exactly).
    val luts = graft.functions.AdcLut.build(qRows, 0, 1, booksLocalRows,
      numSub, subDim)
    val codeRows = codes.select(col("vec_id").as("node"), col("sub"),
      col("code"))
    def scoreAdc(cand: DataFrame, candIds: Seq[Long]): DataFrame = {
      val probed =
        if (candIds.nonEmpty && candIds.length <= MaxInlineFrontier)
          codeRows.filter(col("node").isin(candIds: _*))
        else codeRows
      val probedArr = probed
        .groupBy(col("node"))
        .agg(sort_array(collect_list(struct(col("sub"), col("code"))))
          .as("_sc"))
        .filter(size(col("_sc")) === numSub &&
          transform(col("_sc"), p => p.getField("sub")) ===
            sequence(lit(0), lit(numSub - 1)))
        .select(col("node"),
          transform(col("_sc"), p => p.getField("code")).as("codes"))
      probedArr.join(broadcast(cand), Seq("node"))
        .filter(graft.functions.AdcLut.adc_keep(
          col("query_id"), col("codes"), luts))
        .select(col("query_id"), col("node"),
          coalesce(graft.functions.AdcLut.adc_score(
            col("query_id"), col("codes"), luts), lit(0.0)).as("score"))
    }
    // ONE driver scorer per context: the node→codes cache is
    // layer-independent, so the HNSW descent's per-layer walks share it
    PqCtx(qLocal, qRows.length.toLong, scoreAdc _,
      new AdcMirrorScorer(luts, codeRows, numSub, MaxInlineFrontier))
  }

  /** The codes-only beam walk from PER-ENTRY seeds: seed `entries`
    * `(query_id, node)` scored by ADC, then the [[hopOnce]] recurrence
    * at `beam` with the fixpoint early-exit. Returns the visited
    * `(query_id, node, score)` table — callers cut it (top-1 for a
    * descent step, `k·rerank` shortlist for an answer). Fails loud when
    * no seed has complete code rows (a silent recall-zero otherwise). */
  private[similarity] def walkPq(ctx: PqCtx, edges: DataFrame,
                                 entries: DataFrame, entryIds: Seq[Long],
                                 beam: Int, hops: Int,
                                 mirrorCap: Int = MirrorCap): DataFrame = {
    require(beam >= 1 && hops >= 0,
      s"walkPq: beam=$beam (>=1), hops=$hops (>=0)")
    val adj = edges.select(col("query_id").as("_src"),
      col("neighbor_id").as("_dst"))
    // empty initial scored set with a non-empty probe batch = the entry
    // is absent from the codes index (or its code rows are incomplete —
    // scoreAdc's completeness filter drops short rows): walkLoop fails
    // loud, not silent recall-zero (qLocal is already collected, so the
    // emptiness probe is free)
    // scoreAdc is already mirror-shaped: qLocal and the codebooks are
    // local relations, so its per-hop broadcasts schedule no real work.
    // The probe batch is ALREADY counted (qLocal), and descent entries
    // carry one row per query — qCount bounds the seed, so the walk
    // never pays a guard count here
    walkLoop(entries, entryIds, adj, ctx.scoreAdc,
      localScore = Some(_ => Some(ctx.mirrorScorer)),
      beam, hops, emptyOk = ctx.qCount == 0,
      failMsg = "searchGraphPq: no entry node has complete code rows",
      mirrorCap = mirrorCap, seedBound = ctx.qCount)
  }

  /** The ONLY float-vector touch: exact re-rank of the `k·rerank` ADC
    * shortlist cut from a [[walkPq]] visited table. */
  private[similarity] def rerankPqTail(ctx: PqCtx, corpus: DataFrame,
                                       visited: DataFrame, k: Int,
                                       rerank: Int): DataFrame = {
    require(k >= 1 && rerank >= 1,
      s"rerankPqTail: k=$k rerank=$rerank must be >= 1")
    val wBeam = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("node"))
    val shortlist = visited
      .filter(col("node") =!= col("query_id"))
      .withColumn("_r", row_number().over(wBeam))
      .filter(col("_r") <= k * rerank)
      .select(col("query_id"), col("node").as("neighbor_id"))
    Similarity.rerankShortlist(shortlist, ctx.qLocal, corpus, k)
  }

  /** NSW-style INCREMENTAL INSERT: attach a batch of new vectors to an
    * existing graph by SEARCHING it — each new vector's `degree` nearest
    * search results become its out-edges, reverse edges point back, and
    * every touched node's out-list re-prunes to the best `degree` (the
    * bounded-degree invariant every navigable-graph index maintains).
    * This is how graph indexes actually grow at serving time — no
    * corpus-wide rebuild, no all-pairs work: cost per batch is one
    * [[searchGraph]] over the batch plus a window re-prune of the
    * touched-source rows only.
    *
    * Batch semantics: all new vectors search the PRE-BATCH graph (the
    * standard bulk-parallel approximation of sequential NSW insertion —
    * batch-mates don't link to each other within one call; insert in
    * smaller batches when intra-batch linkage matters). An exact
    * duplicate of an indexed vector scores cosine 1 against it, so the
    * mutual edge survives ANY degree prune — the planted-contract
    * backbone of `e_ann_graph_incremental`.
    *
    * Scale: `edges` stays distributed throughout; only sources touched
    * by reverse edges re-sort (one window over a broadcast-semi-joined
    * slice), the untouched remainder passes through unchanged.
    *
    * @param batch new vectors `(vec_id, embedding)` — bounded per call
    *              (the searchGraph query-batch contract)
    * @param batchBound caller-known upper bound on the batch's row
    *              count (≥ 0), when available for free — e.g. the
    *              length of an already-collected or localCheckpointed
    *              batch. Bounds the insert search's walk seed so the
    *              walk skips its guard count job; -1 (default) pays
    *              one bounded count instead. Strategy, never
    *              semantics: results are identical either way.
    * @return the updated edge table, same schema as [[searchGraph]]'s
    *         input: `(query_id, rank, neighbor_id, cos_sim)`
    */
  def insertBySearch(edges: DataFrame, corpus: DataFrame, batch: DataFrame,
                     entryId: Long, beam: Int, hops: Int,
                     degree: Int, batchBound: Long = -1L): DataFrame = {
    val (untouched, changed) = insertBySearchParts(edges, corpus, batch,
      entryId, beam, hops, degree, batchBound)
    untouched.unionByName(changed)
  }

  /** [[insertBySearch]] split into (untouched passthrough, CHANGED
    * slice) — the changed slice is the touched sources' re-pruned
    * out-lists plus the new nodes' forward edges, i.e. exactly the
    * rows a DELTA WRITE must persist ([[TrainedState.appendHnswDelta]]):
    * production fold-in appends the changed slice and leaves the
    * untouched corpus-sized remainder's files in place, so insert
    * write cost scales with the BATCH, not the index. Both halves
    * carry the [[searchGraph]] edge schema. */
  private[graft] def insertBySearchParts(edges: DataFrame,
                                              corpus: DataFrame,
                                              batch: DataFrame,
                                              entryId: Long, beam: Int,
                                              hops: Int, degree: Int,
                                              batchBound: Long = -1L,
                                              mirrorCap: Int = MirrorCap)
      : (DataFrame, DataFrame) = {
    require(degree >= 1, s"insertBySearch: degree=$degree must be >= 1")
    // the search output (|batch| × degree rows) localizes once when it
    // fits `mirrorCap` (past it, it stays distributed): forward/reverse/
    // touched all derive from it, and the touched-source slice prunes
    // the edge scan with a LITERAL `isin` (row-group pruning against the
    // saveGraphIndex layout). Null-key semantics preserved: the legacy
    // left_anti KEPT null-query_id edge rows (null keys match nothing),
    // so the passthrough filter keeps them explicitly.
    val (found, foundRows) = Similarity.localizeBoundedRows(
      searchCore(batch, edges, corpus, entryId, beam, hops, degree,
        allowed = None, seedBound = batchBound, mirrorCap = mirrorCap),
      mirrorCap)
    // new nodes' out-edges: the search results verbatim (already ranked
    // 1..degree by the searchGraph contract)
    val forward = found.select(col("query_id"), col("rank"),
      col("neighbor_id"), col("cos_sim"))
    // reverse edges: candidate rows for the touched sources, then ONE
    // re-prune window over (existing ∪ reverse) rows of those sources
    val reverse = found.select(col("neighbor_id").as("query_id"),
      col("query_id").as("neighbor_id"), col("cos_sim"))
    val touchedIds = foundRows.map(_.filter(!_.isNullAt(2))
      .map(_.getLong(2)).distinct.sorted.toIndexedSeq)
    val old = edges.select(col("query_id"), col("rank"),
      col("neighbor_id"), col("cos_sim"))
    // original ranks ride through — no corpus-wide window; only the
    // touched slice re-sorts
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    // past the inline cap, or with the search output distributed, the
    // broadcast-join shape returns (same rows; the literal list is a
    // scan-pruning strategy, not semantics)
    val (untouched, touchedSlice) = touchedIds match {
      case Some(ids) if ids.length <= MaxInlineFrontier =>
        (old.filter(col("query_id").isNull || !col("query_id").isin(ids: _*)),
         old.drop("rank").filter(col("query_id").isin(ids: _*)))
      case _ =>
        val touched = reverse.select(col("query_id")).distinct()
        (old.join(broadcast(touched), Seq("query_id"), "left_anti"),
         old.drop("rank").join(broadcast(touched), Seq("query_id")))
    }
    val repruned = touchedSlice
      .unionByName(reverse)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= degree)
    val cols = Seq(col("query_id"), col("rank"), col("neighbor_id"),
      col("cos_sim"))
    (untouched.select(cols: _*),
      repruned.unionByName(forward).select(cols: _*))
  }

  /** REPAIR the degree holes a [[graphForget]] leaves: every AFFECTED
    * source (one that lost an out-edge because its target was deleted)
    * re-derives its out-list by SEARCHING the post-forget graph — the
    * [[insertBySearch]] machinery pointed at healing instead of growth.
    * The repaired out-list is the top-`degree` of (surviving out-edges ∪
    * saturated-enough search results), so repair can only ADD recall
    * over the hole-y graph, and with saturating `beam`/`hops` on a graph
    * whose live nodes stay reachable from `entryId` it equals the
    * out-lists a full rebuild would produce for those sources
    * (spec-pinned; unreachable live nodes degrade it gracefully to
    * "best reachable", never to unsoundness).
    *
    * Scale: the untouched remainder of the edge table passes through
    * without a shuffle (broadcast anti-join on the bounded affected
    * set); repair cost is one [[searchGraph]] over the affected batch
    * (bounded by |deleteIds| × max in-degree — the deletion-batch
    * contract) plus one window over the affected slice.
    *
    * @param affected `(vec_id)` sources to re-derive — callers usually
    *                 get this from [[graphForgetRepaired]]
    */
  def graphRepair(keptEdges: DataFrame, liveCorpus: DataFrame,
                  affected: DataFrame, entryId: Long, beam: Int,
                  hops: Int, degree: Int): DataFrame = {
    require(degree >= 1, s"graphRepair: degree=$degree must be >= 1")
    // repair is construction-eager anyway (the walk below) — localize
    // the bounded affected set so every downstream broadcast of it
    // (walk hops, slice joins, the final passthrough anti-join) is
    // job-free instead of re-executing the affected-set derivation;
    // its length also bounds the walk seed (one seed row per affected
    // source), so the walk skips its guard count
    val affIds = collectIds(affected)
    val aff = broadcast(localIdRel(keptEdges.sparkSession, affIds))
    val queries = liveCorpus.join(aff, Seq("vec_id"))
    val found = searchCore(queries, keptEdges, liveCorpus, entryId, beam,
      hops, degree, allowed = None, seedBound = affIds.length.toLong)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    val affectedOld = keptEdges
      .join(aff.withColumnRenamed("vec_id", "query_id"), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"), col("cos_sim"))
    // the search re-finds surviving targets with the identical
    // deterministic score, so the pair-dedup drops exact duplicates
    val repairedSlice = affectedOld
      .unionByName(found.select(col("query_id"), col("neighbor_id"),
        col("cos_sim")))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= degree)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("cos_sim"))
    keptEdges
      .join(aff.withColumnRenamed("vec_id", "query_id"), Seq("query_id"),
        "left_anti")
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("cos_sim"))
      .unionByName(repairedSlice)
  }

  /** [[graphForget]] + [[graphRepair]] in one lifecycle step, with the
    * receipts extended by `n_repaired` — how many surviving sources
    * lost an edge to each deleted id and had their out-list re-derived
    * (0 for never-indexed ids, the negative-confirmation convention).
    * The entry node must survive the deletion ([[searchGraph]]'s
    * entry-in-corpus contract fails loudly otherwise — a repair routed
    * through a deleted entry would silently heal nothing).
    *
    * @return (repaired edges, receipts `(vec_id, n_out_removed,
    *         n_in_removed, was_indexed, n_repaired)`)
    */
  def graphForgetRepaired(edges: DataFrame, corpus: DataFrame,
                          deleteIds: DataFrame, entryId: Long, beam: Int,
                          hops: Int, degree: Int)
      : (DataFrame, DataFrame) = {
    // one bounded collect; every anti-join below broadcasts job-free
    val ids = broadcast(localIds(deleteIds))
    val (kept, _) = graphForgetWith(edges, ids)
    val affected = affectedSources(edges, ids)
    val live = corpus.join(ids, Seq("vec_id"), "left_anti")
    val repaired = graphRepair(kept, live, affected, entryId, beam, hops,
      degree)
    (repaired, forgetRepairReceiptsWith(edges, ids))
  }

  /** Live sources that pointed at a deleted node — the set
    * [[graphRepair]] re-derives. Package-visible so the layered
    * composition ([[Hnsw.forgetRepaired]]) derives the same set per
    * layer instead of re-spelling the join. */
  private[similarity] def affectedSources(edges: DataFrame,
                                          ids: DataFrame): DataFrame =
    edges
      .join(ids.withColumnRenamed("vec_id", "neighbor_id"),
        Seq("neighbor_id"))
      .select(col("query_id").as("vec_id")).distinct()
      .join(ids, Seq("vec_id"), "left_anti")

  /** The [[graphForgetRepaired]] receipts WITHOUT running the repair
    * search — pure edge-table accounting ([[graphForget]]'s receipts +
    * `n_repaired`), for audit-first callers. The repair's hop loop is
    * driver-eager at construction, so a receipts-only consumer must not
    * pay for it. */
  def forgetRepairReceipts(edges: DataFrame,
                           deleteIds: DataFrame): DataFrame =
    forgetRepairReceiptsWith(edges,
      broadcast(deleteIds.select(col("vec_id")).distinct()))

  /** [[forgetRepairReceipts]] against a caller-prepared DISTINCT id
    * relation (the [[graphForgetWith]] convention). */
  private[similarity] def forgetRepairReceiptsWith(edges: DataFrame,
                                                   ids: DataFrame)
      : DataFrame = {
    val (_, receipts) = graphForgetWith(edges, ids)
    val nRepaired = edges
      .join(ids.withColumnRenamed("vec_id", "neighbor_id"),
        Seq("neighbor_id"))
      // deleted sources are gone, not repaired — they don't count
      .join(ids.withColumnRenamed("vec_id", "query_id"), Seq("query_id"),
        "left_anti")
      .groupBy(col("neighbor_id").as("vec_id"))
      .agg(countDistinct(col("query_id")).as("n_repaired"))
    receipts.join(nRepaired, Seq("vec_id"), "left")
      .select(col("vec_id"), col("n_out_removed"), col("n_in_removed"),
        col("was_indexed"),
        coalesce(col("n_repaired"), lit(0L)).as("n_repaired"))
  }

  /** FORGET a set of node ids: drop their out-edges and every edge
    * pointing at them, with a per-requested-id receipt (the
    * [[Similarity.ivfForget]] deletion-receipt convention — an absent id
    * confirms NEGATIVELY rather than vanishing). Remaining out-lists are
    * NOT topped back up here (a forget leaves degree holes by design —
    * search correctness degrades only in recall, never in soundness,
    * because scoring always reads the live corpus); [[graphRepair]] /
    * [[graphForgetRepaired]] are the reinsert-by-search complement that
    * heals the holes without a rebuild.
    *
    * @return (updated edges, receipts `(vec_id, n_out_removed,
    *         n_in_removed, was_indexed)`)
    */
  def graphForget(edges: DataFrame,
                  deleteIds: DataFrame): (DataFrame, DataFrame) =
    // the public form stays LAZY (no job at construction); the eager
    // lifecycle compositions pass a pre-localized id set instead
    graphForgetWith(edges,
      broadcast(deleteIds.select(col("vec_id")).distinct()))

  /** [[graphForget]] against a caller-prepared DISTINCT id relation
    * (usually [[localIds]] output, so the anti-join broadcasts are
    * job-free). */
  private[similarity] def graphForgetWith(edges: DataFrame,
                                          ids: DataFrame)
      : (DataFrame, DataFrame) = {
    val kept = edges
      .join(ids.withColumnRenamed("vec_id", "query_id"), Seq("query_id"),
        "left_anti")
      .join(ids.withColumnRenamed("vec_id", "neighbor_id"),
        Seq("neighbor_id"), "left_anti")
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("cos_sim"))
    val outRemoved = edges.join(ids, edges("query_id") === ids("vec_id"))
      .groupBy(col("vec_id")).agg(count(lit(1)).as("n_out_removed"))
    val inRemoved = edges.join(ids, edges("neighbor_id") === ids("vec_id"))
      .groupBy(col("vec_id")).agg(count(lit(1)).as("n_in_removed"))
    val receipts = ids
      .join(outRemoved, Seq("vec_id"), "left")
      .join(inRemoved, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("n_out_removed"), lit(0L)).as("n_out_removed"),
        coalesce(col("n_in_removed"), lit(0L)).as("n_in_removed"),
        (coalesce(col("n_out_removed"), lit(0L)) +
          coalesce(col("n_in_removed"), lit(0L)) > 0).as("was_indexed"))
    (kept, receipts)
  }
}
