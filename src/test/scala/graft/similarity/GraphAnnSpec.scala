package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** [[GraphAnn.searchGraph]] — exact degeneration on a complete graph,
  * hop-0 semantics, planted-geometry greedy routing, determinism, and
  * the argument guards. */
class GraphAnnSpec extends SparkTestBase {
  import spark.implicits._

  private def emb = graft.Tables.load(spark, sfDir, "embeddings")
    .select("vec_id", "embedding")

  private def collectTopK(df: DataFrame) =
    df.select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cos_sim"), 9).as("cos"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet

  test("complete graph, one hop, full beam == brute force") {
    val e = emb.filter(col("vec_id") < 40)
    val n = e.count().toInt
    // degree n-1 graph = every node's out-edges reach everyone else, so
    // ONE hop from any entry visits the whole corpus and the search must
    // equal exact brute force for every query
    val edges = Similarity.bruteTopK(e, e, n - 1)
    val probes = e.filter(col("vec_id") % 10 === 0)
    val got = GraphAnn.searchGraph(probes, edges, e,
      entryId = 0L, beam = n, hops = 1, k = 3)
    val want = Similarity.bruteTopK(probes, e, 3)
    assert(collectTopK(got) === collectTopK(want))
  }

  test("hops = 0 scores only the entry node; self-entry emits no rows") {
    val e = emb.filter(col("vec_id") < 30)
    val edges = Similarity.bruteTopK(e, e, 3)
    val probes = e.filter(col("vec_id") < 2) // query 0 IS the entry
    val got = GraphAnn.searchGraph(probes, edges, e,
        entryId = 0L, beam = 4, hops = 0, k = 3)
      .select(col("query_id"), col("neighbor_id")).as[(Long, Long)]
      .collect().toSet
    assert(got === Set((1L, 0L))) // query 1 sees the entry; query 0 drops its self-row
  }

  test("planted geometry: greedy walk routes across the graph to the planted near-dup") {
    // two tight clusters on orthogonal axes plus a bridge; entry sits in
    // cluster A, the query targets cluster B — the degree-3 graph links
    // A's edge node to the bridge, so the greedy walk must route
    // 0 → 2 → 3 → 4 → 6 within 4 hops at beam 2 (degree 2 would make
    // cluster A a sink — the out-degree/connectivity trade every
    // navigable-graph index tunes)
    val corpus = Seq(
      (0L, Array(1.00f, 0.00f)),  // entry, cluster A
      (1L, Array(0.99f, 0.14f)),
      (2L, Array(0.97f, 0.24f)),
      (3L, Array(0.71f, 0.71f)),  // bridge
      (4L, Array(0.24f, 0.97f)),
      (5L, Array(0.14f, 0.99f)),
      (6L, Array(0.00f, 1.00f))   // planted target, cluster B
    ).toDF("vec_id", "embedding")
    val query = Seq((100L, Array(0.01f, 1.00f))).toDF("vec_id", "embedding")
    val edges = Similarity.bruteTopK(corpus, corpus, 3)
    val got = GraphAnn.searchGraph(query, edges, corpus,
        entryId = 0L, beam = 2, hops = 4, k = 1)
      .select(col("neighbor_id")).as[Long].collect()
    assert(got.toSeq === Seq(6L))
  }

  test("deterministic: two runs produce identical output") {
    val e = emb.filter(col("vec_id") < 60)
    val edges = Similarity.bruteTopK(e, e, 4)
    val probes = e.filter(col("vec_id") % 15 === 0)
    def run() = collectTopK(GraphAnn.searchGraph(probes, edges, e,
      entryId = 0L, beam = 3, hops = 2, k = 3))
    assert(run() === run())
  }

  test("wider beam at saturating hops converges to brute on a connected graph") {
    val e = emb.filter(col("vec_id") < 40)
    val n = e.count().toInt
    val edges = Similarity.bruteTopK(e, e, 4)
    val probes = e.filter(col("vec_id") % 10 === 0)
    // beam = n visits every node REACHABLE from the entry; on this
    // corpus the degree-4 graph is entry-connected (verified by the
    // assertion itself matching brute exactly)
    val got = GraphAnn.searchGraph(probes, edges, e,
      entryId = 0L, beam = n, hops = n, k = 3)
    assert(collectTopK(got) === collectTopK(Similarity.bruteTopK(probes, e, 3)))
  }

  test("searchGraphPq: saturating beam + full rerank == exact brute force") {
    val e = emb.filter(col("vec_id") < 40).localCheckpoint(true)
    val n = e.count().toInt
    val edges = Similarity.bruteTopK(e, e, 4).localCheckpoint(true)
    val books = ProductQuantizer.codebooks(e, dim = 64, numSub = 4,
      stride = 10)
    val codes = ProductQuantizer.encode(e, books, dim = 64, numSub = 4)
      .localCheckpoint(true)
    val probes = e.filter(col("vec_id") % 10 === 0)
    // beam = n visits everything reachable; rerank·k covers the whole
    // visited set, so the exact re-rank IS brute force over a connected
    // graph — the ADC approximation cancels out entirely
    val got = GraphAnn.searchGraphPq(probes, edges, codes, books,
      dim = 64, numSub = 4, e, entryId = 0L, beam = n, hops = n,
      k = 3, rerank = n)
    val want = Similarity.bruteTopK(probes, e, 3)
    assert(collectTopK(got) === collectTopK(want))
  }

  test("searchGraphPq is deterministic run-to-run") {
    val e = emb.filter(col("vec_id") < 40).localCheckpoint(true)
    val edges = Similarity.bruteTopK(e, e, 4).localCheckpoint(true)
    val books = ProductQuantizer.codebooks(e, 64, 4, 10)
    val codes = ProductQuantizer.encode(e, books, 64, 4)
      .localCheckpoint(true)
    val probes = e.filter(col("vec_id") % 20 === 0)
    def run() = collectTopK(GraphAnn.searchGraphPq(probes, edges, codes,
      books, 64, 4, e, entryId = 0L, beam = 6, hops = 3, k = 2,
      rerank = 4))
    assert(run() === run())
  }

  test("insertBySearch: planted duplicates become reachable and the degree bound holds") {
    val base = emb.filter(col("vec_id") < 40)
    val n = base.count().toInt
    val edges = Similarity.bruteTopK(base, base, 4)
    val planted = base.filter(col("vec_id") < 3)
      .select((col("vec_id") + 1000L).as("vec_id"), col("embedding"))
    val updated = GraphAnn.insertBySearch(edges, base, planted,
      entryId = 0L, beam = n, hops = n, degree = 4).localCheckpoint(true)
    // the bounded-degree invariant survives the reverse-edge re-prune
    val maxDeg = updated.groupBy(col("query_id"))
      .agg(count(lit(1)).as("d")).agg(max(col("d"))).head.getLong(0)
    assert(maxDeg <= 4)
    // a saturating search over the UPDATED graph must reach each planted
    // copy and pin it at cosine 1 — reachability through the inserted
    // mutual edges (a dup scores 1 against its original, so it survives
    // any degree prune in both directions)
    val full = base.unionByName(planted)
    val probes = base.filter(col("vec_id") < 3)
    val got = GraphAnn.searchGraph(probes, updated, full,
        entryId = 0L, beam = n + 3, hops = n, k = 1)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cos_sim"), 6).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === (0L until 3L).map(i => (i, i + 1000L, 1.0)).toSet)
  }

  test("insertBySearch leaves untouched sources' edges bit-unchanged") {
    val base = emb.filter(col("vec_id") < 40)
    val n = base.count().toInt
    val edges = Similarity.bruteTopK(base, base, 4).localCheckpoint(true)
    val planted = base.filter(col("vec_id") === 0)
      .select((col("vec_id") + 1000L).as("vec_id"), col("embedding"))
    val updated = GraphAnn.insertBySearch(edges, base, planted,
      entryId = 0L, beam = n, hops = n, degree = 4)
    val touched = updated.filter(col("neighbor_id") === 1000L)
      .select(col("query_id")).distinct()
      .collect().map(_.getLong(0)).toSet + 1000L
    def rows(df: DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(rows(updated.filter(!col("query_id").isin(touched.toSeq: _*)))
      === rows(edges.filter(!col("query_id").isin(touched.toSeq: _*))))
  }

  test("graphForget: receipts account for every dropped edge; forgotten ids vanish") {
    val base = emb.filter(col("vec_id") < 30)
    val edges = Similarity.bruteTopK(base, base, 3).localCheckpoint(true)
    val (kept, receipts) = GraphAnn.graphForget(edges,
      Seq(5L, 7L, 99999L).toDF("vec_id"))
    val rec = receipts.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toMap
    assert(rec(5L)._1 === 3L) // out-degree 3 by construction
    assert(rec(5L)._3 && rec(7L)._3)
    assert(rec(99999L) === ((0L, 0L, false))) // negative confirmation
    val keptIds = kept.select(col("query_id").as("id"))
      .unionByName(kept.select(col("neighbor_id").as("id"))).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(!keptIds.contains(5L) && !keptIds.contains(7L))
    // accounting: dropped rows == Σ out_removed + in_removed MINUS the
    // edges counted twice (both endpoints deleted)
    val both = edges.filter(col("query_id").isin(5L, 7L) &&
      col("neighbor_id").isin(5L, 7L)).count()
    val dropped = edges.count() - kept.count()
    val recSum = rec(5L)._1 + rec(5L)._2 + rec(7L)._1 + rec(7L)._2
    assert(dropped === recSum - both)
  }

  test("graph index persistence round-trips; drift rejects") {
    val base = emb.filter(col("vec_id") < 30)
    val edges = Similarity.bruteTopK(base, base, 3)
    val path = java.nio.file.Files
      .createTempDirectory("graft_gidx").toString + "/graph"
    TrainedState.saveGraphIndex(edges, path)
    val back = TrainedState.loadGraphIndex(spark, path)
    def rows(df: DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(rows(back) === rows(edges))
    val rotPath = path + "_rot"
    TrainedState.saveRotation(spark, Opq.identity(4), rotPath)
    intercept[IllegalArgumentException] {
      TrainedState.loadGraphIndex(spark, rotPath)
    }
  }

  test("searchGraphFiltered == post-filter + re-rank of the unfiltered walk; " +
      "saturating filtered == brute over the allowed subset") {
    val e = emb.filter(col("vec_id") < 40).localCheckpoint(true)
    val n = e.count().toInt
    val edges = Similarity.bruteTopK(e, e, 4).localCheckpoint(true)
    val probes = e.filter(col("vec_id") % 10 === 0)
    val pred = col("vec_id") % 3 === 0
    // exact contract at ANY budget: the filtered answer is the rank over
    // (visited ∩ allowed) — reproduce it by post-filtering the same
    // walk's full visited ranking
    val filtered = GraphAnn.searchGraphFiltered(probes, edges, e,
      entryId = 0L, beam = 3, hops = 2, k = 3, pred = pred)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    val reference = GraphAnn.searchGraph(probes, edges, e,
        entryId = 0L, beam = 3, hops = 2, k = n + 1)
      .filter(col("neighbor_id") % 3 === 0)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("cos_sim"))
    assert(collectTopK(filtered) === collectTopK(reference))
    assert(collectTopK(filtered).nonEmpty)
    // saturating budget: filtered search == exact brute force over the
    // matching subset (the graph is entry-connected at degree 4 here —
    // pinned by the saturating spec above)
    val sat = GraphAnn.searchGraphFiltered(probes, edges, e,
      entryId = 0L, beam = n, hops = n, k = 3, pred = pred)
    val brute = Similarity.bruteTopK(probes, e.filter(pred), 3)
    assert(collectTopK(sat) === collectTopK(brute))
  }

  test("over-cap frontier falls back to the broadcast join with identical results") {
    val e = emb.filter(col("vec_id") < 40).localCheckpoint(true)
    val edges = Similarity.bruteTopK(e, e, 4).localCheckpoint(true)
    val q = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      .localCheckpoint(true)
    val nodes = e.select(col("vec_id").as("node"),
      col("embedding").as("n_emb"))
    val adj = edges.select(col("query_id").as("_src"),
      col("neighbor_id").as("_dst"))
    val score = GraphAnn.scorer(q, nodes) _
    val visited = score(
      q.select(col("query_id")).withColumn("node", lit(0L))
        .unionByName(
          q.select(col("query_id")).withColumn("node", lit(5L))),
      Seq(0L, 5L)).localCheckpoint(true)
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1),
        BigDecimal(r.getDouble(2)).setScale(9,
          BigDecimal.RoundingMode.HALF_UP).toDouble)).toSet
    // maxInline = 1 forces BOTH capped collects over the cap — the
    // broadcast-join/unpruned-scorer path must produce the same rows the
    // inline path does (the cap is a scan strategy, never semantics)
    val inline = rows(GraphAnn.hopOnce(visited, adj, score, beam = 3))
    val fallback = rows(GraphAnn.hopOnce(visited, adj, score, beam = 3,
      maxInline = 1))
    assert(inline === fallback)
    assert(inline.nonEmpty)
  }

  test("driver-mirrored walk == distributed walk, bit for bit — at a " +
      "non-saturating budget, a saturating budget, and across a " +
      "mid-walk spill (the mirror is a strategy, never semantics)") {
    val e = emb.filter(col("vec_id") < 80).localCheckpoint(true)
    val n = e.count().toInt
    val edges = Similarity.bruteTopK(e, e, 4).localCheckpoint(true)
    val probes = e.filter(col("vec_id") % 10 === 0).localCheckpoint(true)
    val nProbes = probes.count().toInt
    val entries = probes.select(col("vec_id").as("query_id"))
      .withColumn("node", lit(0L))
    def run(beam: Int, hops: Int, cap: Int) = collectTopK(
      GraphAnn.searchFrom(probes, edges, e, entries, Seq(0L), beam, hops,
        k = 5, allowed = None, includeSelf = false, mirrorCap = cap))
    // non-saturating: beam cuts BIND — the mirror's comparator must
    // reproduce the window's (score desc, node asc) order exactly
    assert(run(3, 3, GraphAnn.MirrorCap) === run(3, 3, 0))
    // saturating: whole-component walks, the lifecycle-oracle regime
    assert(run(n, n, GraphAnn.MirrorCap) === run(n, n, 0))
    // spill mid-walk: a cap just above the seed row count starts
    // mirrored, hands off to the distributed loop, and must agree
    assert(run(n, n, nProbes + 2) === run(n, n, 0))
    // codes-only twin: the ADC-scored walk through the same machinery
    val books = ProductQuantizer.codebooks(e, dim = 64, numSub = 8,
      stride = 10)
    val codes = ProductQuantizer.encode(e, books, dim = 64, numSub = 8)
      .localCheckpoint(true)
    val ctx = GraphAnn.pqSearcher(probes, codes, books, dim = 64,
      numSub = 8)
    def runPq(cap: Int) = GraphAnn
      .walkPq(ctx, edges, entries, Seq(0L), beam = 3, hops = 3,
        mirrorCap = cap)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        BigDecimal(r.getDouble(2)).setScale(9,
          BigDecimal.RoundingMode.HALF_UP).toDouble)).toSet
    val pqMirror = runPq(GraphAnn.MirrorCap)
    assert(pqMirror === runPq(0))
    assert(pqMirror.nonEmpty)
  }

  test("argument guards") {
    val e = emb.limit(5)
    val edges = Similarity.bruteTopK(e, e, 2)
    intercept[IllegalArgumentException] {
      GraphAnn.searchGraph(e, edges, e, 0L, beam = 0, hops = 1, k = 1)
    }
    intercept[IllegalArgumentException] {
      GraphAnn.searchGraph(e, edges, e, 0L, beam = 1, hops = -1, k = 1)
    }
    intercept[IllegalArgumentException] {
      GraphAnn.searchGraph(e, edges, e, 0L, beam = 1, hops = 1, k = 0)
    }
  }

  test("graphForgetRepaired: saturating repair == full rebuild over the " +
      "remaining corpus; untouched sources bit-unchanged; receipts " +
      "carry n_repaired") {
    import spark.implicits._
    val e = emb.filter(col("vec_id") < 60).localCheckpoint(true)
    val n = e.count().toInt
    val edges = Similarity.bruteTopK(e, e, 6).localCheckpoint(true)
    val del = Seq(5L, 23L, 41L, 999999L).toDF("vec_id")
    val (repaired0, receipts) = GraphAnn.graphForgetRepaired(
      edges, e, del, entryId = 0L, beam = n, hops = n, degree = 6)
    val repaired = repaired0.localCheckpoint(true)
    val live = e.filter(!col("vec_id").isin(5L, 23L, 41L))
    // rebuild reference: brute degree-6 graph over the remaining corpus
    val rebuild = Similarity.bruteTopK(live, live, 6)
    // sources whose rebuild out-list changed are exactly the affected
    // set; saturating repair must match the rebuild for EVERY source —
    // affected (healed to the true top-6, reachability permitting) and
    // untouched (passed through verbatim) alike. A mismatch here means
    // either repair missed a hole or connectivity broke (in which case
    // degree 6 was mis-measured, which this test would surface).
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("cos_sim"), 9).as("c"))
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        .toSet
    assert(norm(repaired) == norm(rebuild))
    // receipts: n_repaired = distinct surviving sources that pointed at
    // the deleted id; the never-indexed id confirms negatively
    val recMap = receipts.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getBoolean(3), r.getLong(4))).toMap
    assert(recMap(999999L) == ((0L, 0L, false, 0L)))
    val pointing = edges.filter(col("neighbor_id").isin(5L, 23L, 41L))
      .filter(!col("query_id").isin(5L, 23L, 41L))
    Seq(5L, 23L, 41L).foreach { id =>
      val want = pointing.filter(col("neighbor_id") === id)
        .select(col("query_id")).distinct().count()
      assert(recMap(id)._4 == want, s"n_repaired for $id")
      assert(recMap(id)._3, s"$id must read was_indexed")
    }
    // every repaired source is back at the full degree bound
    val degCounts = repaired.groupBy(col("query_id")).count()
      .filter(col("count") =!= 6).count()
    assert(degCounts == 0, "every surviving source must hold degree 6")
  }

  test("graphForgetRepaired fails loudly when the entry node itself was " +
      "deleted — a repair routed through a dead entry heals nothing") {
    import spark.implicits._
    val e = emb.filter(col("vec_id") < 30).localCheckpoint(true)
    val edges = Similarity.bruteTopK(e, e, 4)
    val ex = intercept[IllegalArgumentException] {
      val (rep, _) = GraphAnn.graphForgetRepaired(edges, e,
        Seq(0L).toDF("vec_id"), entryId = 0L, beam = 8, hops = 8,
        degree = 4)
      rep.collect()
    }
    assert(ex.getMessage.contains("is in the corpus"))
  }

  test("driver-pull budgets are strategy, never semantics: a zero " +
      "localScore cell budget (embeddings stay distributed), a zero " +
      "local query-row cap, and a zero mirror cap (the seed count-gate " +
      "routes to the distributed walk before any collect) all " +
      "reproduce the default search bit for bit") {
    val e = emb.filter(col("vec_id") < 80).localCheckpoint(true)
    val edges = Similarity.bruteTopK(e, e, 4).localCheckpoint(true)
    val probes = e.filter(col("vec_id") % 16 === 3)
    val entries = probes.select(col("vec_id").as("query_id"))
      .withColumn("node", lit(0L))
    def run(mirrorCap: Int, maxRows: Long, maxCells: Long) =
      collectTopK(GraphAnn.searchFrom(probes, edges, e, entries,
        Seq(0L), beam = 6, hops = 8, k = 5, allowed = None,
        includeSelf = false, mirrorCap = mirrorCap,
        maxLocalQueryRows = maxRows, maxLocalScoreCells = maxCells))
    val want = run(GraphAnn.MirrorCap, Long.MaxValue, Long.MaxValue)
    assert(run(GraphAnn.MirrorCap, Long.MaxValue, 0L) == want,
      "cell-budget fallback to the distributed scorer changed results")
    assert(run(GraphAnn.MirrorCap, 0L, Long.MaxValue) == want,
      "query-row-cap fallback to the distributed scorer changed results")
    assert(run(0, Long.MaxValue, Long.MaxValue) == want,
      "seed count-gate routing to the distributed walk changed results")
  }

  test("an entry absent from the corpus fails with the contract message " +
      "on the distributed walk too (mirrorCap = 0), not with an empty " +
      "result") {
    val e = emb.filter(col("vec_id") < 40).localCheckpoint(true)
    val edges = Similarity.bruteTopK(e, e, 4).localCheckpoint(true)
    val probes = e.filter(col("vec_id") % 10 === 3)
    val entries = probes.select(col("vec_id").as("query_id"))
      .withColumn("node", lit(9999L))
    def run(mirrorCap: Int) = GraphAnn.searchFrom(probes, edges, e,
      entries, Seq(9999L), beam = 4, hops = 4, k = 3, allowed = None,
      includeSelf = false, mirrorCap = mirrorCap).collect()
    Seq(GraphAnn.MirrorCap, 0).foreach { cap =>
      val ex = intercept[IllegalArgumentException](run(cap))
      assert(ex.getMessage.contains("is in the corpus"), s"mirrorCap=$cap")
    }
  }

  test("a malformed embedding scores 0.0 in every walk regime: the " +
      "driver mirror, the driver-budget DataFrame fallback and the " +
      "distributed walk (mirrorCap = 0)") {
    val clean = emb.filter(col("vec_id") < 80).localCheckpoint(true)
    val edges = Similarity.bruteTopK(clean, clean, 4).localCheckpoint(true)
    // node 5 is one element short: positive norm, NULL dot with every
    // query (a NULL cosine)
    val e = clean.withColumn("embedding",
        when(col("vec_id") === 5, slice(col("embedding"), 1, 63))
          .otherwise(col("embedding")))
      .localCheckpoint(true)
    val probes = clean.filter(col("vec_id") % 16 === 3)
    val entries = probes.select(col("vec_id").as("query_id"))
      .withColumn("node", lit(5L))
    def run(mirrorCap: Int, maxCells: Long) =
      GraphAnn.searchFrom(probes, edges, e, entries, Seq(5L), beam = 6,
          hops = 8, k = 80, allowed = None, includeSelf = false,
          mirrorCap = mirrorCap, maxLocalScoreCells = maxCells)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSet
    val want = run(GraphAnn.MirrorCap, Long.MaxValue)
    assert(want.exists(t => t._3 == 5L && t._4.contains(0.0)), want)
    assert(run(GraphAnn.MirrorCap, 0L) == want, "driver-budget fallback")
    assert(run(0, Long.MaxValue) == want, "distributed walk")
  }

  test("a poisoned ADC score (a query with a null element) is 0.0 in " +
      "the mirrored and the distributed PQ walk alike") {
    val e = emb.filter(col("vec_id") < 80).localCheckpoint(true)
    val edges = Similarity.bruteTopK(e, e, 4).localCheckpoint(true)
    val books = ProductQuantizer.codebooks(e, dim = 64, numSub = 8,
      stride = 10).localCheckpoint(true)
    val codes = ProductQuantizer.encode(e, books, dim = 64, numSub = 8)
      .localCheckpoint(true)
    val probes = e.filter(col("vec_id") % 20 === 3)
      .withColumn("embedding", when(col("vec_id") === 23,
        transform(col("embedding"), (x, i) =>
          when(i === 0, lit(null).cast("float")).otherwise(x)))
        .otherwise(col("embedding")))
    val ctx = GraphAnn.pqSearcher(probes, codes, books, 64, 8)
    val entries = ctx.qLocal.select(col("vec_id").as("query_id"))
      .withColumn("node", lit(0L))
    def run(cap: Int) = GraphAnn.walkPq(ctx, edges, entries, Seq(0L),
        beam = 4, hops = 4, mirrorCap = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    val want = run(GraphAnn.MirrorCap)
    assert(want.exists(t => t._1 == 23L && t._3.contains(0.0)), want)
    assert(run(0) == want, "distributed walk")
  }

  test("searchGraphPq drops a null-id query row and serves a repeated " +
      "query once, like the PQ serves") {
    val e = emb.filter(col("vec_id") < 80).localCheckpoint(true)
    val edges = Similarity.bruteTopK(e, e, 4).localCheckpoint(true)
    val books = ProductQuantizer.codebooks(e, dim = 64, numSub = 8,
      stride = 10)
    val codes = ProductQuantizer.encode(e, books, dim = 64, numSub = 8)
    val probes = e.filter(col("vec_id") % 20 === 0)
    val dirty = probes
      .unionByName(probes.filter(col("vec_id") === 20))
      .unionByName(probes.filter(col("vec_id") === 40)
        .select(lit(null).cast("long").as("vec_id"), col("embedding")))
    def run(q: DataFrame) = GraphAnn.searchGraphPq(q, edges, codes, books,
        64, 8, e, entryId = 0L, beam = 4, hops = 4, k = 3, rerank = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSeq.sorted
    assert(run(dirty) === run(probes))
  }

  test("frontierCut == per-query sorted.take(beam) on randomized " +
      "mirrors (ties, duplicates, NaN/-0.0 doubles) — the bounded heap " +
      "is CPU strategy, never a different cut") {
    val rnd = new scala.util.Random(20260816L)
    val specials = Array(Double.NaN, 0.0, -0.0, 1.0, -1.0,
      Double.PositiveInfinity, Double.NegativeInfinity)
    (1 to 20).foreach { trial =>
      val rows = Seq.fill(rnd.nextInt(400) + 1) {
        val score = if (rnd.nextInt(4) == 0) specials(rnd.nextInt(7))
                    else rnd.nextInt(8).toDouble / 4
        (rnd.nextInt(5).toLong, rnd.nextInt(40).toLong, score)
      } ++ Seq((0L, 7L, 0.5), (0L, 7L, 0.5)) // seed-duplicate pair
      val beam = rnd.nextInt(6) + 1
      def key(ts: Iterable[(Long, Long, Double)]) = ts.toSeq
        .map(t => (t._1, t._2, java.lang.Double.doubleToLongBits(t._3)))
        .sorted
      val want = rows.groupBy(_._1).toSeq.flatMap { case (_, rs) =>
        rs.sorted(GraphAnn.mirrorOrd).take(beam)
      }
      val got = GraphAnn.frontierCut(rows, beam)
      assert(key(got) == key(want), s"trial $trial beam $beam")
    }
  }

  test("caller-known walk bounds (insertBySearch batchBound, " +
      "searchGraph queryBound) are strategy, never semantics — and an " +
      "over-cap bound routes distributed with identical results") {
    val e = emb.filter(col("vec_id") < 60).localCheckpoint(true)
    val edges = Similarity.bruteTopK(e, e, 6).localCheckpoint(true)
    val batch = e.filter(col("vec_id") < 10)
      .select((col("vec_id") + 500L).as("vec_id"), col("embedding"))
      .localCheckpoint(true)
    def normE(df: org.apache.spark.sql.DataFrame) =
      df.select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("cos_sim"), 9).as("c"))
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        .toSet
    val wantIns = normE(GraphAnn.insertBySearch(edges, e, batch, 0L,
      beam = 32, hops = 32, degree = 6))
    assert(normE(GraphAnn.insertBySearch(edges, e, batch, 0L,
      beam = 32, hops = 32, degree = 6, batchBound = 10L)) == wantIns,
      "a tight caller bound changed the insert")
    assert(normE(GraphAnn.insertBySearch(edges, e, batch, 0L,
      beam = 32, hops = 32, degree = 6,
      batchBound = Long.MaxValue)) == wantIns,
      "an over-cap bound (distributed route) changed the insert")
    val probes = e.filter(col("vec_id") % 12 === 1)
    val wantS = collectTopK(GraphAnn.searchGraph(probes, edges, e, 0L,
      beam = 8, hops = 8, k = 4))
    assert(collectTopK(GraphAnn.searchGraph(probes, edges, e, 0L,
      beam = 8, hops = 8, k = 4, queryBound = 5L)) == wantS,
      "a caller queryBound changed the search")
  }

  test("insertBySearchParts pulls at most mirrorCap search rows to the " +
      "driver: past the cap the search output stays distributed and the " +
      "insert equals the localized one") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val e = emb.filter(col("vec_id") < 60).localCheckpoint(true)
    val edges = Similarity.bruteTopK(e, e, 6).localCheckpoint(true)
    val batch = e.filter(col("vec_id") < 10)
      .select((col("vec_id") + 500L).as("vec_id"), col("embedding"))
      .localCheckpoint(true)
    def parts(cap: Int) = GraphAnn.insertBySearchParts(edges, e, batch, 0L,
      beam = 32, hops = 32, degree = 6, mirrorCap = cap)
    def localRows(df: DataFrame) = df.queryExecution.optimizedPlan
      .collect { case l: LocalRelation => l.data.length }.sum
    val (wantU, wantC) = parts(GraphAnn.MirrorCap)
    val (gotU, gotC) = parts(8)
    // 10 inserts × degree 6 = 60 search rows: localized under the default
    // cap, kept distributed past a cap of 8
    assert(localRows(wantC) >= 60)
    assert(localRows(gotC) <= 8 && localRows(gotU) <= 8,
      s"past-cap insert pulled search rows:\n${gotC.queryExecution.optimizedPlan}")
    assert(collectTopK(gotU) == collectTopK(wantU), "untouched")
    assert(collectTopK(gotC) == collectTopK(wantC), "changed")
  }
}
