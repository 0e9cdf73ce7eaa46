package graft.similarity

import org.apache.spark.sql.functions._
import graft.{SparkTestBase, Tables}

class IvfPqSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.01"
  private def emb = Tables.load(spark, dir, "embeddings")
    .select(col("vec_id"), col("embedding"))

  private def centroids = emb.filter(pmod(col("vec_id"), lit(50)) === 0)
    .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid"))
  private def books =
    ProductQuantizer.codebooks(emb, dim = 64, numSub = 8, stride = 25)

  test("full probe + full rerank degenerates to exact brute force") {
    val queries = emb.filter(col("vec_id") < 8)
    val nCells = centroids.count().toInt
    val nCorpus = emb.count().toInt
    val got = IvfPq.topK(queries, emb, k = 3, centroidStride = 50,
      bookStride = 25, dim = 64, numSub = 8, nprobe = nCells,
      rerank = nCorpus) // every cell probed, every candidate re-scored
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cos_sim"), 9).as("c"))
      .collect().toSet
    val want = Similarity.bruteTopK(queries, emb, k = 3)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cos_sim"), 9).as("c"))
      .collect().toSet
    assert(got == want)
  }

  test("persistence round-trip: probe(loadIvfPqIndex(save(encode))) == " +
      "probe(in-memory index), and the artifact schema fails fast") {
    val queries = emb.filter(col("vec_id") < 8)
    val index = IvfPq.encode(emb, centroids, books, dim = 64, numSub = 8)
    val path = java.nio.file.Files
      .createTempDirectory("ivfpq_idx").toString + "/idx"
    TrainedState.saveIvfPqIndex(index, path)
    val loaded = TrainedState.loadIvfPqIndex(spark, path)
    def probe(idx: org.apache.spark.sql.DataFrame) =
      IvfPq.topKFromIndex(queries, idx, emb, k = 3, centroids, books,
        dim = 64, numSub = 8, nprobe = 2, rerank = 8)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          r.getDouble(3))).toSet
    assert(probe(loaded) == probe(index))
    // mis-pointed artifact fails fast at the driver
    val wrong = java.nio.file.Files
      .createTempDirectory("ivfpq_bad").toString + "/bad"
    emb.limit(1).write.parquet(wrong)
    val e = intercept[IllegalArgumentException] {
      TrainedState.loadIvfPqIndex(spark, wrong)
    }
    assert(e.getMessage.contains("schema mismatch"))
  }

  test("the serve schedules a BOUNDED job count: the probe table " +
      "localizes once and every consumer (ADC broadcast, cell prune, " +
      "candidate join) derives from the LocalRelation job-free — a " +
      "regression that re-executes the |q|*C ranking per consumer " +
      "adds jobs and fails this pin") {
    val queries = emb.filter(col("vec_id") < 8).localCheckpoint(true)
    val index = IvfPq.encode(emb, centroids, books, dim = 64, numSub = 8)
    val path = java.nio.file.Files
      .createTempDirectory("ivfpq_jobs").toString + "/idx"
    TrainedState.saveIvfPqIndex(index, path)
    val loaded = TrainedState.loadIvfPqIndex(spark, path)
    val cents = centroids.localCheckpoint(true)
    val bks = books.localCheckpoint(true)
    val jobCount = new java.util.concurrent.atomic.AtomicInteger
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobCount.incrementAndGet(); ()
        }
      })
    def once(): Int = {
      val j0 = jobCount.get()
      IvfPq.topKFromIndex(queries, loaded, emb, k = 3, cents, bks,
          dim = 64, numSub = 8, nprobe = 2, rerank = 8)
        .write.format("noop").mode("overwrite").save()
      Thread.sleep(300) // listener bus drain
      jobCount.get() - j0
    }
    once() // warmup (shuffle/broadcast infra)
    val jobs = (1 to 3).map(_ => once())
    // measured 15 jobs, rep-stable, on the single-localization plan
    // (probe limit-collect, shortlist limit-collect with its
    // incremental-limit attempts, broadcasts, final action); each
    // re-executed probe consumer adds >= 2-3 more. Headroom to 18.
    assert(jobs.forall(_ <= 18),
      s"IVF-PQ serve scheduled $jobs jobs per rep — a probe-plan " +
        "re-execution crept back in")
    assert(jobs.distinct.size == 1,
      s"job count must be rep-stable, got $jobs")
  }

  test("planted identical vector co-locates: same cell, same codes, " +
      "rank-1 at cosine 1 through the index") {
    import spark.implicits._
    val queries = emb.filter(col("vec_id") < 10)
    val corpus = emb.unionByName(queries
      .select((col("vec_id") + 5000L).as("vec_id"), col("embedding")))
    val index = IvfPq.encode(corpus, centroids, books, dim = 64, numSub = 8)
      .persist()
    // co-location is structural: identical embedding -> identical cell
    // and identical code array
    val byId = index.filter(col("vec_id") < 10 || col("vec_id") >= 5000L)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getSeq[Int](2))).toMap
    (0L until 10L).foreach { q =>
      assert(byId(q) == byId(q + 5000L), s"vector $q and its copy diverge")
    }
    val top = IvfPq.topKFromIndex(queries, index, corpus, k = 1, centroids,
      books, dim = 64, numSub = 8, nprobe = 2, rerank = 32)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    assert(top.length == 10)
    top.foreach { case (q, n, cos) =>
      assert(n == q + 5000L && math.abs(cos - 1.0) < 1e-9,
        s"query $q: expected planted dup, got ($n, $cos)")
    }
  }

  test("foldIn == rebuild at any nprobe; forget removes exactly the " +
      "listed ids with a per-cell receipt") {
    val base = emb.filter(col("vec_id") % 3 =!= 0)
    val batch = emb.filter(col("vec_id") % 3 === 0)
    val queries = emb.filter(col("vec_id") < 8)
    val folded = IvfPq.foldIn(
      IvfPq.encode(base, centroids, books, dim = 64, numSub = 8),
      batch, centroids, books, dim = 64, numSub = 8)
    val rebuilt = IvfPq.encode(emb, centroids, books, dim = 64, numSub = 8)
    def probe(idx: org.apache.spark.sql.DataFrame, nprobe: Int) =
      IvfPq.topKFromIndex(queries, idx, emb, k = 3, centroids, books,
        dim = 64, numSub = 8, nprobe, rerank = 8)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          r.getDouble(3))).toSet
    Seq(1, 3).foreach { np =>
      assert(probe(folded, np) == probe(rebuilt, np), s"nprobe=$np")
    }

    val dels = emb.filter(col("vec_id") % 100 === 0).select(col("vec_id"))
    val (cleaned, receipt) = IvfPq.forget(rebuilt, dels)
    val delSet = dels.collect().map(_.getLong(0)).toSet
    val keptIds = cleaned.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(keptIds.intersect(delSet).isEmpty)
    assert(keptIds.size + delSet.size == emb.count())
    val rec = receipt.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rec.map(_._3).sum == delSet.size, "receipt n_removed mismatch")
    rec.foreach { case (_, before, removed, after) =>
      assert(after == before - removed)
    }
  }

  test("RESIDUAL variant: full probe + full rerank == brute force; " +
      "planted identical vector co-locates with identical residual codes " +
      "and ranks first at cosine 1") {
    import spark.implicits._
    val queries = emb.filter(col("vec_id") < 8)
    val resBooks = IvfPq.residualBooks(emb, centroids, dim = 64,
      numSub = 8, stride = 25).localCheckpoint(true)
    val nCells = centroids.count().toInt
    val nCorpus = emb.count().toInt
    val got = IvfPq.topKFromIndexResidual(queries,
      IvfPq.encodeResidual(emb, centroids, resBooks, dim = 64, numSub = 8),
      emb, k = 3, centroids, resBooks, dim = 64, numSub = 8,
      nprobe = nCells, rerank = nCorpus)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cos_sim"), 9).as("c")).collect().toSet
    val want = Similarity.bruteTopK(queries, emb, k = 3)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cos_sim"), 9).as("c")).collect().toSet
    assert(got == want)

    val corpus = emb.unionByName(queries
      .select((col("vec_id") + 5000L).as("vec_id"), col("embedding")))
    val index = IvfPq.encodeResidual(corpus, centroids, resBooks,
      dim = 64, numSub = 8).persist()
    val byId = index.filter(col("vec_id") < 8 || col("vec_id") >= 5000L)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getSeq[Int](2))).toMap
    (0L until 8L).foreach { q =>
      assert(byId(q) == byId(q + 5000L),
        s"residual codes diverge for planted copy of $q")
    }
    val top = IvfPq.topKFromIndexResidual(queries, index, corpus, k = 1,
      centroids, resBooks, dim = 64, numSub = 8, nprobe = 2, rerank = 32)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    top.foreach { case (q, n, cos) =>
      assert(n == q + 5000L && math.abs(cos - 1.0) < 1e-9,
        s"query $q: expected planted dup, got ($n, $cos)")
    }
  }

  test("recall rises monotonically with nprobe and hits 1.0 at a full " +
      "cell walk with deep rerank") {
    val queries = emb.filter(col("vec_id") < 10)
    val brute = Similarity.bruteTopK(queries, emb, k = 3)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val index = IvfPq.encode(emb, centroids, books, dim = 64, numSub = 8)
      .persist()
    val nCells = centroids.count().toInt
    val recalls = Seq(1, 2, nCells).map { nprobe =>
      val got = IvfPq.topKFromIndex(queries, index, emb, k = 3, centroids,
        books, dim = 64, numSub = 8, nprobe,
        rerank = if (nprobe == nCells) emb.count().toInt else 8)
        .select(col("query_id"), col("neighbor_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      got.intersect(brute).size.toDouble / brute.size
    }
    assert(recalls == recalls.sorted, s"recall not monotone: $recalls")
    assert(recalls.last == 1.0, s"full walk below 1.0: $recalls")
  }

  test("past the probe-localization cap (500 queries x nprobe 9 = 4,500 " +
      "probe rows > 4,096) the distributed ADC serve returns exactly the " +
      "rows of the same queries served in two under-cap halves, for " +
      "global and residual codes") {
    val corpus = emb.localCheckpoint(true)
    val nq = corpus.count()
    assert(nq * 9 > Similarity.MaxLocalProbedRows &&
      (nq + 1) / 2 * 9 <= Similarity.MaxLocalProbedRows)
    val cents = centroids.localCheckpoint(true)
    val bks = books.localCheckpoint(true)
    val resBooks = IvfPq.residualBooks(corpus, cents, dim = 64,
      numSub = 8, stride = 25).localCheckpoint(true)
    val global = IvfPq.encode(corpus, cents, bks, dim = 64, numSub = 8)
      .localCheckpoint(true)
    val residual = IvfPq.encodeResidual(corpus, cents, resBooks,
      dim = 64, numSub = 8).localCheckpoint(true)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    def splitParity(name: String)(
        serve: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
        : Unit = {
      val whole = rows(serve(corpus)).sorted
      val halves = (rows(serve(corpus.filter(col("vec_id") % 2 === 0))) ++
        rows(serve(corpus.filter(col("vec_id") % 2 === 1)))).sorted
      assert(whole.length == nq * 3, s"$name: ${whole.length} rows")
      assert(whole == halves, s"$name: over-cap serve diverged")
    }
    splitParity("global")(q => IvfPq.topKFromIndex(q, global, corpus,
      k = 3, cents, bks, dim = 64, numSub = 8, nprobe = 9, rerank = 4))
    splitParity("residual")(q => IvfPq.topKFromIndexResidual(q, residual,
      corpus, k = 3, cents, resBooks, dim = 64, numSub = 8, nprobe = 9,
      rerank = 4))
  }

  test("non-dividing numSub fails loudly at every PQ entry point — a " +
      "silent subDim floor would drop tail dims from every ADC score") {
    val queries = emb.filter(col("vec_id") < 2)
    val idx = IvfPq.encode(emb, centroids, books, dim = 64, numSub = 8)
    def expectDivFail(op: String)(body: => Any): Unit = {
      val e = intercept[IllegalArgumentException](body)
      assert(e.getMessage.contains("must divide"), s"$op: ${e.getMessage}")
      assert(e.getMessage.contains(op), s"$op not named: ${e.getMessage}")
    }
    // dim=64, numSub=5: 64 % 5 != 0 — every entry must throw, not floor
    expectDivFail("IvfPq.encode")(
      IvfPq.encode(emb, centroids, books, dim = 64, numSub = 5))
    expectDivFail("IvfPq.topKFromIndex")(
      IvfPq.topKFromIndex(queries, idx, emb, k = 1, centroids, books,
        dim = 64, numSub = 5, nprobe = 1, rerank = 1))
    expectDivFail("IvfPq.topKFromIndexResidual")(
      IvfPq.topKFromIndexResidual(queries, idx, emb, k = 1, centroids,
        books, dim = 64, numSub = 5, nprobe = 1, rerank = 1))
    expectDivFail("IvfPq.residualBooks")(
      IvfPq.residualBooks(emb, centroids, dim = 64, numSub = 5, stride = 25))
    expectDivFail("IvfPq.encodeResidual")(
      IvfPq.encodeResidual(emb, centroids, books, dim = 64, numSub = 5))
    expectDivFail("ProductQuantizer.codebooks")(
      ProductQuantizer.codebooks(emb, dim = 64, numSub = 5, stride = 25))
    expectDivFail("ProductQuantizer.codebooksKMeans")(
      ProductQuantizer.codebooksKMeans(emb, dim = 64, numSub = 5, k = 4,
        iters = 1))
    expectDivFail("ProductQuantizer.encode")(
      ProductQuantizer.encode(emb, books, dim = 64, numSub = 5))
    expectDivFail("ProductQuantizer.topKWith")(
      ProductQuantizer.topKWith(queries, emb, dim = 64, numSub = 5, k = 1,
        books, rerank = 1))
  }
}
