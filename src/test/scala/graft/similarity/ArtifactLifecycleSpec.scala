package graft.similarity

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.SparkTestBase

/** Every delta-capable artifact kind through one lifecycle: save, load,
  * append, forget (the kinds that have a tombstone), kind detection,
  * then [[TrainedState.maintainRoot]] twice — once on the MERGE branch
  * (small deltas against a large base: one merged generation remains)
  * and once on the FULL-FOLD branch (deltas comparable to the base:
  * zero generations remain). After every step the served rows must
  * equal the newest-wins rows derived here by hand: each reconcile key
  * owns the row set of the newest generation that wrote it, and a
  * forgotten key owns nothing. */
class ArtifactLifecycleSpec extends SparkTestBase {

  private val TS = TrainedState

  /** Expected served state: reconcile key -> that key's row set. */
  private type State = Map[Seq[Any], Set[Seq[Any]]]

  /** One kind's lifecycle inputs. Rows are `Seq[Any]` in `inSchema`
    * order; `stored` maps an input row to the rows the load serves for
    * it, and `key` names a served row's reconcile key. */
  private case class Kind(
      name: String,
      inSchema: StructType,
      save: (DataFrame, String) => Unit,
      append: (DataFrame, String) => Unit,
      forget: Option[(Seq[Long], String) => Unit],
      load: String => DataFrame,
      key: Seq[Any] => Seq[Any],
      forgetId: Seq[Any] => Long,
      gen: (Seq[Long], Int) => Seq[Seq[Any]],
      stored: Seq[Any] => Seq[Seq[Any]] = r => Seq(r))

  private val rng = new scala.util.Random(20261019L)
  private def floats(n: Int): Seq[Float] = Seq.fill(n)(rng.nextFloat())

  private def df(rows: Seq[Seq[Any]], schema: StructType): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.map(Row.fromSeq).asJava, schema)
  }

  private def ids(col: String, xs: Seq[Long]): DataFrame = {
    import spark.implicits._
    xs.toDF(col)
  }

  private def norm(r: Row): Seq[Any] = r.toSeq.map {
    case s: scala.collection.Seq[_] => s.toVector
    case x => x
  }

  private def applyRows(k: Kind, st: State, rows: Seq[Seq[Any]]): State =
    st ++ rows.flatMap(k.stored).groupBy(k.key).map { case (kk, rs) =>
      kk -> rs.toSet }

  private def served(st: State): Set[Seq[Any]] = st.values.flatten.toSet

  private def check(k: Kind, path: String, st: State, step: String): Unit = {
    val got = k.load(path).collect().map(norm)
    assert(got.length == got.toSet.size, s"${k.name} $step: duplicate rows")
    val want = served(st)
    assert(got.toSet == want, s"${k.name} $step: load differs from the " +
      s"newest-wins rows (missing ${(want -- got.toSet).take(3)}, extra " +
      s"${(got.toSet -- want).take(3)})")
  }

  private def f(n: String, t: DataType, nullable: Boolean = false) =
    StructField(n, t, nullable)
  private val arrF = ArrayType(FloatType)

  private val kinds: Seq[Kind] = Seq(
    Kind("vectors",
      StructType(Seq(f("vec_id", LongType), f("embedding", arrF, true))),
      (d, p) => TS.saveVectors(d, p), TS.appendVectorsDelta,
      Some((xs, p) => TS.forgetVectorsDelta(ids("vec_id", xs), p)),
      TS.loadVectors(spark, _), r => Seq(r(0)), _(0).asInstanceOf[Long],
      (xs, _) => xs.map(i => Seq(i, floats(8).toVector))),
    Kind("ivf",
      StructType(Seq(f("vec_id", LongType), f("centroid_id", LongType),
        f("embedding", arrF, true))),
      (d, p) => TS.saveIvfIndex(d, p), TS.appendIvfDelta,
      Some((xs, p) => TS.forgetIvfDelta(ids("vec_id", xs), p)),
      TS.loadIvfIndex(spark, _), r => Seq(r(0)), _(0).asInstanceOf[Long],
      (xs, v) => xs.map(i => Seq(i, (i + v) % 4, floats(8).toVector))),
    Kind("ivfpq",
      StructType(Seq(f("vec_id", LongType), f("centroid_id", LongType),
        f("codes", ArrayType(IntegerType), true))),
      (d, p) => TS.saveIvfPqIndex(d, p), TS.appendIvfPqDelta,
      Some((xs, p) => TS.forgetIvfPqDelta(ids("vec_id", xs), p)),
      TS.loadIvfPqIndex(spark, _), r => Seq(r(0)), _(0).asInstanceOf[Long],
      (xs, v) => xs.map(i => Seq(i, (i + v) % 4,
        Vector.fill(16)(rng.nextInt(256))))),
    Kind("tokens",
      StructType(Seq(f("doc_id", LongType), f("token_idx", LongType),
        f("embedding", arrF, true))),
      (d, p) => TS.saveTokens(d, p), TS.appendTokensDelta,
      Some((xs, p) =>
        TS.forgetTokensDelta(spark, ids("doc_id", xs), p)),
      TS.loadTokens(spark, _), r => Seq(r(0), r(1)),
      _(0).asInstanceOf[Long],
      // a re-ingested bag is SHORTER (3 tokens against 4): the old
      // fourth token survives under the per-token key
      (xs, v) => xs.flatMap(i => (0L until (if (v == 0) 4L else 3L))
        .map(t => Seq(i, t, floats(8).toVector)))),
    Kind("pooled",
      StructType(Seq(f("id", LongType), f("n_tokens", LongType),
        f("pool", ArrayType(LongType), true))),
      (d, p) => TS.savePooled(d, p, 8), TS.appendPooledDelta,
      Some((xs, p) => TS.forgetPooledDelta(ids("id", xs), p)),
      TS.loadPooled(spark, _), r => Seq(r(0)), _(0).asInstanceOf[Long],
      (xs, v) => xs.map(i => Seq(i, 3L + v,
        Vector.fill(8)(rng.nextLong())))),
    Kind("bandedsigs",
      StructType(Seq(f("id", LongType), f("simhash", LongType))),
      (d, p) => TS.saveBandedSigIndex(d, p, 4),
      TS.appendBandedSigsDelta,
      Some((xs, p) => TS.forgetBandedSigsDelta(ids("id", xs), p)),
      TS.loadBandedSigIndex(spark, _), r => Seq(r(1)),
      _(1).asInstanceOf[Long],
      (xs, _) => xs.map(i => Seq(i, rng.nextLong())),
      // one row per 16-bit block: bkey = t * 2^16 + block t (high first)
      stored = r => {
        val s = r(1).asInstanceOf[Long]
        (0 until 4).map(t => Seq(t * 65536L + ((s >> (48 - 16 * t)) & 0xFFFFL),
          r(0), s, 4))
      }),
    Kind("graph",
      StructType(Seq(f("query_id", LongType), f("rank", IntegerType),
        f("neighbor_id", LongType), f("cos_sim", DoubleType, true))),
      (d, p) => TS.saveGraphIndex(d, p), TS.appendGraphDelta, None,
      TS.loadGraphIndex(spark, _), r => Seq(r(0)), _(0).asInstanceOf[Long],
      // a re-touched source's out-list is replaced WHOLE (3 edges vs 4)
      (xs, v) => xs.flatMap(i => (0 until (if (v == 0) 4 else 3)).map(r =>
        Seq[Any](i, r, rng.nextInt(5000).toLong, rng.nextDouble())))),
    Kind("hnsw",
      StructType(Seq(f("layer", IntegerType), f("query_id", LongType),
        f("rank", IntegerType), f("neighbor_id", LongType),
        f("cos_sim", DoubleType, true))),
      (d, p) => TS.saveHnswIndex(d, p), TS.appendHnswDelta, None,
      TS.loadHnswIndex(spark, _), r => Seq(r(0), r(1)),
      _(1).asInstanceOf[Long],
      (xs, v) => xs.flatMap(i => (0 until (if (i % 10 == 0) 2 else 1))
        .flatMap(layer => (0 until (if (v == 0) 4 else 3)).map(r =>
          Seq[Any](layer, i, r, rng.nextInt(5000).toLong,
            rng.nextDouble()))))),
    Kind("pqcodes",
      StructType(Seq(f("vec_id", LongType), f("sub", IntegerType),
        f("code", IntegerType, true))),
      (d, p) => TS.savePqCodes(d, p), TS.appendPqCodesDelta,
      Some((xs, p) => TS.forgetPqCodesDelta(ids("vec_id", xs), p)),
      TS.loadPqCodes(spark, _), r => Seq(r(0)), _(0).asInstanceOf[Long],
      (xs, _) => xs.flatMap(i => (0 until 4).map(s =>
        Seq[Any](i, s, rng.nextInt(256))))))

  kinds.foreach { k =>
    val second = if (k.forget.isDefined) "forget" else "second append"
    test(s"${k.name}: save, append, $second, detect, maintainRoot merge " +
        "and full fold all serve the hand-derived newest-wins rows") {
      val root = java.nio.file.Files.createTempDirectory(
        s"lifecycle_${k.name}").toString
      val path = s"$root/${k.name}"
      val base = k.gen(0L until 3000L, 0)
      var st = applyRows(k, Map.empty, base)
      k.save(df(base, k.inSchema), path)
      check(k, path, st, "save")

      // re-touches ten base keys and adds ten new ones
      val d1 = k.gen(2990L until 3010L, 1)
      k.append(df(d1, k.inSchema), path)
      st = applyRows(k, st, d1)
      check(k, path, st, "append")

      k.forget match {
        case Some(fg) =>
          // a base id, a re-touched id, an appended id, a never-seen id
          val gone = Seq(5L, 2995L, 3005L, 99999L)
          fg(gone, path)
          st = st.filterNot { case (kk, rs) =>
            gone.contains(k.forgetId(rs.head)) }
          check(k, path, st, "forget")
        case None =>
          val d2 = k.gen(Seq(7L, 3001L), 2)
          k.append(df(d2, k.inSchema), path)
          st = applyRows(k, st, d2)
          check(k, path, st, "second append")
      }
      assert(TS.deltaGenerations(spark, path) == 2L)
      assert(TS.detectArtifactKind(spark, path).contains(k.name))

      // merge branch: two small generations against a large base
      val merged = TS.maintainRoot(spark, root, maxGenerations = 2L)
      assert(merged == Seq(TS.MaintenanceReceipt(path, Some(k.name), 2L,
        compacted = true)))
      assert(TS.deltaGenerations(spark, path) == 1L,
        s"${k.name}: small deltas must MERGE into one generation")
      check(k, path, st, "merge")

      // full-fold branch: a generation the size of a third of the base
      val big = k.gen(0L until 1000L, 3)
      k.append(df(big, k.inSchema), path)
      st = applyRows(k, st, big)
      check(k, path, st, "big append")
      val folded = TS.maintainRoot(spark, root, maxGenerations = 2L)
      assert(folded == Seq(TS.MaintenanceReceipt(path, Some(k.name), 2L,
        compacted = true)))
      assert(TS.deltaGenerations(spark, path) == 0L,
        s"${k.name}: base-comparable deltas must take the full fold")
      check(k, path, st, "full fold")
      assert(TS.detectArtifactKind(spark, path).contains(k.name))
    }
  }

  test("retrieval: save, fold-in, forget, detect, maintainRoot merge and " +
      "full fold serve the hand-derived newest-wins sub-artifacts") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("lifecycle_retr")
      .toString
    val path = s"$root/retrieval"
    def docTerms(d: Long): Seq[(String, Long)] =
      Seq(s"a${d % 97}", s"b${d % 89}", s"c${d % 83}", s"d${d % 13}")
        .map(_ -> (1L + d % 3))
    def postingsOf(docs: Seq[Long]) =
      docs.flatMap(d => docTerms(d).map { case (t, tf) => (t, d, tf) })
    def lensOf(docs: Seq[Long]) = docs.map(d => d -> docTerms(d).map(_._2).sum)

    var postings = postingsOf(0L until 4000L).toSet
    var terms: Map[String, Long] =
      postings.toSeq.groupBy(_._1).map { case (t, ps) => t -> ps.size.toLong }
    var lens: Map[Long, Long] = lensOf(0L until 4000L).toMap
    var (n, sum) = (lens.size.toLong, lens.values.sum)

    def check(step: String): Unit = {
      val (p, t, d, s) = TS.loadRetrievalIndex(spark, path)
      val pGot = p.as[(String, Long, Long)].collect()
      assert(pGot.toSet == postings && pGot.length == postings.size,
        s"retrieval $step: postings")
      val tGot = t.as[(String, Long)].collect()
      assert(tGot.toMap == terms && tGot.length == terms.size,
        s"retrieval $step: terms")
      val dGot = d.as[(Long, Long)].collect()
      assert(dGot.toMap == lens && dGot.length == lens.size,
        s"retrieval $step: doclens")
      val st = s.head()
      assert(st.getLong(0) == n && math.abs(st.getDouble(1) -
        sum.toDouble / n) < 1e-9, s"retrieval $step: stats")
    }
    def fold(docs: Seq[Long]): Unit = {
      TS.foldInRetrieval(spark, postingsOf(docs).toDF("term", "doc_id", "tf"),
        lensOf(docs).toDF("doc_id", "dl"), path)
      val add = postingsOf(docs)
      postings ++= add
      add.groupBy(_._1).foreach { case (t, ps) =>
        terms += t -> (terms.getOrElse(t, 0L) + ps.size) }
      lens ++= lensOf(docs)
      n += docs.size
      sum += lensOf(docs).map(_._2).sum
    }

    TS.saveRetrievalIndex(postings.toSeq.toDF("term", "doc_id", "tf"),
      terms.toSeq.toDF("term", "df"), lens.toSeq.toDF("doc_id", "dl"),
      Seq((n, sum.toDouble / n)).toDF("n", "avgdl"), path)
    check("save")
    fold(4000L until 4010L)
    check("fold-in")
    // forgetting is lazy: the docs leave docLens only
    TS.forgetRetrievalDocs(Seq(3L, 4005L, 99999L).toDF("doc_id"), path)
    lens --= Seq(3L, 4005L)
    check("forget")
    assert(TS.detectArtifactKind(spark, path).contains("retrieval"))
    val subs = Seq("postings", "terms", "doclens").map(s => s"$path/$s")
    assert(subs.map(TS.deltaGenerations(spark, _)) == Seq(1L, 1L, 2L))

    val merged = TS.maintainRoot(spark, root, maxGenerations = 2L)
    assert(merged == Seq(TS.MaintenanceReceipt(path, Some("retrieval"), 2L,
      compacted = true)))
    assert(subs.map(TS.deltaGenerations(spark, _)) == Seq(1L, 1L, 1L),
      "small deltas must MERGE: docLens' two generations become one")
    check("merge")

    fold(5000L until 6500L)
    check("big fold-in")
    val folded = TS.maintainRoot(spark, root, maxGenerations = 2L)
    assert(folded == Seq(TS.MaintenanceReceipt(path, Some("retrieval"), 2L,
      compacted = true)))
    assert(subs.map(TS.deltaGenerations(spark, _)) == Seq(0L, 0L, 0L),
      "base-comparable deltas must take the full fold")
    check("full fold")
  }
}
