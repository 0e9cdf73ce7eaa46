package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{SparkTestBase, Tables}

/** Pins the map-only encode kernel ([[graft.functions.PqEncode]]) behind
  * [[Similarity.ivfAssign]], [[ProductQuantizer.encode]], [[IvfPq.encode]],
  * [[IvfPq.encodeResidual]], [[KMeans.assign]] / `assignGrouped`,
  * [[Similarity.ivfAssignTwoLevel]] and the [[Similarity.ivfRebalance]]
  * reassignment bit-identical to the DataFrame shapes it replaced — a
  * centroid cross join or join + `min_by` argmin for the cell, an
  * exploded-subvector broadcast join + `min_by` argmin for the codes, a
  * `collect_list` regroup joined back to the cells. Those shapes live on
  * only here, as the oracle, over well-formed (sf0.01) and malformed
  * inputs: exact distance ties (within a group and across probed
  * supers), zero-norm vectors and centroids, NaN elements, null and
  * short embeddings, null elements, NULL and cell-less groups,
  * duplicated codebook entries and a codebook missing a subspace. */
class PqEncodeSpec extends SparkTestBase {

  // ---------------------------------------------------------- the oracle

  private def legacyAssignWith(corpus: DataFrame, cents: DataFrame,
                               extraCols: Seq[String]): DataFrame = {
    val aggs =
      min_by(col("centroid_id"),
        struct(col("_cdist"), col("centroid_id"))).as("centroid_id") +:
      first(col("embedding")).as("embedding") +:
      extraCols.map(c => first(col(c)).as(c))
    corpus.crossJoin(broadcast(cents))
      .withColumn("_cdist",
        Similarity.negCosGuarded(col("embedding"), col("centroid")))
      .groupBy(col("vec_id"))
      .agg(aggs.head, aggs.tail: _*)
      .select((Seq("vec_id", "centroid_id", "embedding") ++ extraCols)
        .map(col): _*)
  }

  private def legacyPqEncode(corpus: DataFrame, books: DataFrame, dim: Int,
                             numSub: Int): DataFrame = {
    val subDim = dim / numSub
    val dot = graft.functions.DotProduct.dot_product _
    val key = dot(col("centroid"), col("centroid")) -
      lit(2.0) * dot(col("subvec"), col("centroid"))
    corpus.repartition(col("vec_id"))
      .select(col("vec_id"),
        explode(transform(sequence(lit(0), lit(numSub - 1)),
          s => struct(s.as("sub"),
            slice(col("embedding"), s * subDim + 1, lit(subDim))
              .as("subvec")))).as("_e"))
      .select(col("vec_id"), col("_e.sub").as("sub"),
        col("_e.subvec").as("subvec"))
      .join(broadcast(books), Seq("sub"))
      .withColumn("_d", key)
      .groupBy(col("vec_id"), col("sub"))
      .agg(min_by(col("code"), struct(col("_d"), col("code"))).as("code"))
  }

  private def legacyWithCodes(cells: DataFrame, vectors: DataFrame,
                              books: DataFrame, dim: Int,
                              numSub: Int): DataFrame = {
    val codes = legacyPqEncode(vectors, books, dim, numSub)
      .groupBy(col("vec_id"))
      .agg(sort_array(collect_list(struct(col("sub"), col("code")))).as("_sc"))
      .select(col("vec_id"),
        transform(col("_sc"), p => p.getField("code")).as("codes"))
    cells.select(col("vec_id"), col("centroid_id")).join(codes, Seq("vec_id"))
  }

  private def legacyIvfPq(corpus: DataFrame, cents: DataFrame,
                          books: DataFrame, dim: Int, numSub: Int) =
    legacyWithCodes(legacyAssignWith(corpus, cents, Nil), corpus, books,
      dim, numSub)

  private def legacyResidual(corpus: DataFrame, cents: DataFrame,
                             books: DataFrame, dim: Int, numSub: Int) = {
    val res = legacyAssignWith(corpus, cents, Nil)
      .join(broadcast(cents), Seq("centroid_id"))
      .select(col("vec_id"), col("centroid_id"),
        zip_with(col("embedding"), col("centroid"), (a, b) => a - b)
          .as("embedding"))
    legacyWithCodes(res, res.select(col("vec_id"), col("embedding")), books,
      dim, numSub)
  }

  // The nearest-centroid argmins that ran their own join / cross join +
  // `min_by` regroup before they ran on the kernel: KMeans.assign,
  // KMeans.assignGrouped, the two-level final argmin and the rebalance
  // reassignment (its split cells' children come from the unchanged
  // init at iters = 0).

  private def legacyKMeansAssign(corpus: DataFrame,
                                 centroids: DataFrame): DataFrame = {
    val others = corpus.columns.toSeq.filterNot(_ == "vec_id")
    val denom = Similarity.l2norm(col("embedding")) *
      Similarity.l2norm(col("centroid"))
    corpus.crossJoin(broadcast(centroids))
      .withColumn("_negcos",
        when(denom > 0,
          -Similarity.dot(col("embedding"), col("centroid")) / denom)
          .otherwise(lit(Double.PositiveInfinity)))
      .groupBy(col("vec_id"))
      .agg(
        min_by(col("centroid_id"),
          struct(col("_negcos"), col("centroid_id"))).as("centroid_id"),
        others.map(c => first(col(c)).as(c)): _*)
      .select((corpus.columns.toSeq :+ "centroid_id").map(col): _*)
  }

  private def legacyAssignGrouped(corpus: DataFrame,
                                  centroids: DataFrame): DataFrame = {
    val others = corpus.columns.toSeq
      .filterNot(c => c == "vec_id" || c == "grp")
    val denom = Similarity.l2norm(col("embedding")) *
      Similarity.l2norm(col("centroid"))
    corpus.join(broadcast(centroids), Seq("grp"))
      .withColumn("_negcos",
        when(denom > 0,
          -Similarity.dot(col("embedding"), col("centroid")) / denom)
          .otherwise(lit(Double.PositiveInfinity)))
      .groupBy(col("grp"), col("vec_id"))
      .agg(
        min_by(col("centroid_id"),
          struct(col("_negcos"), col("centroid_id"))).as("centroid_id"),
        others.map(c => first(col(c)).as(c)): _*)
      .select((corpus.columns.toSeq :+ "centroid_id").map(col): _*)
  }

  private def legacyTwoLevel(corpus: DataFrame, centroidsDf: DataFrame,
                             superDf: DataFrame, fanout: Int): DataFrame = {
    val c2s = broadcast(
      legacyAssignWith(
        centroidsDf.select(col("centroid_id").as("vec_id"),
          col("centroid").as("embedding")),
        superDf.select(col("super_id").as("centroid_id"),
          col("super_c").as("centroid")), Nil)
        .select(col("vec_id").as("centroid_id"),
          col("centroid_id").as("super_id"),
          col("embedding").as("centroid")))
    val sups = superDf
      .select(col("super_id").cast("long"), col("super_c")).collect()
    val supLit = array(sups.map { r =>
      struct(lit(r.getLong(0)).as("sid"),
        array(r.getSeq[Float](1).map(lit(_)): _*)
          .cast("array<float>").as("c"))
    }: _*)
    val probes = corpus
      .withColumn("_ps", explode(slice(array_sort(transform(supLit,
        s => struct(
          Similarity.negCosGuarded(col("embedding"), s.getField("c")).as("d"),
          s.getField("sid").as("sid")))), 1, fanout)))
      .select(col("vec_id"), col("embedding"),
        col("_ps").getField("sid").as("super_id"))
    probes.join(c2s, Seq("super_id"))
      .withColumn("_cdist",
        Similarity.negCosGuarded(col("embedding"), col("centroid")))
      .groupBy(col("vec_id"))
      .agg(min_by(col("centroid_id"),
        struct(col("_cdist"), col("centroid_id"))).as("centroid_id"),
        first(col("embedding")).as("embedding"))
      .select(col("vec_id"), col("centroid_id"), col("embedding"))
  }

  private def legacyRebalanceParts(index: DataFrame, centroidsDf: DataFrame,
                                   maxCellSize: Int, subK: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val idx = index.localCheckpoint(true)
    val bigIds = idx.groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("_n"))
      .filter(col("_n") > maxCellSize)
      .select(col("centroid_id"))
    val small = idx.join(broadcast(bigIds), Seq("centroid_id"), "left_anti")
    val big = idx.join(broadcast(bigIds), Seq("centroid_id"), "left_semi")
    val subs = KMeans.fitGrouped(
      big.select(col("centroid_id").as("grp"), col("vec_id"),
        col("embedding")), subK, iters = 0)
    val maxIdRow = centroidsDf.agg(max(col("centroid_id"))).head()
    val base = (if (maxIdRow.isNullAt(0)) 0L else maxIdRow.getLong(0)) + 1
    val renumbered = subs.withColumn("new_id",
      lit(base) - 1 + row_number().over(
        Window.partitionBy(graft.functions.WindowKeys
          .constantPartitionKey(col("grp")))
          .orderBy(col("grp"), col("centroid_id"))).cast("long"))
      .select(col("grp"), col("new_id"), col("centroid"))
    val reassigned = big
      .join(broadcast(renumbered), big("centroid_id") === renumbered("grp"))
      .withColumn("_cdist",
        Similarity.negCosGuarded(col("embedding"), col("centroid")))
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

  // ------------------------------------------------------------ helpers

  /** Rows as sorted strings: floats print exactly (−0.0 and NaN
    * included), arrays element by element. */
  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def assertSame(got: DataFrame, want: DataFrame, what: String) = {
    val (g, w) = (rows(got), rows(want))
    assert(g == w, s"$what:\n got  ${g.take(8)}\n want ${w.take(8)}")
    g.size
  }

  private def vecs(spark: org.apache.spark.sql.SparkSession,
                   rs: Seq[(java.lang.Long, Seq[java.lang.Float])],
                   idName: String, vecName: String): DataFrame =
    spark.createDataFrame(
      {
        import scala.jdk.CollectionConverters._
        rs.map { case (i, v) => Row(i, v) }.asJava
      },
      StructType(Seq(StructField(idName, LongType),
        StructField(vecName, ArrayType(FloatType)))))

  private def f(xs: Any*): Seq[java.lang.Float] = xs.map {
    case null => null
    case d: Double => java.lang.Float.valueOf(d.toFloat)
    case i: Int => java.lang.Float.valueOf(i.toFloat)
  }

  private val nan = Double.NaN
  private def L(i: Long): java.lang.Long = java.lang.Long.valueOf(i)

  // dim 4, numSub 2 (subDim 2)
  private lazy val edgeCorpus = vecs(spark, Seq(
    L(1) -> f(1, 0, 0, 0),
    L(2) -> f(0, 1, 0, 0),          // equidistant from two cells: a tie
    L(3) -> f(0, 0, 0, 0),          // zero norm
    L(4) -> f(1, nan, 0, 2),        // NaN element
    L(5) -> null,                   // null embedding
    L(6) -> f(1, 2, 3),             // short: a partial last subvector
    L(7) -> f(1),                   // short: no second subvector
    L(8) -> f(1, null, 3, 4),       // null element
    L(9) -> f(-1, -1, 2, 2),
    L(10) -> f(0.5, 0.25, -0.5, 1e30),
    L(11) -> f(3, 4, 3, 4),         // ties in both code books
    L(12) -> f(1, 2, 3, 4, 5)),     // long
    "vec_id", "embedding")

  private lazy val edgeCents = vecs(spark, Seq(
    L(30) -> f(1, 1, 0, 0),
    L(20) -> f(1, 1, 0, 0),         // duplicate of 30: tie → lower id
    L(40) -> f(0, 0, 0, 0),         // zero-norm centroid
    L(50) -> f(0, 0, 1, nan),       // NaN centroid
    L(60) -> f(-1, -1, 1, 1)),
    "centroid_id", "centroid")

  /** Adds a short centroid (its dot with every full-length vector is
    * NULL, and a NULL key is the smallest: it takes those vectors from
    * every cell), a null centroid and one with a null element (the
    * lowest id: it wins where every key is +∞, and the residual then
    * carries its null element). */
  private lazy val shortCents = edgeCents.unionByName(vecs(spark,
    Seq(L(70) -> f(1, 2, 3), L(90) -> null, L(10) -> f(null, 1, 1, 1)),
    "centroid_id", "centroid"))

  /** Books with duplicated entries, exact ties, NaN and zero-norm
    * centroids. */
  private lazy val edgeBooks = {
    val schema = StructType(Seq(StructField("sub", IntegerType),
      StructField("code", IntegerType),
      StructField("centroid", ArrayType(FloatType))))
    def b(s: Integer, c: Integer, v: Seq[java.lang.Float]) = Row(s, c, v)
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(Seq(
      b(0, 3, f(1, 0)), b(0, 1, f(0, 1)), b(0, 2, f(1, 0)), // 3 ≡ 2: tie
      b(0, 2, f(1, 0)),                                      // duplicate
      b(0, 4, f(0, 0)), b(0, 5, f(nan, 1)),
      b(0, 6, f(3, 4)), b(0, 7, f(3, 4)),                    // exact tie
      b(1, 0, f(0, 0)), b(1, 1, f(1, 1)), b(1, 1, f(2, 2)),  // dup code
      b(1, 2, f(0, -1)), b(1, 3, f(3, 4)), b(1, 4, f(-3, -4)),
      b(1, 5, f(3, 4))).asJava, schema)
  }

  /** Books with no entry for subspace 0, an out-of-range subspace, a
    * null code and a short centroid (a NULL key: it wins wherever the
    * subvector is well-formed). */
  private lazy val gappyBooks = {
    val schema = StructType(Seq(StructField("sub", IntegerType),
      StructField("code", IntegerType),
      StructField("centroid", ArrayType(FloatType))))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(Seq(
      Row(1, 0, f(1, 0)), Row(1, 1, f(0, 1)), Row(1, null, f(0, 1)),
      Row(1, 4, f(1)), Row(1, 5, f(null, 1)),
      Row(5, 9, f(1, 1)), Row(null, 8, f(1, 1))).asJava, schema)
  }

  // ------------------------------------------------------- malformed data

  test("ivfAssign / ivfAssignWith == the cross-join min_by argmin on " +
      "ties, zero norms, NaN, null / short / long embeddings") {
    val corpus = edgeCorpus.withColumn("label", col("vec_id") % 3)
    val n = assertSame(Similarity.ivfAssignWith(corpus, edgeCents,
        Seq("label")), legacyAssignWith(corpus, edgeCents, Seq("label")),
      "ivfAssignWith")
    assert(n == 12)
    assertSame(Similarity.ivfAssign(edgeCorpus, shortCents),
      legacyAssignWith(edgeCorpus, shortCents, Nil), "short centroid")
    // the equidistant vector takes the LOWER of the tied ids
    val tie = Similarity.ivfAssign(edgeCorpus, edgeCents)
      .filter(col("vec_id") === 2).head()
    assert(tie.getLong(1) == 20L)
  }

  test("ProductQuantizer.encode == the exploded join + min_by argmin, on " +
      "duplicated, tied, NaN, zero-norm and short codebook entries and on " +
      "a codebook missing a subspace") {
    for ((books, name) <- Seq((edgeBooks, "edge"), (gappyBooks, "gappy"))) {
      assertSame(ProductQuantizer.encode(edgeCorpus, books, 4, 2),
        legacyPqEncode(edgeCorpus, books, 4, 2), s"$name books")
    }
    // the exact code ties resolve to the lower code
    val c = ProductQuantizer.encode(edgeCorpus, edgeBooks, 4, 2)
      .filter(col("vec_id") === 11).orderBy("sub").collect()
      .map(_.getInt(2)).toSeq
    assert(c == Seq(6, 3), c)
  }

  test("IvfPq.encode and encodeResidual == cells joined to regrouped " +
      "codes, on the malformed corpus and books") {
    for ((books, name) <- Seq((edgeBooks, "edge"), (gappyBooks, "gappy"));
         (cs, cname) <- Seq((edgeCents, "edge"), (shortCents, "short"))) {
      assertSame(IvfPq.encode(edgeCorpus, cs, books, 4, 2),
        legacyIvfPq(edgeCorpus, cs, books, 4, 2), s"encode $name/$cname")
      assertSame(IvfPq.encodeResidual(edgeCorpus, cs, books, 4, 2),
        legacyResidual(edgeCorpus, cs, books, 4, 2),
        s"encodeResidual $name/$cname")
    }
  }

  test("an empty centroid or codebook table yields no rows, as the " +
      "joins did") {
    val noCents = edgeCents.filter(lit(false))
    val noBooks = edgeBooks.filter(lit(false))
    assert(Similarity.ivfAssign(edgeCorpus, noCents).count() == 0)
    assert(ProductQuantizer.encode(edgeCorpus, noBooks, 4, 2).count() == 0)
    assert(IvfPq.encode(edgeCorpus, noCents, edgeBooks, 4, 2).count() == 0)
    assert(IvfPq.encode(edgeCorpus, edgeCents, noBooks, 4, 2).count() == 0)
    assert(legacyIvfPq(edgeCorpus, edgeCents, noBooks, 4, 2).count() == 0)
  }

  // ------------------------------------------------------------- sf0.01

  private val dir = "/root/testdata/sf0.01"
  private def emb = Tables.load(spark, dir, "embeddings")
    .select(col("vec_id"), col("embedding"))
  private def cents = emb.filter(pmod(col("vec_id"), lit(50)) === 0)
    .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid"))

  test("sf0.01 embeddings: every kernel-backed encode == its oracle") {
    val corpus = emb.localCheckpoint(true)
    val books = ProductQuantizer.codebooks(corpus, 64, 8, 25)
      .localCheckpoint(true)
    val resBooks = IvfPq.residualBooks(corpus, cents, 64, 8, 25)
      .localCheckpoint(true)
    val n = corpus.count()
    assert(assertSame(Similarity.ivfAssign(corpus, cents),
      legacyAssignWith(corpus, cents, Nil), "ivfAssign") == n)
    assert(assertSame(ProductQuantizer.encode(corpus, books, 64, 8),
      legacyPqEncode(corpus, books, 64, 8), "pq encode") == 8 * n)
    assert(assertSame(IvfPq.encode(corpus, cents, books, 64, 8),
      legacyIvfPq(corpus, cents, books, 64, 8), "ivfpq encode") == n)
    assert(assertSame(IvfPq.encodeResidual(corpus, cents, resBooks, 64, 8),
      legacyResidual(corpus, cents, resBooks, 64, 8), "residual") == n)
  }

  // ------------------------------------------- duplicate and null ids

  test("duplicate and null vec_ids: one output row per input row, each " +
      "encoded from its own embedding (the groupBy shapes merged them)") {
    val unique = emb.filter(col("vec_id") < 40).localCheckpoint(true)
    val books = ProductQuantizer.codebooks(emb, 64, 8, 25)
      .localCheckpoint(true)
    // ids 0..39 → 0..19 twice, and every id divisible by 7 → NULL
    def remap(df: DataFrame) = df.withColumn("vec_id",
      when(col("vec_id") % 7 === 0, lit(null).cast("long"))
        .otherwise(col("vec_id") % 20))
    val dup = remap(unique)
    assert(assertSame(IvfPq.encode(dup, cents, books, 64, 8),
      remap(legacyIvfPq(unique, cents, books, 64, 8)), "ivfpq") == 40)
    assert(assertSame(Similarity.ivfAssign(dup, cents),
      remap(legacyAssignWith(unique, cents, Nil)), "assign") == 40)
    assert(assertSame(ProductQuantizer.encode(dup, books, 64, 8),
      remap(legacyPqEncode(unique, books, 64, 8)), "pq") == 320)
    // the merged legacy outcome, for contrast: fewer rows than inputs
    assert(legacyIvfPq(dup, cents, books, 64, 8).count() < 40)
  }

  // ------------------------------------ k-means, two-level, rebalance

  /** [[edgeCorpus]] in groups 0, 1 and 2 (2 has no cell), ids 4, 8 and 12
    * in the NULL group; an INT key against the cells' LONG one. */
  private def groupedCorpus = edgeCorpus.withColumn("grp",
    when(col("vec_id") % 4 === 0, lit(null)).otherwise(col("vec_id") % 3)
      .cast("int"))

  /** [[shortCents]] in groups: the tied 30 and 20 alone in 1; the
    * zero-norm, NaN, short and null-element centroids in 0; the null
    * centroid in the NULL group. */
  private def groupedCents = shortCents.withColumn("grp",
    when(col("centroid_id") === 90, lit(null))
      .when(col("centroid_id").isin(20, 30), lit(1L)).otherwise(lit(0L)))

  test("KMeans.assign / assignGrouped == the cross join / group join + " +
      "min_by argmin on ties, zero norms, NaN, null / short / long " +
      "embeddings, a NULL group, a group with no cells and DOUBLE -0.0 / " +
      "NaN, BINARY and STRUCT group keys") {
    val corpus = edgeCorpus.withColumn("label", col("vec_id") % 3)
    for ((cs, name) <- Seq((edgeCents, "edge"), (shortCents, "short")))
      assert(assertSame(KMeans.assign(corpus, cs),
        legacyKMeansAssign(corpus, cs), s"assign $name") == 12)
    assert(KMeans.assign(corpus, edgeCents).columns.toSeq ==
      corpus.columns.toSeq :+ "centroid_id")
    // group 2 has no cell and the NULL group matches none: 6 rows go
    val n = assertSame(KMeans.assignGrouped(groupedCorpus, groupedCents),
      legacyAssignGrouped(groupedCorpus, groupedCents), "assignGrouped")
    assert(n == 6)
    // the tie inside group 1 takes the lower id
    assert(KMeans.assignGrouped(groupedCorpus, groupedCents)
      .filter(col("vec_id") === 1).head().getAs[Long]("centroid_id") == 20L)
    assert(KMeans.assignGrouped(groupedCorpus,
      groupedCents.filter(lit(false))).count() == 0)
    // groups match as the join's keys did, whatever the key type;
    // group 0 is -0.0 on the rows and 0.0 on the cells; 1 is NaN on both
    def d(zero: Double): Column = when(col("grp") === 0, lit(zero))
      .when(col("grp") === 1, lit(Double.NaN))
      .when(col("grp") === 2, lit(3.0))
    def bin = col("grp").cast("string").cast("binary")
    for ((rowKey, cellKey, what) <- Seq(
        (d(-0.0), d(0.0), "double"),
        (bin, bin, "binary"),
        (struct(bin.as("b"), d(-0.0).as("d")),
          struct(bin.as("b"), d(0.0).as("d")), "struct"))) {
      val g = groupedCorpus.withColumn("grp", rowKey)
      val gc = groupedCents.withColumn("grp", cellKey)
      // the old groupBy also rewrote a -0.0 `grp` to 0.0 in its output,
      // where the kernel carries the row's own value: compare the rest
      assert(assertSame(KMeans.assignGrouped(g, gc).drop("grp"),
        legacyAssignGrouped(g, gc).drop("grp"), what) >= 6, what)
    }
  }

  /** A distance tie ACROSS supers: vector 1 is equidistant from 30 (under
    * super 100) and 20 (under super 200), and from both supers. */
  private lazy val tieCents = vecs(spark, Seq(
    L(30) -> f(1, 1, 0, 0), L(20) -> f(1, -1, 0, 0),
    L(40) -> f(0, 0, 0, 0), L(50) -> f(0, 0, 1, nan),
    L(60) -> f(-1, -1, 1, 1), L(80) -> f(0, 0, 1, 1)),
    "centroid_id", "centroid")
  private lazy val tieSupers = vecs(spark, Seq(
    L(100) -> f(0, 1, 0, 0), L(200) -> f(0, -1, 0, 0),
    L(300) -> f(0, 0, 1, 1), L(400) -> f(0, 0, 0, 0)),
    "super_id", "super_c")

  test("ivfAssignTwoLevel == the probe explode + c2s join + min_by " +
      "argmin at every fanout, on a cross-super tie and degenerate " +
      "centroids and supers") {
    for ((cs, name) <- Seq((tieCents, "tie"), (shortCents, "short"));
         fanout <- Seq(1, 2, 3, 4, 11)) {
      assertSame(Similarity.ivfAssignTwoLevel(edgeCorpus, cs, tieSupers,
          fanout), legacyTwoLevel(edgeCorpus, cs, tieSupers, fanout),
        s"$name fanout $fanout")
    }
    // both supers probed: the tied 30 and 20 compete, the lower id wins
    val one = Similarity.ivfAssignTwoLevel(edgeCorpus, tieCents, tieSupers, 2)
      .filter(col("vec_id") === 1).head()
    assert(one.getLong(1) == 20L)
  }

  test("ivfRebalanceParts == the child join + min_by reassignment, on " +
      "degenerate fat cells and on sf0.01") {
    def same(got: (DataFrame, DataFrame, DataFrame),
             want: (DataFrame, DataFrame, DataFrame), what: String) = {
      assertSame(got._1, want._1, s"$what centroids")
      assertSame(got._2, want._2, s"$what untouched")
      assertSame(got._3, want._3, s"$what changed")
    }
    val edgeIdx = Similarity.ivfAssign(edgeCorpus, edgeCents)
    same(Similarity.ivfRebalanceParts(edgeIdx, edgeCents, 1, 2, iters = 0),
      legacyRebalanceParts(edgeIdx, edgeCents, 1, 2), "edge")
    val idx = Similarity.ivfAssign(emb, cents).localCheckpoint(true)
    assert(same(Similarity.ivfRebalanceParts(idx, cents, 10, 3, iters = 0),
      legacyRebalanceParts(idx, cents, 10, 3), "sf0.01") > 0)
  }

  test("sf0.01 embeddings: k-means assigns and two-level at fanout 1, S " +
      "and S + 7 == their oracles; fit matches the old loop up to " +
      "float-summation order") {
    val corpus = emb.withColumn("label", col("vec_id") % 5)
      .localCheckpoint(true)
    val n = corpus.count()
    val fitted = KMeans.fit(corpus, k = 8, iters = 2).localCheckpoint(true)
    assert(assertSame(KMeans.assign(corpus, fitted),
      legacyKMeansAssign(corpus, fitted), "assign") == n)
    val g = corpus.withColumn("grp", col("vec_id") % 3)
    val gc = cents.withColumn("grp", col("centroid_id") % 3)
    assert(assertSame(KMeans.assignGrouped(g, gc),
      legacyAssignGrouped(g, gc), "assignGrouped") == n)
    val supers = Similarity.superCentroids(cents, stride = 200)
    val s = supers.count().toInt
    for (fanout <- Seq(1, s, s + 7))
      assert(assertSame(Similarity.ivfAssignTwoLevel(corpus, cents, supers,
          fanout), legacyTwoLevel(corpus, cents, supers, fanout),
        s"two-level fanout $fanout") == n)
    // the pre-kernel fit: the same init and update over the old assign
    val init = corpus.withColumn("_h", xxhash64(col("vec_id")))
      .orderBy(col("_h")).limit(8).collect()
      .map(r => r.getSeq[Float](r.fieldIndex("embedding"))).zipWithIndex
    var old = spark.createDataFrame(init.toSeq.map { case (v, i) =>
      (i.toLong, v) }).toDF("centroid_id", "centroid")
    for (_ <- 1 to 2) {
      val upd = legacyKMeansAssign(corpus, old)
        .select(col("centroid_id"),
          posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy("centroid_id", "pos").agg(avg(col("x")).as("m"))
        .groupBy("centroid_id")
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("centroid_id"), transform(col("pm"),
          e => e.getField("m").cast("float")).as("centroid"))
      old = old.select(col("centroid_id"), col("centroid").as("_prev"))
        .join(upd, Seq("centroid_id"), "left")
        .select(col("centroid_id"),
          coalesce(col("centroid"), col("_prev")).as("centroid"))
        .localCheckpoint(true)
    }
    def byId(df: DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val (got, want) = (byId(fitted), byId(old))
    assert(got.keySet == want.keySet)
    got.foreach { case (id, c) =>
      c.zip(want(id)).foreach { case (a, b) =>
        assert(math.abs(a - b) <= 1e-5f, s"centroid $id: $a vs $b") }
    }
  }

  test("duplicate and null vec_ids in KMeans.assign, assignGrouped and " +
      "ivfAssignTwoLevel: one output row per input row (the groupBy " +
      "shapes merged them)") {
    val unique = emb.filter(col("vec_id") < 40)
      .withColumn("grp", col("vec_id") % 2).localCheckpoint(true)
    def remap(df: DataFrame) = df.withColumn("vec_id",
      when(col("vec_id") % 7 === 0, lit(null).cast("long"))
        .otherwise(col("vec_id") % 20))
    val dup = remap(unique)
    val gc = cents.withColumn("grp", (col("centroid_id") / 50).cast("long") % 2)
    val supers = Similarity.superCentroids(cents, stride = 200)
    val flat = unique.drop("grp")
    assert(assertSame(KMeans.assign(dup, cents),
      remap(legacyKMeansAssign(unique, cents)), "assign") == 40)
    assert(assertSame(KMeans.assignGrouped(dup, gc),
      remap(legacyAssignGrouped(unique, gc)), "assignGrouped") == 40)
    assert(assertSame(Similarity.ivfAssignTwoLevel(remap(flat), cents,
        supers, 2), remap(legacyTwoLevel(flat, cents, supers, 2)),
      "two-level") == 40)
    // the merged legacy outcome, for contrast: fewer rows than inputs
    assert(legacyKMeansAssign(dup, cents).count() < 40)
  }
}
