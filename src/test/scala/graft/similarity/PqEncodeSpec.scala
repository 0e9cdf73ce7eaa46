package graft.similarity

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{SparkTestBase, Tables}

/** Pins the map-only encode kernel ([[graft.functions.PqEncode]]) behind
  * [[Similarity.ivfAssign]], [[ProductQuantizer.encode]], [[IvfPq.encode]]
  * and [[IvfPq.encodeResidual]] bit-identical to the DataFrame shapes it
  * replaced — a centroid cross join + `min_by` argmin for the cell, an
  * exploded-subvector broadcast join + `min_by` argmin for the codes, a
  * `collect_list` regroup joined back to the cells. Those shapes live on
  * only here, as the oracle, over well-formed (sf0.01) and malformed
  * inputs: exact distance ties, zero-norm vectors and centroids, NaN
  * elements, null and short embeddings, null elements, duplicated
  * codebook entries and a codebook missing a subspace. */
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
}
