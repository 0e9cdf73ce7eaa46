package graft.similarity

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Zero-norm (degenerate) embeddings across the similarity surface: an
  * unguarded cosine yields NaN, which Spark treats as LARGER than every
  * value — so one zero vector would outrank every real neighbor, pass
  * every ≥-threshold filter, and mass-delete its dedup cell. The
  * guarded kernels pin −∞ instead: degenerate vectors never rank, never
  * match, never delete. */
class ZeroNormSpec extends SparkTestBase {
  import spark.implicits._

  private val zero = Array(0f, 0f, 0f, 0f)
  private def emb = Seq(
    (0L, Array(1f, 0f, 0f, 0f), 0),
    (1L, Array(0.6f, 0.8f, 0f, 0f), 1),
    (2L, zero, 0), // the degenerate row
    (3L, Array(0f, 1f, 0f, 0f), 1))
    .toDF("vec_id", "embedding", "label").repartition(2)

  test("bruteTopK: a zero-norm corpus vector never takes rank 1") {
    val got = Similarity
      .bruteTopK(emb.filter(col("vec_id") === 0), emb, k = 3)
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(got.head._2 === 1L, s"zero vector outranked a real neighbor: ${got.toSeq}")
    assert(!got.head._3.isNaN && got.head._3 > 0.5)
    // the degenerate vector, if it appears at all, sits LAST with −∞
    got.find(_._2 == 2L).foreach { case (_, _, c) =>
      assert(c.isNegInfinity)
    }
  }

  test("semanticDedup: a zero-norm vector neither deletes its cell-mates " +
      "nor registers as a duplicate") {
    val cents = Seq((100L, Array(1f, 1f, 0f, 0f)))
      .toDF("centroid_id", "centroid") // one cell: everything co-locates
    val got = Similarity.semanticDedup(emb, cents, threshold = 0.99)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(got === Map(0L -> false, 1L -> false, 2L -> false, 3L -> false),
      s"zero vector corrupted dedup decisions: $got")
  }

  test("semanticContamination: zero-norm eval rows are dropped (one would " +
      "flag the whole corpus); a zero-norm corpus row is not flagged") {
    val evalSet = emb.filter(col("vec_id").isin(2L, 3L)) // incl. the zero row
    val got = Similarity.semanticContamination(
        emb.filter(col("vec_id") < 2), evalSet, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(3)))
      .sortBy(_._1)
    // nearest eval must be 3 (the only usable eval row), never 2
    assert(got.forall(_._2 == 3L), s"degenerate eval row won argmax: ${got.toSeq}")
    assert(got === Seq((0L, 3L, false), (1L, 3L, true)))
    val zc = Similarity.semanticContamination(
        emb.filter(col("vec_id") === 2), evalSet, threshold = 0.5)
      .collect()(0)
    assert(!zc.getBoolean(3) && zc.getDouble(2).isNegInfinity,
      "zero-norm corpus row spuriously contaminated")
    // all-degenerate eval set: loud, not silent
    intercept[IllegalArgumentException] {
      Similarity.semanticContamination(emb,
        emb.filter(col("vec_id") === 2), threshold = 0.5)
    }
  }

  /** 40 real vectors plus one all-zero vector (id 41) — the coarse
    * stages below short-list EVERY corpus vector, so the zero vector
    * always reaches the exact re-rank. */
  private def annCorpus = graft.Tables.load(spark, sfDir, "embeddings")
    .filter(col("vec_id") < 40).select("vec_id", "embedding")
    .unionByName(Seq((41L, Array.fill(64)(0f))).toDF("vec_id", "embedding"))

  test("every coarse→rerank serve ranks a zero-norm corpus vector LAST " +
      "at −∞ (no DIVIDE_BY_ZERO, never rank 1) when the short list " +
      "holds the whole corpus") {
    val corpus = annCorpus.localCheckpoint(true)
    val queries = corpus.filter(col("vec_id") % 10 === 3)
    val books = ProductQuantizer.codebooks(corpus, dim = 64, numSub = 8,
      stride = 5)
    val k = 40 // every non-self vector, the zero one included
    val serves = Seq(
      "ProductQuantizer.topKWith" -> (() => ProductQuantizer.topKWith(
        queries, corpus, 64, 8, k, books, rerank = 2)),
      "Quantize.topKQuant" -> (() =>
        Quantize.topKQuant(queries, corpus, k, coarseFactor = 2)),
      "Opq.topKOpq" -> (() => Opq.topKOpq(queries, corpus, 64, 8, k,
        Opq.identity(64), books, rerank = 2)),
      "IvfPq.topK" -> (() => IvfPq.topK(queries, corpus, k,
        centroidStride = 10, bookStride = 5, dim = 64, numSub = 8,
        nprobe = 5, rerank = 2)),
      "BinaryQuantize.topKBinary" -> (() =>
        BinaryQuantize.topKBinary(queries, corpus, 64, k, rerank = 2)))
    serves.foreach { case (name, serve) =>
      val got = serve().collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      assert(got.length === 4 * k, s"$name: ${got.length} rows")
      got.filter(_._2 == 1).foreach { case (q, _, n, c) =>
        assert(n != 41L && c > 0.0, s"$name: query $q rank 1 = ($n, $c)")
      }
      got.filter(_._3 == 41L).foreach { case (q, rank, _, c) =>
        assert(rank === k && c.isNegInfinity,
          s"$name: query $q ranks the zero vector $rank at $c")
      }
    }
  }

  test("ivfTopK rejects a non-positive stride (it would silently return " +
      "zero rows)") {
    intercept[IllegalArgumentException] {
      Similarity.ivfTopK(emb, emb, k = 1, centroidStride = 0, nprobe = 1)
    }
  }
}
