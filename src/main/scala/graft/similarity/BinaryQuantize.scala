package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** 1-bit (binary) quantization ANN — the extreme end of the repo's
  * quantization ladder (f32 exact → int8 [[Quantize]] → PQ codes
  * [[ProductQuantizer]] → sign bits here): each vector keeps only its
  * per-component SIGN, packed 32 bits per BIGINT word, and the coarse
  * stage ranks by Hamming distance over the packed words — 32×
  * compression over f32 and pure integer ALU work, the
  * memory-resident-index shape binary-quantizing vector stores serve
  * from. Hamming over sign bits is a monotone proxy for angular
  * distance (Goemans–Williamson / SimHash: P[sign differs] = θ/π per
  * component); the exact cosine re-rank of the `k·rerank` shortlist
  * restores true ordering, as in every two-stage prober here.
  *
  * Everything in the coarse stage is INTEGER arithmetic — packing,
  * XOR, bit_count — so the full pipeline (not just a planted subset)
  * replays in SQL: e_ann_bq carries the whole-output oracle.
  *
  * Scale ledger: packing is map-only (corpus never shuffles); the
  * coarse scan is broadcast-queries × corpus BITS (dim/8 bytes per
  * row — the floats are NOT read); only the shortlist's id-keyed
  * re-rank join touches the float corpus, with the shortlist broadcast
  * so the big side stays put. For sub-linear candidate generation
  * compose with the banded paths ([[Similarity.lshTopK]],
  * [[Similarity.simhashPairsFromSigs]]) — binary codes are the
  * compression story, banding is the candidate story.
  */
object BinaryQuantize {

  private val BitsPerWord = 32 // keeps every word positive — no sign-bit
                               // portability hazards in any engine

  /** Packed sign bits: word w bit j set iff component `32w + j` > 0
    * (strictly — zeros and negatives clear, the same boundary both
    * engines evaluate identically on exact f32 input). Returns
    * ARRAY<BIGINT> of ⌈dim/32⌉ positive words. Delegates to the native
    * codegen'd kernel ([[graft.functions.SignBitsExpr]] — one loop per
    * row); [[signBitsFold]] is the declarative reference semantics
    * (bit-identical, asserted in BinaryQuantizeSpec). */
  def signBits(emb: Column, dim: Int): Column =
    graft.functions.SignBitsExpr.sign_bits(emb, dim)

  private[graft] def signBitsFold(emb: Column, dim: Int): Column = {
    require(dim >= 1, s"signBits: dim=$dim must be >= 1")
    val nWords = (dim + BitsPerWord - 1) / BitsPerWord
    def shl(c: Column, i: Column) = call_function("shiftleft", c, i)
    transform(sequence(lit(0), lit(nWords - 1)), w =>
      aggregate(
        zip_with(slice(emb, w * BitsPerWord + 1, lit(BitsPerWord)),
          sequence(lit(0), lit(BitsPerWord - 1)),
          // a short tail slice zips to nulls; when(null > 0) -> otherwise
          (x, j) => when(x > 0, shl(lit(1L), j)).otherwise(lit(0L))),
        lit(0L), (acc, v) => acc.bitwiseOR(v)))
  }

  /** Hamming distance between two packed-word arrays — native kernel
    * ([[graft.functions.HammingWordsExpr]]): this is the term the
    * coarse stage evaluates |queries| × |corpus| times, the one loop
    * that must not pay boxed-lambda dispatch. */
  def hammingWords(a: Column, b: Column): Column =
    graft.functions.HammingWordsExpr.hamming_words(a, b)

  private[graft] def hammingWordsFold(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L), (acc, v) => acc + v)

  /** Two-stage binary-quantized top-k: coarse Hamming scan over packed
    * sign bits (corpus floats untouched), exact cosine re-rank of the
    * `k·rerank` shortlist. Ties: (hamming asc, vec_id) coarse,
    * (cos desc, neighbor_id) final — the repo prober conventions. */
  def topKBinary(queries: DataFrame, corpus: DataFrame, dim: Int, k: Int,
                 rerank: Int): DataFrame = {
    require(k >= 1 && rerank >= 1,
      s"topKBinary: k=$k and rerank=$rerank must be >= 1")
    val cBits = corpus.select(col("vec_id"),
      signBits(col("embedding"), dim).as("bits"))
    val qBits = broadcast(queries.select(col("vec_id").as("query_id"),
      signBits(col("embedding"), dim).as("q_bits")))
    val wH = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming").asc, col("vec_id"))
    val shortlist = cBits.crossJoin(qBits)
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        hammingWords(col("bits"), col("q_bits")).as("hamming"))
      .withColumn("_r", row_number().over(wH))
      .filter(col("_r") <= k * rerank)
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
    Similarity.rerankShortlist(shortlist, queries, corpus, k)
  }
}
