package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Symmetric per-vector int8 embedding quantization — the serving-side
  * compression for ANN at 100 TB: 4 bytes/dim float32 → 1 byte/dim codes
  * (+ one scale per vector), so a corpus' resident index shrinks ~4× and
  * the ADC-style integer dot products stay EXACT integer arithmetic
  * (engine-reproducible, unlike float sums whose order matters).
  *
  * scale = max|v| / 127; codes[i] = round(v[i] / scale) ∈ [-127, 127].
  * The all-zero vector quantizes to zero codes with scale 0 (its dot with
  * anything is 0 — no division ever runs against a zero scale).
  *
  * Reconstruction error per element is ≤ scale/2, so the approximate dot
  * `dotInt8` deviates from the float dot by at most
  * Σ (|a|·εb + |b|·εa + εa·εb) — bounded and spec'd, the standard
  * symmetric-quantization trade. Map-only; composes with
  * [[Similarity.ivfTopKWith]] / [[ProductQuantizer]] as the coarse scorer
  * with exact re-rank on the float column.
  */
object Quantize {

  /** struct(scale: double, codes: array<long>) for a float-array column.
    *
    * The abs-max reduction is BOUND ONCE per row by routing it through a
    * single-element-array `transform` whose lambda variable the code
    * lambdas then reference: HOF *inputs* evaluate once per row while
    * lambda *bodies* evaluate per element, so inlining `absMax` directly
    * into the per-element division would re-run the O(d) max for every
    * element — O(d²) per vector at serving dims (the HOF re-evaluation
    * trap; see `Similarity.minhashSignatureFold`'s staging note). */
  def quantizeInt8(emb: Column): Column =
    element_at(
      transform(
        array(array_max(transform(emb, v => abs(v.cast("double"))))),
        absMax =>
          struct(
            (absMax / 127.0).as("scale"),
            when(absMax === 0.0, transform(emb, _ => lit(0L)))
              .otherwise(transform(emb,
                v => round(v.cast("double") / (absMax / 127.0)).cast("long")))
              .as("codes"))),
      1)

  /** Exact integer dot of two code arrays — the native [[graft
    * .functions.DotCodes]] kernel: the fold form (aggregate ∘ zip_with)
    * is CodegenFallback, and coarse scoring runs this corpus × queries
    * times. Integer sum → same value in any form. */
  def dotCodes(a: Column, b: Column): Column =
    graft.functions.DotCodes.dot_codes(a, b)

  /** Approximate float dot from two quantized structs. */
  def dotInt8(qa: Column, qb: Column): Column =
    dotCodes(qa("codes"), qb("codes")) * qa("scale") * qb("scale")

  /** Dequantized (reconstructed) float vector, for error analysis. */
  def dequantize(q: Column): Column =
    transform(q("codes"), c => c.cast("double") * q("scale"))

  /** Quantized ANN serving: coarse top-(k·coarseFactor) per query by the
    * int8 approximate dot over the COMPRESSED index, then exact float
    * cosine re-rank of the survivors — the standard two-stage serving
    * shape ([[ProductQuantizer]]'s ADC twin at 8-bit symmetric precision).
    *
    * Scale shape: the corpus is quantized map-only into the (id, scale,
    * codes) serving index (~4× smaller resident than float32) and NEVER
    * shuffles its float vectors through coarse scoring; the query side
    * broadcasts. Coarse scores are an exact integer dot (order-free,
    * engine-reproducible) times two per-vector scales — one IEEE multiply
    * each, so the coarse ranking is deterministic bit-for-bit. Float
    * vectors are fetched (equi-join on id) only for the k·coarseFactor
    * finalists per query. Compose with [[Similarity.ivfTopKWith]]-style
    * cells when even one coarse pass over the corpus is too much.
    */
  def topKQuant(queries: DataFrame, corpus: DataFrame, k: Int,
                coarseFactor: Int = 4): DataFrame =
    topKQuantWith(queries, buildIndex(corpus), corpus, k, coarseFactor)

  /** The serving index for [[topKQuantWith]]: flat (vec_id, scale,
    * codes) — 1 byte/dim of information per vector (stored as longs
    * in-plan; a parquet round-trip keeps the 4× payload win since codes
    * are ≤ 8 bits of entropy and dictionary/bit-pack encode). Build ONCE
    * and persist/write it — quantization is corpus-sized map-only work
    * that a per-trigger serving path must not repeat. */
  def buildIndex(corpus: DataFrame): DataFrame =
    corpus.select(col("vec_id"), quantizeInt8(col("embedding")).as("q"))
      .select(col("vec_id"), col("q.scale").as("scale"),
        col("q.codes").as("codes"))

  /** [[topKQuant]] against a PRE-BUILT [[buildIndex]] index: the coarse
    * stage reads only the compressed index; `corpus` (the float vectors)
    * is touched only by the finalist equi-join fetch. This is the
    * serve-many form — the index is built/persisted once. */
  def topKQuantWith(queries: DataFrame, index: DataFrame, corpus: DataFrame,
                    k: Int, coarseFactor: Int = 4): DataFrame = {
    require(k > 0 && coarseFactor > 0, s"k=$k coarseFactor=$coarseFactor")
    val cq = index.select(col("vec_id").as("neighbor_id"),
      struct(col("scale"), col("codes")).as("cq"))
    val qq = broadcast(queries.select(col("vec_id").as("query_id"),
      quantizeInt8(col("embedding")).as("qq")))
    val w1 = Window.partitionBy(col("query_id"))
      .orderBy(col("qdot").desc, col("neighbor_id"))
    val cand = cq.join(qq, col("query_id") =!= col("neighbor_id"))
      .withColumn("qdot", dotInt8(col("cq"), col("qq")))
      .withColumn("crank", row_number().over(w1))
      .filter(col("crank") <= k * coarseFactor)
      .select(col("query_id"), col("neighbor_id"), col("qdot"))
    // the coarse qdot rides through the exact re-rank as a 5th column
    Similarity.rerankShortlist(cand, queries, corpus, k)
  }
}
