package graft.functions

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, DoubleType, IntegerType, LongType}

/** Fused ADC (asymmetric distance computation) lookup for PQ candidate
  * scoring — the codegen replacement for the explode→join→groupBy→fold
  * pipeline that every PQ serve path ran per candidate:
  *
  *   posexplode(codes) → broadcast-join the per-(query, sub, code) dot
  *   table → groupBy(query, vec) collect_list → sort_array → aggregate
  *
  * That shape pays numSub exploded rows, a broadcast hash join probe per
  * row, and a full hash aggregate (with an interpreted `aggregate` lambda
  * — CodegenFallback) per candidate. At 100× it was the measured IVF-PQ
  * serve residual (SCALE.md r15: s2 dominating, e2e ratio 1.83). Here the
  * whole per-candidate computation is ONE whole-stage-codegen expression:
  * the query→LUT map is built driver-side from the SAME localized probe
  * rows and collected codebooks the legacy plan broadcast, and each
  * candidate row does numSub binary searches + a sequential double fold.
  *
  * Exactness contract (spec-pinned equal to the legacy plan, which is the
  * DuckDB-oracle replay form):
  *  - the fold runs in sub order 0..numSub-1 starting from 0.0 — the
  *    identical double-addition sequence as
  *    `aggregate(sort_array(collect_list(struct(sub, part))), 0d, +)`;
  *  - parts are computed with the exact [[DotProduct.dot]] arithmetic
  *    (f32→f64 widen, sequential left fold) over the exact
  *    `slice(q_emb, sub·subDim+1, subDim)` subvector semantics;
  *  - a candidate whose (sub, code) has NO codebook entry — or a
  *    duplicated codebook entry, or a codes array not exactly numSub
  *    long — is DROPPED ([[adc_keep]] false), matching the legacy inner
  *    join + `size(_ps) === numSub` filter (a duplicate produced
  *    numSub+1 parts there, failing the same filter);
  *  - a NULL part (malformed embedding/centroid: length mismatch or null
  *    element — [[DotProduct.wellFormed]] false) poisons the sum to NULL
  *    but KEEPS the candidate, matching null propagation through the
  *    legacy fold.
  */
object AdcLut {

  /** Per-query lookup tables: for each sub 0..numSub-1, codebook codes
    * sorted ascending with aligned part values; `partNull(s)(i)` marks a
    * part whose dot was NULL (poisons the sum, keeps the row);
    * `dup(s)(i)` marks a code that appeared twice in the books (drops
    * the row — the legacy size-filter semantics). */
  final class QueryLut(val codes: Array[Array[Int]],
                       val parts: Array[Array[Double]],
                       val partNull: Array[Array[Boolean]],
                       val dup: Array[Array[Boolean]]) extends Serializable

  /** The full query_id → LUT map shipped to executors inside the
    * expression (one reference object per plan, built once per serve). */
  final class Luts(val numSub: Int,
                   private val m: java.util.HashMap[java.lang.Long, QueryLut])
      extends Serializable {
    def lut(q: Long): QueryLut = m.get(q)
    def size: Int = m.size
  }

  private def sliceF(qe: Seq[Any], from: Int, len: Int): Array[Float] = {
    // Spark slice(arr, from+1, len): elements [from, min(from+len, n));
    // null array → null; a null ELEMENT makes the dot NULL (wellFormed),
    // represented here by returning null for the slice.
    if (qe == null) return null
    val until = math.min(from + len, qe.length)
    if (from >= until) return new Array[Float](0)
    val out = new Array[Float](until - from)
    var i = from
    while (i < until) {
      val v = qe(i)
      if (v == null) return null
      out(i - from) = v.asInstanceOf[Float]
      i += 1
    }
    out
  }

  private[functions] def floatsOrNull(s: Seq[Any]): Array[Float] = {
    if (s == null) return null
    val out = new Array[Float](s.length)
    var i = 0
    val it = s.iterator
    while (it.hasNext) {
      val v = it.next()
      if (v == null) return null
      out(i) = v.asInstanceOf[Float]
      i += 1
    }
    out
  }

  /** [[DotProduct.dot]] / [[DotProduct.wellFormed]] replicated over plain
    * arrays: null on null side or length mismatch, else the sequential
    * f64 left fold (null ELEMENTS were already folded into a null array
    * by the converters above). */
  private def dotOrNull(a: Array[Float], b: Array[Float]): java.lang.Double = {
    if (a == null || b == null || a.length != b.length) return null
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  /** Build the LUT map driver-side from collected probe rows and
    * collected codebook rows — the same inputs the legacy plan localized
    * and broadcast, so no new action is required. |q|·numSub·|codes|
    * small dots; sub-millisecond at serving probe-batch sizes, bounded
    * by the probe-localization caps upstream. */
  def build(probedRows: Array[Row], qIdx: Int, embIdx: Int,
            booksRows: Array[Row], numSub: Int, subDim: Int): Luts = {
    // distinct queries, first occurrence (legacy dropDuplicates("query_id")
    // kept one arbitrary row; q_emb is identical per query by construction)
    val qEmb = new java.util.LinkedHashMap[java.lang.Long, Seq[Any]]()
    probedRows.foreach { r =>
      if (!r.isNullAt(qIdx)) {
        val q = r.getLong(qIdx)
        if (!qEmb.containsKey(q))
          qEmb.put(q, if (r.isNullAt(embIdx)) null else r.getSeq[Any](embIdx))
      }
    }
    // books grouped by sub (rows with null/out-of-range sub or null code
    // never matched the generated sub sequence / join key — ignored)
    val bySub = Array.fill(numSub)(
      new scala.collection.mutable.ArrayBuffer[(Int, Array[Float])]())
    booksRows.foreach { r =>
      if (!r.isNullAt(0) && !r.isNullAt(1)) {
        val s = r.getInt(0)
        if (s >= 0 && s < numSub)
          bySub(s) += ((r.getInt(1),
            if (r.isNullAt(2)) null else floatsOrNull(r.getSeq[Any](2))))
      }
    }
    val m = new java.util.HashMap[java.lang.Long, QueryLut](qEmb.size() * 2)
    val qit = qEmb.entrySet().iterator()
    while (qit.hasNext) {
      val e = qit.next()
      val qe = e.getValue
      val codes = new Array[Array[Int]](numSub)
      val parts = new Array[Array[Double]](numSub)
      val pNull = new Array[Array[Boolean]](numSub)
      val dup = new Array[Array[Boolean]](numSub)
      var s = 0
      while (s < numSub) {
        val sub = sliceF(qe, s * subDim, subDim)
        val entries = bySub(s).sortBy(_._1)
        val n = entries.length
        codes(s) = new Array[Int](n)
        parts(s) = new Array[Double](n)
        pNull(s) = new Array[Boolean](n)
        dup(s) = new Array[Boolean](n)
        var i = 0
        while (i < n) {
          val (c, cent) = entries(i)
          codes(s)(i) = c
          val d = dotOrNull(sub, cent)
          if (d == null) pNull(s)(i) = true else parts(s)(i) = d
          if ((i > 0 && codes(s)(i - 1) == c) ||
              (i + 1 < n && entries(i + 1)._1 == c)) dup(s)(i) = true
          i += 1
        }
        s += 1
      }
      m.put(e.getKey, new QueryLut(codes, parts, pNull, dup))
    }
    new Luts(numSub, m)
  }

  /** Shared per-row probe: 0 = drop (no entry / dup / wrong arity /
    * null code element / unknown query), 1 = keep with NULL score
    * (a poisoned part), 2 = keep with `outSum(0)` as the score. */
  private def probe(luts: Luts, q: Long, codes: ArrayData,
                    outSum: Array[Double]): Int = {
    val lut = luts.lut(q)
    if (lut == null) return 0
    val numSub = luts.numSub
    if (codes.numElements() != numSub) return 0
    var acc = 0.0
    var poisoned = false
    var s = 0
    while (s < numSub) {
      if (codes.isNullAt(s)) return 0
      val c = codes.getInt(s)
      val i = java.util.Arrays.binarySearch(lut.codes(s), c)
      if (i < 0 || lut.dup(s)(i)) return 0
      if (lut.partNull(s)(i)) poisoned = true
      else if (!poisoned) acc += lut.parts(s)(i)
      s += 1
    }
    if (poisoned) 1 else { outSum(0) = acc; 2 }
  }

  /** Driver-side probe over a plain codes array — the mirror-walk
    * scorer's entry ([[graft.similarity.GraphAnn]]): same LUT, same
    * status contract as [[probe]] (0 = drop, 1 = keep with NULL score,
    * 2 = keep with `out(0)`), same fold arithmetic. */
  private[graft] def scoreLocal(luts: Luts, q: Long, codes: Array[Int],
                                out: Array[Double]): Int = {
    val lut = luts.lut(q)
    if (lut == null) return 0
    val numSub = luts.numSub
    if (codes.length != numSub) return 0
    var acc = 0.0
    var poisoned = false
    var s = 0
    while (s < numSub) {
      val c = codes(s)
      val i = java.util.Arrays.binarySearch(lut.codes(s), c)
      if (i < 0 || lut.dup(s)(i)) return 0
      if (lut.partNull(s)(i)) poisoned = true
      else if (!poisoned) acc += lut.parts(s)(i)
      s += 1
    }
    if (poisoned) 1 else { out(0) = acc; 2 }
  }

  /** Keep-predicate expression: true iff the candidate would have
    * survived the legacy join + size filter. */
  case class AdcKeep(left: Expression, right: Expression, luts: Luts)
      extends BinaryExpression {
    override def dataType: DataType = BooleanType
    override def prettyName: String = "adc_keep"
    override def nullable: Boolean = true

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      AdcLut.checkTypes(prettyName, left, right)

    def keep(q: Long, codes: ArrayData): Boolean =
      probe(luts, q, codes, AdcLut.scratch.get()) != 0

    override def eval(input: InternalRow): Any = {
      val l = left.eval(input)
      if (l == null) return null
      val r = right.eval(input)
      if (r == null) return null
      keep(l.asInstanceOf[Long], r.asInstanceOf[ArrayData])
    }

    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode = {
      val self = ctx.addReferenceObj("adcKeep", this, classOf[AdcKeep].getName)
      val l = left.genCode(ctx)
      val r = right.genCode(ctx)
      ev.copy(code =
        code"""
          ${l.code}
          ${r.code}
          boolean ${ev.isNull} = true;
          boolean ${ev.value} = false;
          if (!${l.isNull} && !${r.isNull}) {
            ${ev.isNull} = false;
            ${ev.value} = $self.keep(${l.value}, ${r.value});
          }
        """)
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): AdcKeep =
      copy(left = newLeft, right = newRight)
  }

  /** ADC score expression: the ordered per-subspace double fold, NULL
    * when a part is poisoned (or the row would be dropped — callers
    * filter with [[AdcKeep]] first, so that case never reaches the
    * ranking window). */
  case class AdcScore(left: Expression, right: Expression, luts: Luts)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "adc_score"
    override def nullable: Boolean = true

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      AdcLut.checkTypes(prettyName, left, right)

    /** null = NULL score (poisoned or dropped); else the boxed sum. */
    def score(q: Long, codes: ArrayData): java.lang.Double = {
      val out = AdcLut.scratch.get()
      if (probe(luts, q, codes, out) == 2) out(0) else null
    }

    override def eval(input: InternalRow): Any = {
      val l = left.eval(input)
      if (l == null) return null
      val r = right.eval(input)
      if (r == null) return null
      score(l.asInstanceOf[Long], r.asInstanceOf[ArrayData])
    }

    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode = {
      val self = ctx.addReferenceObj("adcScore", this, classOf[AdcScore].getName)
      val l = left.genCode(ctx)
      val r = right.genCode(ctx)
      ev.copy(code =
        code"""
          ${l.code}
          ${r.code}
          boolean ${ev.isNull} = true;
          double ${ev.value} = 0.0;
          if (!${l.isNull} && !${r.isNull}) {
            java.lang.Double _adcr = $self.score(${l.value}, ${r.value});
            if (_adcr != null) {
              ${ev.isNull} = false;
              ${ev.value} = _adcr.doubleValue();
            }
          }
        """)
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): AdcScore =
      copy(left = newLeft, right = newRight)
  }

  // one scratch cell per thread — keeps probe() allocation-free per row
  private val scratch = new ThreadLocal[Array[Double]] {
    override def initialValue(): Array[Double] = new Array[Double](1)
  }

  private def checkTypes(name: String, left: Expression, right: Expression)
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    val ok = left.dataType == LongType && (right.dataType match {
      case ArrayType(IntegerType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name requires (BIGINT query_id, ARRAY<INT> codes), got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  def adc_keep(queryId: Column, codes: Column, luts: Luts): Column =
    ColumnBridge.column(AdcKeep(ColumnBridge.expression(queryId),
      ColumnBridge.expression(codes), luts))

  def adc_score(queryId: Column, codes: Column, luts: Luts): Column =
    ColumnBridge.column(AdcScore(ColumnBridge.expression(queryId),
      ColumnBridge.expression(codes), luts))
}
