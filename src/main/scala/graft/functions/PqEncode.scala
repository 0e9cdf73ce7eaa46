package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, InterpretedOrdering, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType, StructField, StructType}

/** Map-only IVF-PQ encode: ONE codegen expression that gives each vector
  * its coarse cell and its per-subspace PQ codes, from the vector alone.
  * PQ encoding is a per-vector nearest-centroid search (Jégou, Douze and
  * Schmid, TPAMI 2011); the centroid and codebook tables are collected
  * once on the driver (the rows a broadcast join would have shipped) and
  * travel to the tasks in ONE Spark broadcast variable, so each row costs
  * |cells| + numSub·|codes| primitive dots and no exchange, join or
  * aggregate. [[graft.similarity.Similarity.ivfAssign]],
  * [[graft.similarity.ProductQuantizer.encode]] and
  * [[graft.similarity.IvfPq.encode]] / `encodeResidual` are projections
  * over it.
  *
  * Exactness contract — bit-identical to the SQL forms it replaced (a
  * cross join + `min_by` argmin for the cell, a broadcast join of the
  * exploded subvectors + `min_by` for the codes; `PqEncodeSpec` keeps
  * them as its oracle):
  *  - cell key: `Similarity.negCosGuarded` — `−dot(x,c)/(√dot(x,x)·√dot(c,c))`,
  *    +∞ when that denominator is NULL or not `> 0` in SQL order (NaN
  *    passes), NULL when `dot(x,c)` is NULL (length mismatch);
  *  - code key: `dot(c,c) − 2·dot(x_sub, c)` with `x_sub` Spark's
  *    `slice(x, sub·subDim+1, subDim)`;
  *  - every dot is [[DotProduct]]'s f32→f64 sequential fold, NULL on a
  *    null side, a null element or a length mismatch;
  *  - argmin order is the `min_by(struct(key, id))` order: a NULL key is
  *    the smallest, doubles compare as SQL does (NaN largest, −0.0 = 0.0),
  *    ties break on the id (a NULL id first);
  *  - the residual form quantizes `zip_with(x, c_cell, _ - _)` (f32
  *    subtract, NULL past the shorter side or at a null element).
  *
  * A codebook subspace with no entry has no code: the code array holds
  * the PRESENT subspaces in order ([[Books.subs]]), like the regrouped
  * join output did. A null embedding is not an error: every key is +∞ or
  * NULL, so it lands in the first cell and takes each subspace's first
  * code, as the SQL forms decided.
  */
object PqEncode {

  /** A collected vector: f32 values plus the positions of null elements
    * (`nulls == null` when there are none). A null array is a null Vec. */
  final class Vec(val v: Array[Float], val nulls: Array[Boolean])
      extends Serializable {
    def wellFormed: Boolean = nulls == null
  }

  private def vecOf(s: scala.collection.Seq[Any]): Vec =
    if (s == null) null
    else {
      val v = new Array[Float](s.length)
      var nulls: Array[Boolean] = null
      var i = 0
      s.foreach { e =>
        if (e == null) {
          if (nulls == null) nulls = new Array[Boolean](s.length)
          nulls(i) = true
        } else v(i) = e.asInstanceOf[Float]
        i += 1
      }
      new Vec(v, nulls)
    }

  private def vecOf(a: ArrayData): Vec =
    if (a == null) null
    else {
      val n = a.numElements()
      val v = new Array[Float](n)
      var nulls: Array[Boolean] = null
      var i = 0
      while (i < n) {
        if (a.isNullAt(i)) {
          if (nulls == null) nulls = new Array[Boolean](n)
          nulls(i) = true
        } else v(i) = a.getFloat(i)
        i += 1
      }
      new Vec(v, nulls)
    }

  /** dot over `a[from, from+b.length)` and `b` — the caller has checked
    * lengths and null elements. */
  private def dotAt(a: Array[Float], from: Int, b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < b.length) {
      s += a(from + i).toDouble * b(i).toDouble
      i += 1
    }
    s
  }

  /** Whether a candidate scanned AFTER the current best (so with a
    * greater or equal id) takes its place under the `min_by(struct(key,
    * id))` order: a NULL key is the smallest, doubles compare as SQL
    * does, and a tie keeps the earlier (lower) id. */
  private def beats(dNull: Boolean, d: Double, bestNull: Boolean,
                    bestD: Double): Boolean =
    if (dNull) !bestNull
    else !bestNull && SQLOrderingUtil.compareDoubles(d, bestD) < 0

  /** The coarse quantizer, in ascending id order (NULL first): `norm(i)`
    * is `√dot(c,c)`, meaningful where `normOk(i)` (a well-formed
    * centroid). */
  final class Cells(val idType: DataType, val ids: Array[Any],
                    val vecs: Array[Vec]) extends Serializable {
    val normOk: Array[Boolean] = vecs.map(c => c != null && c.wellFormed)
    val norm: Array[Double] = vecs.indices.map(i =>
      if (normOk(i)) math.sqrt(dotAt(vecs(i).v, 0, vecs(i).v)) else 0.0)
      .toArray

    /** Index of the `negCosGuarded` argmin (-1 when there is no cell). */
    def argmin(x: Vec): Int = {
      val xOk = x != null && x.wellFormed
      val nx = if (xOk) math.sqrt(dotAt(x.v, 0, x.v)) else 0.0
      var best = -1
      var bestNull = false
      var bestD = 0.0
      var i = 0
      while (i < vecs.length) {
        var dNull = false
        var d = Double.PositiveInfinity
        if (xOk && normOk(i)) {
          val denom = nx * norm(i)
          // SQL `denom > 0`: NaN compares larger than every number
          if (denom > 0.0 || java.lang.Double.isNaN(denom)) {
            val c = vecs(i).v
            if (c.length != x.v.length) dNull = true
            else d = -dotAt(x.v, 0, c) / denom
          }
        }
        if (best < 0 || beats(dNull, d, bestNull, bestD)) {
          best = i; bestNull = dNull; bestD = d
        }
        i += 1
      }
      best
    }
  }

  /** The codebooks of the PRESENT subspaces `subs` (ascending), each in
    * ascending code order (NULL first). A centroid with a null element
    * is stored as null: every dot with it is NULL. */
  final class Books(val subDim: Int, val subs: Array[Int],
                    val codes: Array[Array[Int]],
                    val codeNull: Array[Array[Boolean]],
                    val vecs: Array[Array[Array[Float]]])
      extends Serializable {
    private val self = vecs.map(_.map(c => if (c == null) 0.0 else dotAt(c, 0, c)))
    private val anyNullCode = codeNull.exists(_.contains(true))

    /** The code argmin of each present subspace of `t`, in order. */
    def argmins(t: Vec): ArrayData = {
      val out = new Array[Int](subs.length)
      val outNull = if (anyNullCode) new Array[Boolean](subs.length) else null
      var k = 0
      while (k < subs.length) {
        // slice(t, from+1, subDim): [from, min(from+subDim, n)), or NULL
        val from = subs(k) * subDim
        var sliceOk = t != null
        var len = 0
        if (sliceOk) {
          len = math.max(0, math.min(from + subDim, t.v.length) - from)
          if (t.nulls != null) {
            var i = 0
            while (i < len && sliceOk) { sliceOk = !t.nulls(from + i); i += 1 }
          }
        }
        val bk = vecs(k)
        var best = -1
        var bestNull = false
        var bestD = 0.0
        var j = 0
        while (j < bk.length) {
          val c = bk(j)
          val dNull = !sliceOk || c == null || c.length != len
          val d = if (dNull) 0.0 else self(k)(j) - 2.0 * dotAt(t.v, from, c)
          if (best < 0 || beats(dNull, d, bestNull, bestD)) {
            best = j; bestNull = dNull; bestD = d
          }
          j += 1
        }
        out(k) = codes(k)(best)
        if (outNull != null) outNull(k) = codeNull(k)(best)
        k += 1
      }
      if (outNull == null) ArrayData.toArrayData(out)
      else new GenericArrayData(out.indices.map(i =>
        if (outNull(i)) null else Int.box(out(i))).toArray[Any])
    }
  }

  /** What one encode broadcasts: the cells, the books, or both; the
    * residual form quantizes `x − c_cell`, so it needs both. */
  final class Tables(val cells: Option[Cells], val books: Option[Books],
                     val residual: Boolean) extends Serializable {
    require(!residual || (cells.nonEmpty && books.nonEmpty),
      "PqEncode: the residual encode needs centroids and books")

    /** True when a table has no usable row: the SQL forms produced no
      * rows at all then (an inner join against nothing). */
    def isEmpty: Boolean =
      cells.exists(_.vecs.isEmpty) || books.exists(_.subs.isEmpty)

    /** `struct<centroid_id?, codes?>` — only the parts asked for. */
    val dataType: StructType = StructType(
      cells.map(c => StructField("centroid_id", c.idType)).toSeq ++
        books.map(_ => StructField("codes",
          ArrayType(IntegerType, containsNull = true))).toSeq)

    /** One row's struct (never null). */
    def encode(x: ArrayData): InternalRow = {
      val xv = vecOf(x)
      val fields = new Array[Any](dataType.length)
      val cell = cells match {
        case Some(c) =>
          val i = c.argmin(xv)
          if (i >= 0) fields(0) = c.ids(i)
          i
        case None => -1
      }
      books.foreach { b =>
        val t =
          if (!residual) xv
          else if (cell < 0) null
          else residualOf(xv, cells.get.vecs(cell))
        if (b.subs.nonEmpty) fields(dataType.length - 1) = b.argmins(t)
      }
      new GenericInternalRow(fields)
    }
  }

  /** `zip_with(x, c, _ - _)` in f32. */
  private def residualOf(x: Vec, c: Vec): Vec =
    if (x == null || c == null) null
    else {
      val n = math.max(x.v.length, c.v.length)
      val m = math.min(x.v.length, c.v.length)
      val v = new Array[Float](n)
      var nulls: Array[Boolean] = null
      var i = 0
      while (i < n) {
        if (i >= m || (x.nulls != null && x.nulls(i)) ||
            (c.nulls != null && c.nulls(i))) {
          if (nulls == null) nulls = new Array[Boolean](n)
          nulls(i) = true
        } else v(i) = x.v(i) - c.v(i)
        i += 1
      }
      new Vec(v, nulls)
    }

  /** Collect `(centroid_id, centroid ARRAY<FLOAT>)` on the driver. */
  def cells(centroidsDf: DataFrame): Cells = {
    val idType = centroidsDf.schema("centroid_id").dataType
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(idType)
    val ord = InterpretedOrdering.forSchema(Seq(idType))
    val rows = centroidsDf.select(col("centroid_id"), col("centroid"))
      .collect()
      .map(r => (toCatalyst(if (r.isNullAt(0)) null else r.get(0)),
        if (r.isNullAt(1)) null else vecOf(r.getSeq[Any](1))))
      .sortWith((a, b) =>
        ord.compare(new GenericInternalRow(Array[Any](a._1)),
          new GenericInternalRow(Array[Any](b._1))) < 0)
    new Cells(idType, rows.map(_._1), rows.map(_._2))
  }

  /** Collect `(sub, code, centroid ARRAY<FLOAT>)` codebooks on the
    * driver. Rows with a NULL or out-of-range `sub` never matched a
    * subvector and are ignored. */
  def books(booksDf: DataFrame, numSub: Int, subDim: Int): Books = {
    val bySub = booksDf.select(col("sub").cast("int"),
        col("code").cast("int"), col("centroid")).collect()
      .filter(r => !r.isNullAt(0) && r.getInt(0) >= 0 && r.getInt(0) < numSub)
      .groupBy(_.getInt(0)).toArray.sortBy(_._1)
    // per sub: NULL code first, then ascending — the min_by tie order
    val entries = bySub.map { case (_, rs) =>
      rs.sortBy(r => if (r.isNullAt(1)) (0, 0) else (1, r.getInt(1)))
    }
    new Books(subDim, bySub.map(_._1),
      entries.map(_.map(r => if (r.isNullAt(1)) 0 else r.getInt(1))),
      entries.map(_.map(_.isNullAt(1))),
      entries.map(_.map(r =>
        if (r.isNullAt(2)) null else AdcLut.floatsOrNull(r.getSeq[Any](2)))))
  }

  /** The kernel over one ARRAY<FLOAT> column. Only the broadcast handle
    * rides in the plan; each task reads the tables once. */
  case class PqEncodeExpr(child: Expression, tables: Broadcast[Tables],
                          override val dataType: StructType)
      extends UnaryExpression {
    override def prettyName: String = "pq_encode"
    override def nullable: Boolean = false
    override protected def stringArgs: Iterator[Any] = Iterator(child)

    @transient private lazy val t = tables.value

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      child.dataType match {
        case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
        case other => TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires an ARRAY<FLOAT> input, got ${other.catalogString}")
      }
    }

    def encode(x: ArrayData): InternalRow = t.encode(x)

    override def eval(input: InternalRow): Any =
      encode(child.eval(input).asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode = {
      val self = ctx.addReferenceObj("pqEncode", this,
        classOf[PqEncodeExpr].getName)
      val c = child.genCode(ctx)
      ev.copy(code =
        code"""
          ${c.code}
          ${CodeGenerator.javaType(dataType)} ${ev.value} =
            $self.encode(${c.isNull} ? null : ${c.value});
        """, isNull = FalseLiteral)
    }

    override protected def withNewChildInternal(
        newChild: Expression): PqEncodeExpr = copy(child = newChild)
  }

  /** `pq_encode(embedding)`: the struct column, with `t` broadcast once. */
  def pq_encode(embedding: Column, t: Tables, spark: SparkSession): Column =
    ColumnBridge.column(PqEncodeExpr(ColumnBridge.expression(embedding),
      spark.sparkContext.broadcast(t), t.dataType))
}
