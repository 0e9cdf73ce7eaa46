package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, InterpretedOrdering}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType, FloatType, IntegerType, StructField, StructType}

/** Map-only IVF-PQ encode: ONE codegen expression that gives each vector
  * its coarse cell and its per-subspace PQ codes, from the vector alone.
  * PQ encoding is a per-vector nearest-centroid search (Jégou, Douze and
  * Schmid, TPAMI 2011); the centroid and codebook tables are collected
  * once on the driver (the rows a broadcast join would have shipped) and
  * travel to the tasks in ONE Spark broadcast variable, so each row costs
  * |cells| + numSub·|codes| primitive dots and no exchange, join or
  * aggregate. [[graft.similarity.Similarity.ivfAssign]],
  * [[graft.similarity.ProductQuantizer.encode]], [[graft.similarity.IvfPq]]'s
  * encodes and, over grouped cells, [[graft.similarity.KMeans]] and
  * [[graft.similarity.Similarity.ivfAssignTwoLevel]] are projections over it.
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
  *    ties break on the id (a NULL id first); over grouped cells the
  *    scan covers the row's groups' cells in that same order, a group
  *    matching a cell's key as the equi-join's keys matched;
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

  /** A group key under an equi-join's equality: −0.0 = 0.0 and every NaN
    * one value (Spark normalizes float join keys so), binary by content,
    * structs and arrays element-wise. Cells and rows are keyed alike. */
  private def groupKey(dt: DataType, v: Any): Any = (dt, v) match {
    case (_, null) => null
    case (FloatType, f: Float) =>
      java.lang.Float.floatToIntBits(if (f == 0.0f) 0.0f else f)
    case (DoubleType, d: Double) =>
      java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d)
    case (BinaryType, b: Array[Byte]) => b.toSeq
    case (st: StructType, r: InternalRow) => st.fields.indices.map(i =>
      groupKey(st(i).dataType, r.get(i, st(i).dataType)))
    case (ArrayType(et, _), a: ArrayData) =>
      a.toSeq[Any](et).map(groupKey(et, _))
    case _ => v
  }

  /** The coarse quantizer, in ascending id order (NULL first): `norm(i)`
    * is `√dot(c,c)`, meaningful where `normOk(i)` (a well-formed
    * centroid); `groupOf(i)` is cell i's group key (all NULL when
    * `groupType` is null). */
  final class Cells(val idType: DataType, val ids: Array[Any],
                    val vecs: Array[Vec], val groupType: DataType,
                    groupOf: Array[Any]) extends Serializable {
    val normOk: Array[Boolean] = vecs.map(c => c != null && c.wellFormed)
    val norm: Array[Double] = vecs.indices.map(i =>
      if (normOk(i)) math.sqrt(dotAt(vecs(i).v, 0, vecs(i).v)) else 0.0)
      .toArray
    private val all: Array[Int] = vecs.indices.toArray
    private val byGroup: Map[Any, Array[Int]] = vecs.indices
      .filter(groupOf(_) != null)
      .groupBy(i => groupKey(groupType, groupOf(i)))
      .map { case (g, is) => g -> is.toArray }

    /** `at(i)` sets (`isNull`, `d`) to cell i's `negCosGuarded` key for `x`. */
    private final class KeyOf(x: Vec) {
      private val xOk = x != null && x.wellFormed
      private val nx = if (xOk) math.sqrt(dotAt(x.v, 0, x.v)) else 0.0
      var isNull = false
      var d = 0.0
      def at(i: Int): Unit = {
        isNull = false
        d = Double.PositiveInfinity
        if (xOk && normOk(i)) {
          val denom = nx * norm(i)
          // SQL `denom > 0`: NaN compares larger than every number
          if (denom > 0.0 || java.lang.Double.isNaN(denom)) {
            val c = vecs(i).v
            if (c.length != x.v.length) isNull = true
            else d = -dotAt(x.v, 0, c) / denom
          }
        }
      }
    }

    /** Index of the `negCosGuarded` argmin over the cells `cand`
      * (ascending; every cell by default), -1 when there is none. */
    def argmin(x: Vec, cand: Array[Int] = all): Int = {
      val k = new KeyOf(x)
      var best = -1
      var bestNull = false
      var bestD = 0.0
      var j = 0
      while (j < cand.length) {
        val i = cand(j)
        k.at(i)
        if (best < 0 || beats(k.isNull, k.d, bestNull, bestD)) {
          best = i; bestNull = k.isNull; bestD = k.d
        }
        j += 1
      }
      best
    }

    /** The cells of the listed `groups`, ascending; a NULL list or group,
      * or an unknown group, lists none. */
    def members(groups: ArrayData): Array[Int] = Option(groups)
      .fold(Array.empty[AnyRef])(_.toObjectArray(groupType))
      .flatMap(g => byGroup.getOrElse(groupKey(groupType, g), Array.empty[Int]))
      .sorted

    /** The ids of the `n` nearest cells, ties to the lower id: the
      * `slice(array_sort(array(struct(key, id), …)), 1, n)` ranking. */
    def nearest(x: Vec, n: Int): ArrayData = {
      val k = new KeyOf(x)
      val keys = vecs.indices.map { i => k.at(i); (k.isNull, k.d) }
      // a stable sort: ties keep id order
      new GenericArrayData(vecs.indices.sortWith((a, b) =>
        beats(keys(a)._1, keys(a)._2, keys(b)._1, keys(b)._2))
        .take(n).map(ids).toArray)
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
    * residual form quantizes `x − c_cell`, so it needs both. `probe =
    * (supers, n)` gives grouped cells each row's `n` nearest supers as
    * its groups. */
  final class Tables(val cells: Option[Cells], val books: Option[Books],
                     val residual: Boolean,
                     val probe: Option[(Cells, Int)] = None)
      extends Serializable {
    require(!residual || (cells.nonEmpty && books.nonEmpty),
      "PqEncode: the residual encode needs centroids and books")

    val grouped: Boolean = cells.exists(_.groupType != null)

    /** True when a table has no usable row: the SQL forms produced no
      * rows at all then (an inner join against nothing). */
    def isEmpty: Boolean =
      cells.exists(_.vecs.isEmpty) || books.exists(_.subs.isEmpty)

    /** `struct<centroid_id?, codes?>` — only the parts asked for. */
    val dataType: StructType = StructType(
      cells.map(c => StructField("centroid_id", c.idType)).toSeq ++
        books.map(_ => StructField("codes",
          ArrayType(IntegerType, containsNull = true))).toSeq)

    /** One row's struct (never null) or, over grouped cells, the struct in
      * an ARRAY of one: empty when none of the row's `groups` (with
      * `probe`, its nearest supers; NULL: none) has a cell. */
    def encode(x: ArrayData, groups: ArrayData): Any = {
      val xv = vecOf(x)
      if (!grouped) encodeAt(xv, cells.fold(-1)(_.argmin(xv)))
      else {
        val gs = probe.fold(groups) { case (sups, n) => sups.nearest(xv, n) }
        val cell = cells.get.argmin(xv, cells.get.members(gs))
        new GenericArrayData(
          if (cell < 0) Array.empty[Any] else Array[Any](encodeAt(xv, cell)))
      }
    }

    private def encodeAt(xv: Vec, cell: Int): InternalRow = {
      val fields = new Array[Any](dataType.length)
      if (cell >= 0) fields(0) = cells.get.ids(cell)
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

  /** Collect `(centroid_id, centroid ARRAY<FLOAT>[, group])` on the driver. */
  def cells(centroidsDf: DataFrame, group: Option[String] = None): Cells = {
    val idType = centroidsDf.schema("centroid_id").dataType
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(idType)
    val ord = InterpretedOrdering.forSchema(Seq(idType))
    val keyType = group.map(centroidsDf.schema(_).dataType)
    val rows = centroidsDf.select((Seq("centroid_id", "centroid") ++ group)
        .map(col): _*)
      .collect()
      .map(r => (toCatalyst(if (r.isNullAt(0)) null else r.get(0)),
        if (r.isNullAt(1)) null else vecOf(r.getSeq[Any](1)),
        group.map(_ => CatalystTypeConverters.convertToCatalyst(r.get(2)))
          .orNull))
      .sortWith((a, b) =>
        ord.compare(new GenericInternalRow(Array[Any](a._1)),
          new GenericInternalRow(Array[Any](b._1))) < 0)
    new Cells(idType, rows.map(_._1), rows.map(_._2), keyType.orNull,
      rows.map(_._3))
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

  /** The kernel over one ARRAY<FLOAT> column and the row's candidate
    * groups ([[Tables.encode]]). Only the broadcast handle rides in the
    * plan; each task reads the tables once. */
  case class PqEncodeExpr(left: Expression, right: Expression,
                          tables: Broadcast[Tables],
                          override val dataType: DataType)
      extends BinaryExpression {
    override def prettyName: String = "pq_encode"
    override def nullable: Boolean = false
    override protected def stringArgs: Iterator[Any] = Iterator(left, right)

    @transient lazy val t: Tables = tables.value // read once per task

    override def checkInputDataTypes(): TypeCheckResult =
      left.dataType match {
        case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
        case other => TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires an ARRAY<FLOAT> input, got ${other.catalogString}")
      }

    override def eval(input: InternalRow): Any =
      t.encode(left.eval(input).asInstanceOf[ArrayData],
        right.eval(input).asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode = {
      val self = ctx.addReferenceObj("pqEncode", this,
        classOf[PqEncodeExpr].getName)
      val (x, g) = (left.genCode(ctx), right.genCode(ctx))
      val jt = CodeGenerator.javaType(dataType)
      ev.copy(code =
        code"""
          ${x.code}
          ${g.code}
          $jt ${ev.value} = ($jt) $self.t().encode(${x.isNull} ? null : ${x.value},
            ${g.isNull} ? null : (${classOf[ArrayData].getName}) ${g.value});
        """, isNull = FalseLiteral)
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): PqEncodeExpr =
      copy(left = newLeft, right = newRight)
  }

  /** `pq_encode(embedding)`: the struct column (over grouped cells, the
    * ARRAY of zero or one struct), with `t` broadcast once. */
  def pq_encode(embedding: Column, t: Tables, spark: SparkSession,
                groups: Column = lit(null)): Column =
    ColumnBridge.column(PqEncodeExpr(ColumnBridge.expression(embedding),
      ColumnBridge.expression(
        if (t.grouped) groups.cast(ArrayType(t.cells.get.groupType))
        else groups),
      spark.sparkContext.broadcast(t),
      if (t.grouped) ArrayType(t.dataType, containsNull = false)
      else t.dataType))
}
