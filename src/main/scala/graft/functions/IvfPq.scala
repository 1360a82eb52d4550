package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Native kernels for the fixed-codebook IVF+PQ mechanics — the integer
  * arithmetic of the unrolled PQ-encode / PQ-distance / grid-score
  * expressions the DuckDB oracles of `VectorQueries` spell out,
  * value-identical, but each stage is ONE expression node instead of a
  * 64–1024-term tree.
  *
  * Why: profiling ann_ivfpq_fixed (r13's #3 honest-tail cost, 3.6 s)
  * showed its Spark JOBS total ~0.4 s — the rest was DRIVER-side
  * Catalyst analysis/optimization of the wide unrolled projections, a
  * fixed per-query cost. Harmless at 100 TB (planning amortizes to
  * zero) but honest bench seconds at test scale; the kernels remove it.
  *
  * Codebooks are the published-derivation deterministic tables:
  * [[Embeddings.pqCodebook]] (±48 splitmix sign patterns) and
  * `VectorQueries.IvfPqGrid` (±8 grid centroids), rebuilt statically
  * here from the same `Similarity.planeSign` source.
  */
object IvfPq {

  /** ×64 fixed-grid quantization of a float/double vector:
    * clamp(floor(v·64 + 0.5), ±127) per element — the grid
    * [[Embeddings.pqCodebook]] is laid out on.
    */
  def gridQuant(vec: Column): Column =
    GraftColumnBridge.column(
      GridQuantExpr(GraftColumnBridge.expression(vec), asDouble = false))

  /** [[gridQuant]] emitting array<double> of the same integer values —
    * for consumers whose downstream arithmetic (cosine dots) runs in
    * doubles.
    */
  def gridQuantD(vec: Column): Column =
    GraftColumnBridge.column(
      GridQuantExpr(GraftColumnBridge.expression(vec), asDouble = true))

  /** All 16 coarse-centroid scores Σ_i cv[i]·grid[c][i] of a quantized
    * vector, as array<long> — the probe ranking's input.
    */
  def ivfScores(cv: Column,
      grid: Array[Array[Int]] = IvfPqKernels.Grid): Column =
    GraftColumnBridge.column(
      IvfScoresExpr(GraftColumnBridge.expression(cv), grid))

  /** 1-based id of the best-scoring coarse centroid (first index on
    * ties — the `array_position(sc, array_max(sc))` convention).
    */
  def ivfCell(cv: Column,
      grid: Array[Array[Int]] = IvfPqKernels.Grid): Column =
    GraftColumnBridge.column(
      IvfCellExpr(GraftColumnBridge.expression(cv), grid))

  /** Squared-L2 distance to every centroid of `grid`, as array<long> —
    * the k-means inertia/margin input.
    */
  def ivfDistances(cv: Column,
      grid: Array[Array[Int]] = IvfPqKernels.Grid): Column =
    GraftColumnBridge.column(
      IvfDistancesExpr(GraftColumnBridge.expression(cv), grid))

  /** Residual of a quantized vector against coarse centroid `cid`
    * (1-based): cv[i] − grid[cid−1][i].
    */
  def ivfResidual(cv: Column, cid: Column,
      grid: Array[Array[Int]] = IvfPqKernels.Grid): Column =
    GraftColumnBridge.column(IvfResidExpr(
      GraftColumnBridge.expression(cv), GraftColumnBridge.expression(cid),
      grid))

  /** PQ codes of an integer vector: per subspace m the 1-based index of
    * the L2-nearest codeword, first index on ties — the
    * `array_position(dists, array_min(dists))` convention.
    */
  def pqEncode(rv: Column): Column =
    GraftColumnBridge.column(PqEncodeExpr(GraftColumnBridge.expression(rv)))

  /** Asymmetric-distance computation: squared L2 between the query's
    * integer elements and the reconstruction of `codes`.
    */
  def pqAdc(rqv: Column, codes: Column): Column =
    GraftColumnBridge.column(PqAdcExpr(
      GraftColumnBridge.expression(rqv), GraftColumnBridge.expression(codes)))
}

/** Static tables + per-row loops shared by interpreted eval and codegen. */
object IvfPqKernels {

  /** `VectorQueries.IvfPqGrid` rebuilt from its derivation: the 16
    * fixed centroids (±1/8 splitmix signs, offset 100) on the ×64 grid.
    */
  val Grid: Array[Array[Int]] =
    Array.tabulate(16, 64)((i, j) =>
      math.round(Similarity.planeSign(i + 100, j) / 8.0 * 64).toInt)

  /** [[Embeddings.pqCodebook]] (same derivation, same values). */
  val Codebook: Array[Array[Array[Int]]] =
    Array.tabulate(8, 8, 8)((m, c, d) =>
      Similarity.planeSign(1000 + m * 8 + c, d).toInt * 48)

  def gridQuant(arr: ArrayData, isFloat: Boolean): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      val v = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
      var q = math.floor(v * 64 + 0.5).toLong
      if (q < -127L) q = -127L
      if (q > 127L) q = 127L
      out(i) = q
      i += 1
    }
    new GenericArrayData(out)
  }

  def gridQuantD(arr: ArrayData, isFloat: Boolean): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      val v = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
      var q = math.floor(v * 64 + 0.5)
      if (q < -127.0) q = -127.0
      if (q > 127.0) q = 127.0
      out(i) = q
      i += 1
    }
    new GenericArrayData(out)
  }

  def ivfDistances(cv: ArrayData, grid: Array[Array[Int]]): ArrayData = {
    val out = new Array[Long](grid.length)
    var c = 0
    while (c < grid.length) {
      val g = grid(c)
      var s = 0L
      var i = 0
      while (i < g.length) {
        val d = cv.getLong(i) - g(i)
        s += d * d
        i += 1
      }
      out(c) = s
      c += 1
    }
    new GenericArrayData(out)
  }

  def ivfScores(cv: ArrayData, grid: Array[Array[Int]]): ArrayData = {
    val out = new Array[Long](grid.length)
    var c = 0
    while (c < grid.length) {
      val g = grid(c)
      var s = 0L
      var i = 0
      while (i < g.length) { s += cv.getLong(i) * g(i); i += 1 }
      out(c) = s
      c += 1
    }
    new GenericArrayData(out)
  }

  def ivfCell(cv: ArrayData, grid: Array[Array[Int]]): Long = {
    var best = Long.MinValue
    var idx = 0
    var c = 0
    while (c < grid.length) {
      val g = grid(c)
      var s = 0L
      var i = 0
      while (i < g.length) { s += cv.getLong(i) * g(i); i += 1 }
      if (s > best) { best = s; idx = c }
      c += 1
    }
    idx + 1L // 1-based, first index on ties (strict >)
  }

  def ivfResid(cv: ArrayData, cid: Long, grid: Array[Array[Int]]): ArrayData = {
    val g = grid(cid.toInt - 1)
    val out = new Array[Long](g.length)
    var i = 0
    while (i < g.length) { out(i) = cv.getLong(i) - g(i); i += 1 }
    new GenericArrayData(out)
  }

  def pqEncode(rv: ArrayData, cb: Array[Array[Array[Int]]]): ArrayData = {
    val m = cb.length
    val out = new Array[Long](m)
    var mi = 0
    while (mi < m) {
      val cws = cb(mi)
      val dsub = cws(0).length
      var best = Long.MaxValue
      var idx = 0
      var c = 0
      while (c < cws.length) {
        val cw = cws(c)
        var s = 0L
        var d = 0
        while (d < dsub) {
          val diff = rv.getLong(mi * dsub + d) - cw(d)
          s += diff * diff
          d += 1
        }
        if (s < best) { best = s; idx = c } // first min kept (strict <)
        c += 1
      }
      out(mi) = idx + 1L // 1-based
      mi += 1
    }
    new GenericArrayData(out)
  }

  def pqAdc(rqv: ArrayData, codes: ArrayData,
      cb: Array[Array[Array[Int]]]): Long = {
    var s = 0L
    var mi = 0
    while (mi < cb.length) {
      val cw = cb(mi)(codes.getLong(mi).toInt - 1)
      val dsub = cw.length
      var d = 0
      while (d < dsub) {
        val diff = rqv.getLong(mi * dsub + d) - cw(d)
        s += diff * diff
        d += 1
      }
      mi += 1
    }
    s
  }
}

case class GridQuantExpr(child: Expression, asDouble: Boolean)
    extends UnaryExpression {

  override def dataType: DataType =
    ArrayType(if (asDouble) DoubleType else LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"grid_quant expects array<float|double>, got $t")
  }

  @transient private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(input: Any): Any =
    if (asDouble) IvfPqKernels.gridQuantD(input.asInstanceOf[ArrayData], isFloat)
    else IvfPqKernels.gridQuant(input.asInstanceOf[ArrayData], isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fl = if (isFloat) "true" else "false"
    val fn = if (asDouble) "gridQuantD" else "gridQuant"
    defineCodeGen(ctx, ev,
      c => s"graft.functions.IvfPqKernels.$fn($c, $fl)")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class IvfScoresExpr(child: Expression, grid: Array[Array[Int]])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"ivf_scores expects array<long>, got $t")
  }

  override def nullSafeEval(input: Any): Any =
    IvfPqKernels.ivfScores(input.asInstanceOf[ArrayData], grid)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val g = ctx.addReferenceObj("ivfGrid", grid, "int[][]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.IvfPqKernels.ivfScores($c, $g)")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class IvfDistancesExpr(child: Expression, grid: Array[Array[Int]])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"ivf_distances expects array<long>, got $t")
  }

  override def nullSafeEval(input: Any): Any =
    IvfPqKernels.ivfDistances(input.asInstanceOf[ArrayData], grid)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val g = ctx.addReferenceObj("ivfGrid", grid, "int[][]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.IvfPqKernels.ivfDistances($c, $g)")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class IvfCellExpr(child: Expression, grid: Array[Array[Int]])
    extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"ivf_cell expects array<long>, got $t")
  }

  override def nullSafeEval(input: Any): Any =
    IvfPqKernels.ivfCell(input.asInstanceOf[ArrayData], grid)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val g = ctx.addReferenceObj("ivfGrid", grid, "int[][]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.IvfPqKernels.ivfCell($c, $g)")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class IvfResidExpr(left: Expression, right: Expression,
    grid: Array[Array[Int]]) extends BinaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), LongType) =>
        TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"ivf_resid expects (array<long>, long), got $t")
    }

  override def nullSafeEval(cv: Any, cid: Any): Any =
    IvfPqKernels.ivfResid(cv.asInstanceOf[ArrayData],
      cid.asInstanceOf[Long], grid)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val g = ctx.addReferenceObj("ivfGrid", grid, "int[][]")
    defineCodeGen(ctx, ev, (cv, cid) =>
      s"graft.functions.IvfPqKernels.ivfResid($cv, $cid, $g)")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

case class PqEncodeExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"pq_encode expects array<long>, got $t")
  }

  override def nullSafeEval(input: Any): Any =
    IvfPqKernels.pqEncode(input.asInstanceOf[ArrayData], IvfPqKernels.Codebook)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.IvfPqKernels.pqEncode($c, graft.functions.IvfPqKernels.Codebook())")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class PqAdcExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"pq_adc expects (array<long>, array<long>), got $t")
    }

  override def nullSafeEval(rqv: Any, codes: Any): Any =
    IvfPqKernels.pqAdc(rqv.asInstanceOf[ArrayData],
      codes.asInstanceOf[ArrayData], IvfPqKernels.Codebook)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (rqv, codes) =>
      s"graft.functions.IvfPqKernels.pqAdc($rqv, $codes, graft.functions.IvfPqKernels.Codebook())")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
