package graft.expressions

import graft.core._
import graft.udt.TileUDT
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._

/**
 * Cell-wise (local) map-algebra expressions: tile ⊕ tile and tile ⊕ scalar.
 *
 * Same operator semantics as the reference's local ops family
 * (/root/reference/core/src/main/scala/org/locationtech/rasterframes/expressions/localops/,
 * base class BinaryRasterOp.scala:34-67): NoData in any input cell yields
 * NoData in the output cell; tile⊕scalar broadcasts the scalar; output
 * cell type is the union of input cell types. All are CodegenFallback —
 * runtime is dominated by the primitive cell loop, not row glue.
 *
 * Row-level NULL: every op here is NULL-strict (NULL in → NULL out,
 * the default `nullSafeEval` contract) EXCEPT [[LocalAdd]], which
 * mirrors the reference's lone NULL-as-identity special case
 * (localops/Add.scala:52-63 — BiasedAdd, the other one, is not
 * SQL-registered there and only feeds its local aggregates).
 */
abstract class BinaryLocalOp extends BinaryExpression with CodegenFallback with Serializable {
  /** The cell-wise operation (both views are the double view; NoData prefiltered). */
  protected def op(a: Double, b: Double): Double
  /** Override to force an output cell type (e.g. comparisons → uint8). */
  protected def resultCellType(a: CellType, b: CellType): CellType = a.union(b)

  override def dataType: DataType = TileUDT.instance

  override def checkInputDataTypes(): TypeCheckResult = {
    val lOk = isTileType(left.dataType) || isNumericArg(left.dataType)
    val rOk = isTileType(right.dataType) || isNumericArg(right.dataType)
    if (!lOk || !rOk)
      TypeCheckResult.TypeCheckFailure(
        s"${prettyName} expects tile or numeric arguments, got ${left.dataType.simpleString} / ${right.dataType.simpleString}")
    else if (!isTileType(left.dataType) && !isTileType(right.dataType))
      TypeCheckResult.TypeCheckFailure(s"${prettyName} requires at least one tile argument")
    else TypeCheckResult.TypeCheckSuccess
  }

  @transient private lazy val leftIsTile = isTileType(left.dataType)
  @transient private lazy val rightIsTile = isTileType(right.dataType)
  @transient private lazy val leftTile = if (leftIsTile) tileExtractor(left.dataType) else null
  @transient private lazy val rightTile = if (rightIsTile) tileExtractor(right.dataType) else null
  @transient private lazy val leftNum = if (!leftIsTile) doubleExtractor(left.dataType) else null
  @transient private lazy val rightNum = if (!rightIsTile) doubleExtractor(right.dataType) else null

  override def nullSafeEval(l: Any, r: Any): Any = {
    val out =
      if (leftIsTile && rightIsTile) {
        val a = leftTile(l); val b = rightTile(r)
        require(a.cols == b.cols && a.rows == b.rows,
          s"$prettyName: mismatched tile dimensions ${a.cols}x${a.rows} vs ${b.cols}x${b.rows}")
        val res = Tile.blank(resultCellType(a.cellType, b.cellType), a.cols, a.rows)
        var i = 0; val n = res.size
        while (i < n) {
          val x = a.getDouble(i); val y = b.getDouble(i)
          res.setDouble(i, if (NoData.isData(x) && NoData.isData(y)) op(x, y) else Double.NaN)
          i += 1
        }
        res
      } else if (leftIsTile) {
        val a = leftTile(l); val s = rightNum(r)
        val res = Tile.blank(resultCellType(a.cellType, a.cellType), a.cols, a.rows)
        var i = 0; val n = res.size
        while (i < n) {
          val x = a.getDouble(i)
          res.setDouble(i, if (NoData.isData(x)) op(x, s) else Double.NaN)
          i += 1
        }
        res
      } else {
        val b = rightTile(r); val s = leftNum(l)
        val res = Tile.blank(resultCellType(b.cellType, b.cellType), b.cols, b.rows)
        var i = 0; val n = res.size
        while (i < n) {
          val y = b.getDouble(i)
          res.setDouble(i, if (NoData.isData(y)) op(s, y) else Double.NaN)
          i += 1
        }
        res
      }
    tileResult(out)
  }
}

abstract class UnaryLocalOp extends UnaryExpression with CodegenFallback with Serializable {
  protected def op(v: Double): Double
  override def dataType: DataType = TileUDT.instance
  override def checkInputDataTypes(): TypeCheckResult =
    if (isTileType(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects a tile argument")
  @transient private lazy val ext = tileExtractor(child.dataType)
  override def nullSafeEval(input: Any): Any = tileResult(ext(input).mapDouble(op))
}

// ---- arithmetic ----
/**
 * Cell-wise addition. Unique among the binary local ops (reference
 * localops/Add.scala:52-63, flagged in SURVEY §1.2): a SQL NULL
 * *tile* input is the IDENTITY — the non-null tile side passes
 * through, so left-outer raster joins compose mosaics without
 * dropping coverage. A NULL *scalar* still nulls the result (SQL
 * semantics — the addend is unknown). Every other binary local op is
 * deliberately NULL-strict, matching the reference, where only
 * Add/BiasedAdd special-case NULL.
 */
case class LocalAdd(left: Expression, right: Expression) extends BinaryLocalOp {
  override def prettyName: String = "rf_local_add"
  protected def op(a: Double, b: Double): Double = a + b
  @transient private lazy val leftPass =
    if (isTileType(left.dataType)) tileExtractor(left.dataType) else null
  @transient private lazy val rightPass =
    if (isTileType(right.dataType)) tileExtractor(right.dataType) else null
  override def eval(input: InternalRow): Any = {
    val l = left.eval(input)
    val r = right.eval(input)
    if (l == null && r == null) null
    // identity only when the NULL side is tile-typed (a NULL scalar
    // stays poison); pass-through re-encodes via the extractor so a
    // proj_raster input still yields this expression's declared type
    else if (l == null) {
      if (leftPass != null && rightPass != null) tileResult(rightPass(r))
      else null
    } else if (r == null) {
      if (rightPass != null && leftPass != null) tileResult(leftPass(l))
      else null
    } else nullSafeEval(l, r)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}
case class LocalSubtract(left: Expression, right: Expression) extends BinaryLocalOp {
  override def prettyName: String = "rf_local_subtract"
  protected def op(a: Double, b: Double): Double = a - b
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}
case class LocalMultiply(left: Expression, right: Expression) extends BinaryLocalOp {
  override def prettyName: String = "rf_local_multiply"
  protected def op(a: Double, b: Double): Double = a * b
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}
case class LocalDivide(left: Expression, right: Expression) extends BinaryLocalOp {
  override def prettyName: String = "rf_local_divide"
  protected def op(a: Double, b: Double): Double = a / b
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}
case class LocalMin(left: Expression, right: Expression) extends BinaryLocalOp {
  override def prettyName: String = "rf_local_min"
  protected def op(a: Double, b: Double): Double = math.min(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}
case class LocalMax(left: Expression, right: Expression) extends BinaryLocalOp {
  override def prettyName: String = "rf_local_max"
  protected def op(a: Double, b: Double): Double = math.max(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}
case class NormalizedDifference(left: Expression, right: Expression) extends BinaryLocalOp {
  override def prettyName: String = "rf_normalized_difference"
  protected def op(a: Double, b: Double): Double = (a - b) / (a + b)
  override protected def resultCellType(a: CellType, b: CellType): CellType = CellType.float64
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

// ---- comparisons (0/1 result cells, NoData propagates) ----
abstract class ComparisonLocalOp extends BinaryLocalOp {
  protected def cmp(a: Double, b: Double): Boolean
  protected final def op(a: Double, b: Double): Double = if (cmp(a, b)) 1.0 else 0.0
}
case class LocalLess(left: Expression, right: Expression) extends ComparisonLocalOp {
  override def prettyName: String = "rf_local_less"
  protected def cmp(a: Double, b: Double): Boolean = a < b
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}
case class LocalLessEqual(left: Expression, right: Expression) extends ComparisonLocalOp {
  override def prettyName: String = "rf_local_less_equal"
  protected def cmp(a: Double, b: Double): Boolean = a <= b
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}
case class LocalGreater(left: Expression, right: Expression) extends ComparisonLocalOp {
  override def prettyName: String = "rf_local_greater"
  protected def cmp(a: Double, b: Double): Boolean = a > b
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}
case class LocalGreaterEqual(left: Expression, right: Expression) extends ComparisonLocalOp {
  override def prettyName: String = "rf_local_greater_equal"
  protected def cmp(a: Double, b: Double): Boolean = a >= b
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}
case class LocalEqual(left: Expression, right: Expression) extends ComparisonLocalOp {
  override def prettyName: String = "rf_local_equal"
  protected def cmp(a: Double, b: Double): Boolean = a == b
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}
case class LocalUnequal(left: Expression, right: Expression) extends ComparisonLocalOp {
  override def prettyName: String = "rf_local_unequal"
  protected def cmp(a: Double, b: Double): Boolean = a != b
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

/** Cell-wise membership in a constant array (reference: localops/IsIn.scala). */
case class LocalIsIn(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def prettyName: String = "rf_local_is_in"
  override def dataType: DataType = TileUDT.instance
  override def checkInputDataTypes(): TypeCheckResult =
    if (!isTileType(left.dataType))
      TypeCheckResult.TypeCheckFailure(s"$prettyName expects a tile first argument")
    else right.dataType match {
      case ArrayType(_: NumericType, _) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(s"$prettyName expects an array second argument")
    }
  @transient private lazy val ext = tileExtractor(left.dataType)
  @transient private lazy val elemExt =
    doubleExtractor(right.dataType.asInstanceOf[ArrayType].elementType)
  override def nullSafeEval(l: Any, r: Any): Any = {
    val arr = r.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = arr.numElements()
    val vals = new Array[Double](n)
    val et = right.dataType.asInstanceOf[ArrayType].elementType
    var i = 0
    while (i < n) { vals(i) = elemExt(arr.get(i, et)); i += 1 }
    val t = ext(l)
    tileResult(t.mapDouble { v =>
      var j = 0; var found = false
      while (j < n && !found) { if (vals(j) == v) found = true; j += 1 }
      if (found) 1.0 else 0.0
    })
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

/** 1 where the cell is NoData, else 0 (reference: localops/Undefined.scala). */
case class LocalUndefined(child: Expression) extends UnaryExpression with CodegenFallback {
  override def prettyName: String = "rf_local_no_data"
  override def dataType: DataType = TileUDT.instance
  @transient private lazy val ext = tileExtractor(child.dataType)
  override def nullSafeEval(input: Any): Any = {
    val t = ext(input)
    val res = Tile.empty(CellType.uint8raw, t.cols, t.rows)
    var i = 0; val n = res.size
    while (i < n) { res.setDouble(i, if (NoData.isNoData(t.getDouble(i))) 1.0 else 0.0); i += 1 }
    tileResult(res)
  }
  override protected def withNewChildInternal(c: Expression) = copy(c)
}
/** 1 where the cell is data, else 0 (reference: localops/Defined.scala). */
case class LocalDefined(child: Expression) extends UnaryExpression with CodegenFallback {
  override def prettyName: String = "rf_local_data"
  override def dataType: DataType = TileUDT.instance
  @transient private lazy val ext = tileExtractor(child.dataType)
  override def nullSafeEval(input: Any): Any = {
    val t = ext(input)
    val res = Tile.empty(CellType.uint8raw, t.cols, t.rows)
    var i = 0; val n = res.size
    while (i < n) { res.setDouble(i, if (NoData.isData(t.getDouble(i))) 1.0 else 0.0); i += 1 }
    tileResult(res)
  }
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

// ---- unary math ----
case class LocalAbs(child: Expression) extends UnaryLocalOp {
  override def prettyName: String = "rf_abs"
  protected def op(v: Double): Double = math.abs(v)
  override protected def withNewChildInternal(c: Expression) = copy(c)
}
case class LocalRound(child: Expression) extends UnaryLocalOp {
  override def prettyName: String = "rf_round"
  protected def op(v: Double): Double = math.rint(v)
  override protected def withNewChildInternal(c: Expression) = copy(c)
}
case class LocalSqrt(child: Expression) extends UnaryLocalOp {
  override def prettyName: String = "rf_sqrt"
  protected def op(v: Double): Double = math.sqrt(v)
  override protected def withNewChildInternal(c: Expression) = copy(c)
}
case class LocalLog(child: Expression) extends UnaryLocalOp {
  override def prettyName: String = "rf_log"
  protected def op(v: Double): Double = math.log(v)
  override protected def withNewChildInternal(c: Expression) = copy(c)
}
case class LocalLog10(child: Expression) extends UnaryLocalOp {
  override def prettyName: String = "rf_log10"
  protected def op(v: Double): Double = math.log10(v)
  override protected def withNewChildInternal(c: Expression) = copy(c)
}
case class LocalLog2(child: Expression) extends UnaryLocalOp {
  override def prettyName: String = "rf_log2"
  protected def op(v: Double): Double = math.log(v) / math.log(2.0)
  override protected def withNewChildInternal(c: Expression) = copy(c)
}
case class LocalLog1p(child: Expression) extends UnaryLocalOp {
  override def prettyName: String = "rf_log1p"
  protected def op(v: Double): Double = math.log1p(v)
  override protected def withNewChildInternal(c: Expression) = copy(c)
}
case class LocalExp(child: Expression) extends UnaryLocalOp {
  override def prettyName: String = "rf_exp"
  protected def op(v: Double): Double = math.exp(v)
  override protected def withNewChildInternal(c: Expression) = copy(c)
}
case class LocalExp10(child: Expression) extends UnaryLocalOp {
  override def prettyName: String = "rf_exp10"
  protected def op(v: Double): Double = math.pow(10.0, v)
  override protected def withNewChildInternal(c: Expression) = copy(c)
}
case class LocalExp2(child: Expression) extends UnaryLocalOp {
  override def prettyName: String = "rf_exp2"
  protected def op(v: Double): Double = math.pow(2.0, v)
  override protected def withNewChildInternal(c: Expression) = copy(c)
}
case class LocalExpm1(child: Expression) extends UnaryLocalOp {
  override def prettyName: String = "rf_expm1"
  protected def op(v: Double): Double = math.expm1(v)
  override protected def withNewChildInternal(c: Expression) = copy(c)
}
case class LocalIdentity(child: Expression) extends UnaryLocalOp {
  override def prettyName: String = "rf_identity"
  protected def op(v: Double): Double = v
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

/** Clamp cells to [lo, hi] (reference: localops/Clamp.scala). */
case class LocalClamp(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with CodegenFallback {
  override def prettyName: String = "rf_local_clamp"
  override def dataType: DataType = TileUDT.instance
  @transient private lazy val ext = tileExtractor(first.dataType)
  @transient private lazy val loIsTile = isTileType(second.dataType)
  @transient private lazy val hiIsTile = isTileType(third.dataType)
  @transient private lazy val loT = if (loIsTile) tileExtractor(second.dataType) else null
  @transient private lazy val hiT = if (hiIsTile) tileExtractor(third.dataType) else null
  @transient private lazy val loN = if (!loIsTile) doubleExtractor(second.dataType) else null
  @transient private lazy val hiN = if (!hiIsTile) doubleExtractor(third.dataType) else null
  override def nullSafeEval(t: Any, lo: Any, hi: Any): Any = {
    val tile = ext(t)
    val loF: Int => Double = if (loIsTile) { val x = loT(lo); (i: Int) => x.getDouble(i) } else { val v = loN(lo); _ => v }
    val hiF: Int => Double = if (hiIsTile) { val x = hiT(hi); (i: Int) => x.getDouble(i) } else { val v = hiN(hi); _ => v }
    val res = Tile.empty(tile.cellType, tile.cols, tile.rows)
    var i = 0; val n = res.size
    while (i < n) {
      val v = tile.getDouble(i)
      res.setDouble(i,
        if (NoData.isData(v)) math.min(math.max(v, loF(i)), hiF(i)) else Double.NaN)
      i += 1
    }
    tileResult(res)
  }
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression) =
    copy(a, b, c)
}

/** Cell-wise ternary: where condition-cell is 1/true take x, else y (reference: localops/Where.scala). */
case class LocalWhere(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with CodegenFallback {
  override def prettyName: String = "rf_where"
  override def dataType: DataType = TileUDT.instance
  @transient private lazy val condExt = tileExtractor(first.dataType)
  @transient private lazy val xIsTile = isTileType(second.dataType)
  @transient private lazy val yIsTile = isTileType(third.dataType)
  @transient private lazy val xT = if (xIsTile) tileExtractor(second.dataType) else null
  @transient private lazy val yT = if (yIsTile) tileExtractor(third.dataType) else null
  @transient private lazy val xN = if (!xIsTile) doubleExtractor(second.dataType) else null
  @transient private lazy val yN = if (!yIsTile) doubleExtractor(third.dataType) else null
  override def nullSafeEval(c: Any, x: Any, y: Any): Any = {
    val cond = condExt(c)
    val xF: Int => Double = if (xIsTile) { val t = xT(x); (i: Int) => t.getDouble(i) } else { val v = xN(x); _ => v }
    val yF: Int => Double = if (yIsTile) { val t = yT(y); (i: Int) => t.getDouble(i) } else { val v = yN(y); _ => v }
    val res = Tile.empty(CellType.float64, cond.cols, cond.rows)
    var i = 0; val n = res.size
    while (i < n) {
      val cv = cond.getDouble(i)
      res.setDouble(i,
        if (NoData.isNoData(cv)) Double.NaN
        else if (cv != 0.0) xF(i)
        else yF(i))
      i += 1
    }
    tileResult(res)
  }
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression) =
    copy(a, b, c)
}

/** (x − mean) / stddev with explicit stats (reference: transformers/Standardize.scala). */
case class Standardize(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with CodegenFallback {
  override def prettyName: String = "rf_standardize"
  override def dataType: DataType = TileUDT.instance
  @transient private lazy val ext = tileExtractor(first.dataType)
  @transient private lazy val meanExt = doubleExtractor(second.dataType)
  @transient private lazy val sdExt = doubleExtractor(third.dataType)
  override def nullSafeEval(t: Any, m: Any, s: Any): Any = {
    val mu = meanExt(m); val sd = sdExt(s)
    tileResult(ext(t).convert(CellType.float64).mapDouble(v => (v - mu) / sd))
  }
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression) =
    copy(a, b, c)
}

/** Min-max rescale to [0,1]; explicit (tile, min, max) (reference: transformers/Rescale.scala). */
case class Rescale(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with CodegenFallback {
  override def prettyName: String = "rf_rescale"
  override def dataType: DataType = TileUDT.instance
  @transient private lazy val ext = tileExtractor(first.dataType)
  @transient private lazy val loExt = doubleExtractor(second.dataType)
  @transient private lazy val hiExt = doubleExtractor(third.dataType)
  override def nullSafeEval(t: Any, lo: Any, hi: Any): Any = {
    val l = loExt(lo); val h = hiExt(hi)
    tileResult(ext(t).convert(CellType.float64).mapDouble(v => (v - l) / (h - l)))
  }
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression) =
    copy(a, b, c)
}
