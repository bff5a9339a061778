package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native float-vector dot product: the hot kernel of every cosine-based
  * similarity/ANN operator, as a Catalyst `BinaryExpression` with
  * whole-stage codegen — one tight primitive loop over the two
  * `UnsafeArrayData` buffers instead of the `zip_with` + `aggregate`
  * higher-order pipeline (which materializes an intermediate array and
  * evaluates two lambda closures per element). Accumulation is double, in
  * index order — bit-identical to the higher-order formulation, so
  * swapping it in changes no query results.
  *
  * Inputs must be non-null-element `array<float>`; on unequal lengths the
  * shorter length wins (our embedding columns are fixed-dimension).
  */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"dot_f expects (array<float>, array<float>), got ($l, $r)")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorOps.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorOps$$.MODULE$$.dot($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "dot_f"
}

object VectorOps {
  def dot(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  // -- Array[Float] kernels ---------------------------------------------------
  // Used by the centroid scan kernels in [[graft.ops.Similarity]] (IVF cell
  // assignment, PQ encode/ADC, SemDeDup cells, Lloyd training). `dot` and
  // `cosine` run the SAME floating-point operations in the SAME order as the
  // `dot_f` expression path, so a kernel cosine equals a Column cosine.

  def dot(x: Array[Float], y: Array[Float]): Double = {
    val n = math.min(x.length, y.length)
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x(i).toDouble * y(i).toDouble
      i += 1
    }
    acc
  }

  def l2sq(x: Array[Float], y: Array[Float]): Double = {
    val n = math.min(x.length, y.length)
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = x(i).toDouble - y(i).toDouble
      acc += d * d
      i += 1
    }
    acc
  }

  /** Scalar cosine — the exact op sequence of [[graft.ops.Similarity.cosine]]
    * (dot / (sqrt·sqrt), double throughout).
    */
  def cosine(x: Array[Float], y: Array[Float]): Double =
    dot(x, y) / (math.sqrt(dot(x, x)) * math.sqrt(dot(y, y)))

  /** Column API (Spark 4: Column↔Expression via the sql-package shim). */
  def dot_f(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftshim
    graftshim.toColumn(DotProduct(graftshim.toExpression(a), graftshim.toExpression(b)))
  }
}
