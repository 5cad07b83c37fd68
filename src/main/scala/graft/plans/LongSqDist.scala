package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftaccess.Internals
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Exact integer squared euclidean distance between two `array<bigint>`
  * vectors: Σ (aᵢ − bᵢ)², one Scala kernel (`LongSqDist.sqDist`) that
  * `nullSafeEval` calls and `doGenCode` emits as a static call. Arrays of
  * different lengths throw IllegalArgumentException naming both lengths,
  * where the declarative form would return null.
  *
  * Exists for the same reason as [[FloatDotProduct]]: the declarative
  * `aggregate(zip_with(a, b, …))` form allocates an intermediate array
  * per evaluation and runs the lambda interpreted (Catalyst higher-order
  * functions don't participate in whole-stage codegen), which turns the
  * n·k distance evaluations of a Lloyd's assignment into the dominant
  * cost once k is data-scaled (semDedup's targetClusterRows). This is the
  * hot inner product of the quantized-grid k-means family — exact long
  * arithmetic, so the SQL oracle's list_sum/list_transform replay agrees
  * bit-for-bit. Values are quantized embedding grids (|v| ≤ ~quantScale ·
  * max|e|), so the Σ of 64 squared diffs stays far below int64 overflow
  * by the operator's quantScale contract.
  */
case class LongSqDist(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"long_sq_dist expects array<bigint> inputs, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "long_sq_dist"

  override def nullSafeEval(a: Any, b: Any): Any =
    LongSqDist.sqDist(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.plans.LongSqDist.sqDist($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): LongSqDist =
    copy(left = newLeft, right = newRight)
}

object LongSqDist {
  /** The kernel both `nullSafeEval` and the generated code call. */
  def sqDist(x: ArrayData, y: ArrayData): Long = {
    val n = x.numElements()
    if (y.numElements() != n) throw new IllegalArgumentException(
      s"long_sq_dist: array lengths differ ($n vs ${y.numElements()})")
    var acc = 0L
    var i = 0
    while (i < n) {
      val d = x.getLong(i) - y.getLong(i)
      acc += d * d
      i += 1
    }
    acc
  }

  /** Column-API entry point. */
  def apply(a: Column, b: Column): Column =
    Internals.column(LongSqDist(
      Internals.expression(a), Internals.expression(b)))
}
