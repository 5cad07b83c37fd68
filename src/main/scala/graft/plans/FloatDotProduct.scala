package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftaccess.Internals
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: Σ aᵢ·bᵢ over two float arrays in double
  * precision, sequential left fold (same association order as
  * `Similarity.dot`/`dotFast`, so results on equal-length arrays are
  * bit-identical — PropertySpec checks it). Arrays of different lengths
  * throw IllegalArgumentException naming both lengths, where the
  * declarative `Similarity.dot` would return null.
  *
  * This is the preferred extension tier from SURVEY §7 ("custom Expression
  * beats Scala UDF"): the kernel is one Scala method, `FloatDotProduct.dot`,
  * which `nullSafeEval` calls and `doGenCode` emits as a static call — a
  * primitive loop over the columnar `ArrayData`, no per-row boxing, and the
  * expression stays in whole-stage codegen alongside its consumers.
  * Null arrays → null (nullIntolerant); elements are assumed non-null
  * (embedding vectors).
  */
case class FloatDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"float_dot_product expects array<float> inputs, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "float_dot_product"

  override def nullSafeEval(a: Any, b: Any): Any =
    FloatDotProduct.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.plans.FloatDotProduct.dot($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): FloatDotProduct =
    copy(left = newLeft, right = newRight)
}

object FloatDotProduct {
  /** The kernel both `nullSafeEval` and the generated code call. */
  def dot(x: ArrayData, y: ArrayData): Double = {
    val n = x.numElements()
    if (y.numElements() != n) throw new IllegalArgumentException(
      s"float_dot_product: array lengths differ ($n vs ${y.numElements()})")
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  /** Column-API entry point. */
  def apply(a: Column, b: Column): Column =
    Internals.column(FloatDotProduct(
      Internals.expression(a), Internals.expression(b)))
}
