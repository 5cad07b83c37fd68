package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftaccess.Internals
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}

/** Native Catalyst expression: the full sign-bit LSH signature of an
  * embedding against a whole plane matrix in ONE node — bit p of the result
  * is set iff emb · planes[p] > 0 (dot in double precision, sequential
  * fold, identical association order to [[FloatDotProduct]], so signs are
  * bit-identical to the per-plane form). `> 0` has SQL semantics: a NaN
  * projection counts as positive (NaN is greatest in Spark and DuckDB).
  * An embedding whose length is not the plane length throws
  * IllegalArgumentException naming both lengths. The kernel is one Scala
  * method, `PlaneSignBits.signBits`, which `nullSafeEval` calls and
  * `doGenCode` emits as a static call.
  *
  * Exists for plan size as much as row speed: the declarative form (one
  * `FloatDotProduct` per plane against a 64-float literal array) puts
  * nBits × dim literal nodes in the tree — ~1.5k nodes for a 24×64 plane
  * set, duplicated on both sides of the candidate self-join — and analysis
  * + codegen of that tree dominates small-batch latency. Here the matrix
  * rides along as one constant [[FloatMatrix]], equal by value across
  * separately built expressions.
  *
  * Max 64 planes per node (one long); callers chunk per hash table. */
case class PlaneSignBits(child: Expression, planes: FloatMatrix)
    extends UnaryExpression {
  require(planes.rows >= 1 && planes.rows <= 64, s"need 1..64 planes, got ${planes.rows}")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"plane_sign_bits expects array<float> input, got ${other.simpleString}")
  }
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "plane_sign_bits"

  override def nullSafeEval(e: Any): Any =
    PlaneSignBits.signBits(e.asInstanceOf[ArrayData], planes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("planes", planes)
    defineCodeGen(ctx, ev, v => s"graft.plans.PlaneSignBits.signBits($v, $planesRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): PlaneSignBits =
    copy(child = newChild)
}

object PlaneSignBits {
  /** The kernel both `nullSafeEval` and the generated code call. */
  def signBits(v: ArrayData, planes: FloatMatrix): Long = {
    val n = v.numElements()
    if (n != planes.cols) throw new IllegalArgumentException(
      s"plane_sign_bits: embedding length $n differs from plane length ${planes.cols}")
    var bits = 0L
    var p = 0
    while (p < planes.rows) {
      if (!(planes.dotRow(p, v, 0, n) <= 0)) bits |= (1L << p)
      p += 1
    }
    bits
  }

  /** Column-API entry point: `planes` is a row-major nBits × dim matrix. */
  def apply(emb: Column, planes: Array[Float], dim: Int): Column =
    Internals.column(PlaneSignBits(Internals.expression(emb), FloatMatrix(planes, dim)))
}
