package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftaccess.Internals
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: all projections of an embedding onto a plane
  * matrix in one node — result[p] = emb · planes[p] (double precision,
  * sequential fold, same association order as [[FloatDotProduct]] so each
  * projection is bit-identical to the per-plane form).
  *
  * Companion to [[PlaneSignBits]] for the projection-valued LSH families
  * (p-stable euclidean grids, IVF centroid distances): one constant
  * [[FloatMatrix]] instead of nPlanes × dim literal nodes, equal by value
  * across separately built expressions. The kernel is one Scala method,
  * `PlaneProjections.project`, which `nullSafeEval` calls and `doGenCode`
  * emits as a static call. An embedding whose length is not the plane
  * length throws IllegalArgumentException naming both lengths. */
case class PlaneProjections(child: Expression, planes: FloatMatrix)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"plane_projections expects array<float> input, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "plane_projections"

  override def nullSafeEval(e: Any): Any =
    PlaneProjections.project(e.asInstanceOf[ArrayData], planes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("planes", planes)
    defineCodeGen(ctx, ev, v => s"graft.plans.PlaneProjections.project($v, $planesRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): PlaneProjections =
    copy(child = newChild)
}

object PlaneProjections {
  /** The kernel both `nullSafeEval` and the generated code call. */
  def project(v: ArrayData, planes: FloatMatrix): ArrayData = {
    val n = v.numElements()
    if (n != planes.cols) throw new IllegalArgumentException(
      s"plane_projections: embedding length $n differs from plane length ${planes.cols}")
    val out = new Array[Double](planes.rows)
    var p = 0
    while (p < out.length) {
      out(p) = planes.dotRow(p, v, 0, n)
      p += 1
    }
    new GenericArrayData(out)
  }

  /** Column-API entry point: `planes` is a row-major nPlanes × dim matrix. */
  def apply(emb: Column, planes: Array[Float], dim: Int): Column =
    Internals.column(PlaneProjections(Internals.expression(emb), FloatMatrix(planes, dim)))
}
