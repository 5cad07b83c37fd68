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
  * float[] reference instead of nPlanes × dim literal nodes. An embedding
  * whose length is not `dim` throws IllegalArgumentException naming both
  * lengths. */
case class PlaneProjections(child: Expression, planes: Array[Float], dim: Int)
    extends UnaryExpression {
  require(dim > 0 && planes.length % dim == 0,
    s"planes length ${planes.length} must be a multiple of dim $dim")
  private val nPlanes = planes.length / dim

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"plane_projections expects array<float> input, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "plane_projections"

  override def nullSafeEval(e: Any): Any = {
    val v = e.asInstanceOf[ArrayData]
    val n = v.numElements()
    if (n != dim) throw new IllegalArgumentException(
      s"plane_projections: embedding length $n differs from plane length $dim")
    val out = new Array[Double](nPlanes)
    var p = 0
    while (p < nPlanes) {
      val off = p * dim
      var acc = 0.0
      var j = 0
      while (j < n) {
        acc += v.getFloat(j).toDouble * planes(off + j).toDouble
        j += 1
      }
      out(p) = acc
      p += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("planes", planes, "float[]")
    nullSafeCodeGen(ctx, ev, v => {
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      val p = ctx.freshName("p")
      val off = ctx.freshName("off")
      val acc = ctx.freshName("acc")
      val j = ctx.freshName("j")
      s"""
         |int $n = $v.numElements();
         |if ($n != $dim) {
         |  throw new IllegalArgumentException("plane_projections: embedding length " +
         |    $n + " differs from plane length $dim");
         |}
         |double[] $out = new double[$nPlanes];
         |for (int $p = 0; $p < $nPlanes; $p++) {
         |  int $off = $p * $dim;
         |  double $acc = 0.0;
         |  for (int $j = 0; $j < $n; $j++) {
         |    $acc += ((double) $v.getFloat($j)) * ((double) $planesRef[$off + $j]);
         |  }
         |  $out[$p] = $acc;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): PlaneProjections =
    copy(child = newChild)
}

object PlaneProjections {
  /** Column-API entry point: `planes` is a row-major nPlanes × dim matrix. */
  def apply(emb: Column, planes: Array[Float], dim: Int): Column =
    Internals.column(PlaneProjections(Internals.expression(emb), planes, dim))
}
