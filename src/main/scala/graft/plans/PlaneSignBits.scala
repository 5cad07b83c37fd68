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
  * An embedding whose length is not `dim` throws IllegalArgumentException
  * naming both lengths.
  *
  * Exists for plan size as much as row speed: the declarative form (one
  * `FloatDotProduct` per plane against a 64-float literal array) puts
  * nBits × dim literal nodes in the tree — ~1.5k nodes for a 24×64 plane
  * set, duplicated on both sides of the candidate self-join — and analysis
  * + codegen of that tree dominates small-batch latency. Here the matrix
  * rides along as one flattened constant reference.
  *
  * Max 64 planes per node (one long); callers chunk per hash table. */
case class PlaneSignBits(child: Expression, planes: Array[Float], dim: Int)
    extends UnaryExpression {
  require(dim > 0 && planes.length % dim == 0,
    s"planes length ${planes.length} must be a multiple of dim $dim")
  private val nBits = planes.length / dim
  require(nBits >= 1 && nBits <= 64, s"need 1..64 planes, got $nBits")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"plane_sign_bits expects array<float> input, got ${other.simpleString}")
  }
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "plane_sign_bits"

  override def nullSafeEval(e: Any): Any = {
    val v = e.asInstanceOf[ArrayData]
    val n = v.numElements()
    if (n != dim) throw new IllegalArgumentException(
      s"plane_sign_bits: embedding length $n differs from plane length $dim")
    var bits = 0L
    var p = 0
    while (p < nBits) {
      val off = p * dim
      var acc = 0.0
      var j = 0
      while (j < n) {
        acc += v.getFloat(j).toDouble * planes(off + j).toDouble
        j += 1
      }
      if (!(acc <= 0)) bits |= (1L << p)
      p += 1
    }
    bits
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("planes", planes, "float[]")
    nullSafeCodeGen(ctx, ev, v => {
      val n = ctx.freshName("n")
      val bits = ctx.freshName("bits")
      val p = ctx.freshName("p")
      val off = ctx.freshName("off")
      val acc = ctx.freshName("acc")
      val j = ctx.freshName("j")
      s"""
         |int $n = $v.numElements();
         |if ($n != $dim) {
         |  throw new IllegalArgumentException("plane_sign_bits: embedding length " +
         |    $n + " differs from plane length $dim");
         |}
         |long $bits = 0L;
         |for (int $p = 0; $p < $nBits; $p++) {
         |  int $off = $p * $dim;
         |  double $acc = 0.0;
         |  for (int $j = 0; $j < $n; $j++) {
         |    $acc += ((double) $v.getFloat($j)) * ((double) $planesRef[$off + $j]);
         |  }
         |  if (!($acc <= 0)) $bits |= (1L << $p);
         |}
         |${ev.value} = $bits;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): PlaneSignBits =
    copy(child = newChild)
}

object PlaneSignBits {
  /** Column-API entry point: `planes` is a row-major nBits × dim matrix. */
  def apply(emb: Column, planes: Array[Float], dim: Int): Column =
    Internals.column(PlaneSignBits(Internals.expression(emb), planes, dim))
}
