package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftaccess.Internals
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType}

/** Product-quantization encoder as ONE native pass: for each of `m`
  * subspaces, the argmin codeword by ROUNDED (4 dp, HALF_UP — Spark's
  * `round()` semantics via `BigDecimal.valueOf`) distance
  * `|c|² − 2·v_mi·c`, strict `<` so ties keep the earliest codeword —
  * exactly the order the declarative zip_with/round/fold form (and the
  * DuckDB oracle's `row_number ORDER BY d, j`) produces, but without m
  * interpreted higher-order-function chains boxing 64 structs per
  * subspace per row (the measured difference on the sf1 encode pass).
  *
  * `codebooks` is [[FloatMatrix.stacked]]: codeword (mi, j) is row
  * mi·nCodes + j, so m = rows / nCodes. Codeword norms are precomputed
  * once per expression with the same sequential fold the literal form
  * used. The kernel is one Scala method, `PqEncodeCodes.encode`, which
  * `nullSafeEval` calls and `doGenCode` emits as a static call.
  *
  * Lengths are not checked, by design: subspace mi reads the embedding's
  * elements [mi·sub, mi·sub + sub) that are present — the bound of
  * `slice()`, which the query-side norms of `Similarity.adcTopK` use — so
  * a short embedding contributes only its present elements and a long
  * one's tail is ignored. [[PqAdcDotSum]] reads the same bound. */
case class PqEncodeCodes(child: Expression, codebooks: FloatMatrix, nCodes: Int)
    extends UnaryExpression {
  require(codebooks.rows % nCodes == 0,
    s"codebook rows ${codebooks.rows} must be a multiple of nCodes $nCodes")

  private lazy val cn2: Array[Double] = Array.tabulate(codebooks.rows) { i =>
    val off = i * codebooks.cols
    var acc = 0.0
    var d = 0
    while (d < codebooks.cols) {
      acc += codebooks.values(off + d).toDouble * codebooks.values(off + d).toDouble
      d += 1
    }
    acc
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"pq_encode expects array<float> input, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "pq_encode"

  override def nullSafeEval(e: Any): Any =
    PqEncodeCodes.encode(e.asInstanceOf[ArrayData], codebooks, cn2, nCodes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("codebooks", codebooks)
    val cn2Ref = ctx.addReferenceObj("cn2", cn2, "double[]")
    defineCodeGen(ctx, ev, v =>
      s"graft.plans.PqEncodeCodes.encode($v, $cbRef, $cn2Ref, $nCodes)")
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncodeCodes =
    copy(child = newChild)
}

/** The ADC pair kernel: Σ_m q_m · c_{m,codes[m]} over the same stacked
  * codebook, each subspace dot a sequential double fold (bit-identical to
  * the declarative slice+zip_with form it replaced) and the m terms
  * summed in subspace order. One native pass per pair instead of m
  * interpreted HOF folds — the pair side of the q159 hot path. The
  * kernel is one Scala method, `PqAdcDotSum.dotSum`, which `nullSafeEval`
  * calls and `doGenCode` emits as a static call. Like [[PqEncodeCodes]]
  * it reads each subspace of the embedding within the `slice()` bound,
  * unchecked; `codes` is checked, because an unchecked code would
  * silently read a codeword of another subspace: it must hold exactly m
  * non-null codes, each in [0, nCodes), or the kernel throws
  * `IllegalArgumentException`. */
case class PqAdcDotSum(left: Expression, right: Expression,
                       codebooks: FloatMatrix, nCodes: Int)
    extends BinaryExpression {
  require(codebooks.rows % nCodes == 0,
    s"codebook rows ${codebooks.rows} must be a multiple of nCodes $nCodes")

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(IntegerType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"pq_adc_dot_sum expects (array<float>, array<int>), got " +
          s"(${l.simpleString}, ${r.simpleString})")
    }
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "pq_adc_dot_sum"

  override def nullSafeEval(q: Any, c: Any): Any =
    PqAdcDotSum.dotSum(q.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData],
      codebooks, nCodes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("codebooks", codebooks)
    defineCodeGen(ctx, ev, (v, codes) =>
      s"graft.plans.PqAdcDotSum.dotSum($v, $codes, $cbRef, $nCodes)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdcDotSum =
    copy(left = newLeft, right = newRight)
}

object PqAdcDotSum {
  /** The kernel both `nullSafeEval` and the generated code call. */
  def dotSum(v: ArrayData, codes: ArrayData, codebooks: FloatMatrix,
             nCodes: Int): Double = {
    val (sub, m) = (codebooks.cols, codebooks.rows / nCodes)
    if (codes.numElements() != m) throw new IllegalArgumentException(
      s"pq_adc_dot_sum: ${codes.numElements()} codes for $m subspaces")
    var total = 0.0
    var mi = 0
    while (mi < m) {
      val code = if (codes.isNullAt(mi)) -1 else codes.getInt(mi)
      if (code < 0 || code >= nCodes) throw new IllegalArgumentException(
        s"pq_adc_dot_sum: code ${if (codes.isNullAt(mi)) "null" else code} " +
          s"of subspace $mi is outside [0, $nCodes)")
      total += codebooks.dotRow(mi * nCodes + code, v, mi * sub,
        PqEncodeCodes.sliceLength(v, mi, sub))
      mi += 1
    }
    total
  }

  def apply(qEmb: Column, codes: Column,
            codebooks: Seq[Seq[Array[Float]]]): Column =
    Internals.column(PqAdcDotSum(Internals.expression(qEmb),
      Internals.expression(codes), FloatMatrix.stacked(codebooks),
      codebooks.head.length))
}

object PqEncodeCodes {
  /** Spark `round(x, 4)` twin: shortest-decimal BigDecimal, HALF_UP.
    * (`BigDecimal.valueOf`, NOT `new BigDecimal` — the exact-binary
    * expansion disagrees with SQL round at ...5 boundaries.) */
  def round4(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()

  /** First index minimizing `round4(dists(j))` — the (rounded dist, j)
    * argmin — with O(1) expected `round4` calls instead of one per
    * codeword: `round4` is monotone non-decreasing, so the rounded min
    * r0 = round4(raw min), and the winner is the FIRST j that rounds to
    * r0; any j with raw dist > r0 + 0.000051 provably rounds above r0
    * (round4(d) ≥ d − 0.00005 − ulp) and is skipped without rounding. */
  def argminRounded(dists: Array[Double]): Int = {
    var rawMin = Double.MaxValue
    var j = 0
    while (j < dists.length) {
      if (dists(j) < rawMin) rawMin = dists(j)
      j += 1
    }
    val r0 = round4(rawMin)
    val cut = r0 + 0.000051
    j = 0
    while (j < dists.length) {
      if (dists(j) <= cut && round4(dists(j)) == r0) return j
      j += 1
    }
    // unreachable (the raw-min index always qualifies); defensive
    0
  }

  /** Elements of subspace `mi` present in `v`: `slice(v, mi·sub + 1, sub)`'s
    * length, 0 past the end. */
  private[plans] def sliceLength(v: ArrayData, mi: Int, sub: Int): Int =
    math.max(0, math.min(sub, v.numElements() - mi * sub))

  /** The kernel both `nullSafeEval` and the generated code call. */
  def encode(v: ArrayData, codebooks: FloatMatrix, cn2: Array[Double],
             nCodes: Int): ArrayData = {
    val sub = codebooks.cols
    val out = new Array[Int](codebooks.rows / nCodes)
    val dists = new Array[Double](nCodes)
    var mi = 0
    while (mi < out.length) {
      val n = sliceLength(v, mi, sub)
      var j = 0
      while (j < nCodes) {
        val row = mi * nCodes + j
        dists(j) = cn2(row) - 2.0 * codebooks.dotRow(row, v, mi * sub, n)
        j += 1
      }
      out(mi) = argminRounded(dists)
      mi += 1
    }
    new GenericArrayData(out)
  }

  def apply(emb: Column, codebooks: Seq[Seq[Array[Float]]]): Column =
    Internals.column(PqEncodeCodes(Internals.expression(emb),
      FloatMatrix.stacked(codebooks), codebooks.head.length))
}
