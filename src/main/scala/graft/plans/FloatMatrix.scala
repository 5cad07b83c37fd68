package graft.plans

import org.apache.spark.sql.catalyst.util.ArrayData
import scala.util.hashing.MurmurHash3

/** A constant row-major `rows × cols` float matrix carried by a native
  * expression (plane sets, PQ codebooks). It compares by value: `equals`
  * and `hashCode` cover the shape and every element's bits, so two
  * expressions built by separate calls from equal matrices are equal —
  * exchange reuse and subexpression elimination do not depend on callers
  * sharing one Column. `toString` is the shape plus
  * a content hash, so plan text is deterministic across runs. */
final case class FloatMatrix(rows: Int, cols: Int, values: Array[Float]) {
  require(rows >= 0 && cols >= 1 && values.length == rows * cols,
    s"matrix length ${values.length} must be rows $rows × cols $cols")

  /** Σ_{j<n} v[from + j] · row r[j], one sequential double fold — the
    * association order of [[FloatDotProduct]], so a full-row dot is
    * bit-identical to it. */
  def dotRow(r: Int, v: ArrayData, from: Int, n: Int): Double = {
    val off = r * cols
    var acc = 0.0
    var j = 0
    while (j < n) {
      acc += v.getFloat(from + j).toDouble * values(off + j).toDouble
      j += 1
    }
    acc
  }

  override def equals(o: Any): Boolean = o match {
    case m: FloatMatrix =>
      rows == m.rows && cols == m.cols && java.util.Arrays.equals(values, m.values)
    case _ => false
  }
  // MurmurHash3 over the element bits: `Arrays.hashCode` gives all ±1
  // plane sets of one shape only two values (a sign flip moves it by 2³¹)
  override def hashCode: Int = {
    var h = MurmurHash3.mix(MurmurHash3.mix(MurmurHash3.arraySeed, rows), cols)
    var i = 0
    while (i < values.length) {
      h = MurmurHash3.mix(h, java.lang.Float.floatToIntBits(values(i)))
      i += 1
    }
    MurmurHash3.finalizeHash(h, values.length)
  }
  override def toString: String = f"FloatMatrix(${rows}x$cols, $hashCode%08x)"
}

object FloatMatrix {
  /** A row-major matrix from its flattened values and row length. */
  def apply(values: Array[Float], cols: Int): FloatMatrix = {
    require(cols > 0 && values.length % cols == 0,
      s"matrix length ${values.length} must be a multiple of cols $cols")
    FloatMatrix(values.length / cols, cols, values)
  }

  /** Stacks `m` codebooks of `nCodes` codewords each, mi-major: codeword
    * (mi, j) becomes row mi·nCodes + j. */
  def stacked(codebooks: Seq[Seq[Array[Float]]]): FloatMatrix = {
    val nCodes = codebooks.head.length
    val sub = codebooks.head.head.length
    require(codebooks.forall(cb => cb.length == nCodes && cb.forall(_.length == sub)),
      s"codebooks must all hold $nCodes codewords of length $sub")
    FloatMatrix(codebooks.flatten.flatten.toArray, sub)
  }
}
