package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftaccess.Internals
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the winnowing fingerprint selection of
  * [[graft.text.TextAnalysis.winnowFingerprints]], in ONE pass per row —
  * `array<long>` of the first-occurrence-distinct sliding-window minima
  * over the k-gram hashes `hex60("0_" <gram>)` of an ALREADY-normalized
  * text.
  *
  * Bit-identical by construction to the declarative chain it replaces
  * (`transform(sequence(...), i -> md5_prefix60(concat('0_',
  * substr(txt, i, k))))` → `array_distinct(transform(..., j ->
  * array_min(slice(grams, j, w))))`):
  *   - grams are CODE-POINT substrings (`substringSQL` semantics — the
  *     byte offsets are walked once, so no per-gram string allocates);
  *   - the hash is the [[Md5Prefix60.prefix60]] kernel (top 60 bits of
  *     the digest's first 8 bytes) over the UTF-8 bytes of `"0_" + gram`;
  *   - `nGrams <= 0` (including null/short text) → empty array;
  *     `nGrams <= w` → one element, the global minimum;
  *   - otherwise the per-position window minima with `array_distinct`'s
  *     first-occurrence order, computed O(n) with a monotonic deque
  *     instead of the O(n·w) per-position `slice` copies.
  *
  * Exists for the same reason as [[WordShingles]]: Catalyst HOF lambdas
  * run interpreted — for winnowing that is one boxed dispatch plus a
  * fresh substring/concat allocation per GRAM (per character of the
  * corpus), which dominated q113 after the digest itself.
  */
case class WinnowPortableMinima(child: Expression, k: Int, w: Int)
    extends UnaryExpression with CodegenFallback {

  require(k >= 1, "gram length k must be >= 1")
  require(w >= 1, "window size w must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"winnow_portable_minima expects a string input, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  // null text yields an EMPTY fingerprint array (the declarative form's
  // `when(nGrams.isNull, array())` branch), never null
  override def nullable: Boolean = false
  override def prettyName: String = "winnow_portable_minima"

  private val prefix = Array[Byte]('0', '_')

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return new GenericArrayData(Array.empty[Any])
    val txt = v.asInstanceOf[UTF8String]
    val bytes = txt.getBytes
    // code-point → byte-offset table (substringSQL slices by code point)
    val nChars = txt.numChars()
    val n = nChars - k + 1
    if (n <= 0) return new GenericArrayData(Array.empty[Any])
    val off = new Array[Int](nChars + 1)
    var ci = 0
    var bi = 0
    while (bi < bytes.length) {
      off(ci) = bi
      val b = bytes(bi)
      bi += (if ((b & 0x80) == 0) 1
             else if ((b & 0xE0) == 0xC0) 2
             else if ((b & 0xF0) == 0xE0) 3
             else 4)
      ci += 1
    }
    off(ci) = bytes.length
    val grams = new Array[Long](n)
    var i = 0
    while (i < n) {
      grams(i) = Md5Prefix60.prefix60(bytes, off(i), off(i + k) - off(i),
        prefix)
      i += 1
    }
    if (n <= w) {
      var m = grams(0)
      i = 1
      while (i < n) { if (grams(i) < m) m = grams(i); i += 1 }
      return new GenericArrayData(Array[Any](m))
    }
    // monotonic-deque sliding minimum; distinct keeps first occurrence
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    val dq = new Array[Int](n)
    var head = 0
    var tail = 0 // deque of indices with increasing gram values
    i = 0
    while (i < n) {
      while (tail > head && grams(dq(tail - 1)) >= grams(i)) tail -= 1
      dq(tail) = i; tail += 1
      if (dq(head) <= i - w) head += 1
      if (i >= w - 1) seen.add(grams(dq(head)))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next().longValue(); o += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(
      newChild: Expression): WinnowPortableMinima = copy(child = newChild)
}

object WinnowPortableMinima {
  /** Column-API entry point (expects the normalized text). */
  def apply(txt: Column, k: Int, w: Int): Column =
    Internals.column(WinnowPortableMinima(
      Internals.expression(txt), k, w))
}
