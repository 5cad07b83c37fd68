package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graftaccess.Internals
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the 60-bit MD5-prefix hash
  * ([[graft.functions.PortableHash]]) computed straight from the digest
  * bytes.
  *
  * Bit-identical to the declarative chain it replaces —
  * `conv(substring(md5(x), 1, 15), 16, 10)::long` — because the first 15
  * hex characters of the digest ARE the top 60 bits of its first 8 bytes:
  * fold bytes 0..7 big-endian into a long and shift the bottom nibble
  * off. What it removes is everything around the digest: the 32-char hex
  * string materialization, the substring copy, and conv's per-char base-16
  * parse — three allocations and a parse per HASH CALL, which the gram-
  * level operators (winnowing q113, repeated-span dedup q133) pay once
  * per character of the corpus. The digest itself stays.
  *
  * Per-row eval via CodegenFallback, like [[WordShingles]]: the win is
  * per-call constant-factor work, not codegen fusion. The fold lives in
  * the companion's [[Md5Prefix60.prefix60]], the one MD5-prefix kernel
  * that this expression, [[WinnowPortableMinima]] and the driver-side
  * `PortableHash.hex60(String)` share.
  */
case class Md5Prefix60(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"md5_prefix60 expects a string input, got ${other.simpleString}")
  }
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "md5_prefix60"

  override def nullSafeEval(input: Any): Any = {
    val b = input.asInstanceOf[UTF8String].getBytes
    Md5Prefix60.prefix60(b, 0, b.length)
  }

  override protected def withNewChildInternal(newChild: Expression): Md5Prefix60 =
    copy(child = newChild)
}

object Md5Prefix60 {
  /** Per-thread digest and its 16-byte output buffer: a
    * `MessageDigest` is not thread-safe, and reusing both keeps the
    * kernel free of per-call allocation and provider lookup. */
  private final class Md5State {
    val md: java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
    val out = new Array[Byte](16)
  }
  private val state = new ThreadLocal[Md5State] {
    override def initialValue(): Md5State = new Md5State
  }

  /** The MD5-prefix kernel: the top 60 bits of
    * MD5(`prefix` ++ `bytes[off, off + len)`) — the digest's first 8
    * bytes folded big-endian into a long, bottom nibble shifted off. */
  def prefix60(bytes: Array[Byte], off: Int, len: Int,
               prefix: Array[Byte] = Array.emptyByteArray): Long = {
    val s = state.get()
    s.md.update(prefix)
    s.md.update(bytes, off, len)
    s.md.digest(s.out, 0, 16) // resets the digest
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (s.out(i) & 0xffL); i += 1 }
    v >>> 4
  }

  /** Column-API entry point. */
  def apply(c: Column): Column =
    Internals.column(Md5Prefix60(Internals.expression(c)))
}
