package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** A 60-bit hash with bit-identical implementations in Spark, DuckDB and
  * plain JVM code: the first 15 hex digits of the MD5 of the UTF-8 string.
  *
  *   Spark  : conv(substring(md5(x), 1, 15), 16, 10)::long
  *   DuckDB : ('0x' || substr(md5(x), 1, 15))::BIGINT
  *   JVM    : the top 60 bits of the digest's first 8 bytes
  *
  * The one hash of every sketch operator (MinHash, SimHash, winnowing,
  * repeated spans, KMV, count-min, DSIR buckets) and of every
  * random-hyperplane sign: because it has a DuckDB twin, the oracle
  * replays each sketch — signatures, banding, candidate pairs, k-th
  * minima — exactly, turning rows-only checks into hash-equality checks.
  * The price is one MD5 per hashed string (the digest is the cost; the
  * native [[graft.plans.Md5Prefix60]] kernel removes everything around
  * it). 60 bits keeps the value positive in a signed 64-bit integer on
  * every engine.
  */
object PortableHash {

  /** Signature width in bits (SimHash bit votes). */
  val Bits = 60

  /** 2³¹−1 (Mersenne prime) — the affine family's modulus. Products of two
    * <2³¹ operands stay under 2⁶² and never overflow a signed 64-bit int,
    * in Spark or in DuckDB. */
  val P = 2147483647L

  /** Column form: 60-bit MD5-prefix hash of the string column — the
    * native [[graft.plans.Md5Prefix60]] expression (bit-identical to
    * `conv(substring(md5(x), 1, 15), 16, 10)::long`, pinned by a
    * PropertySpec equivalence test, without the hex/substring/conv
    * allocations per call). NULL in → NULL out. */
  def hex60(c: Column): Column =
    graft.plans.Md5Prefix60(c.cast("string"))

  /** Seeded members: h_i(x) = hex60(s"${i}_$x") — the seed is mixed into the
    * hashed bytes, so members are independent and the SQL twin is a plain
    * string concat. */
  def seeded(seed: Int, c: Column): Column =
    hex60(concat(lit(s"${seed}_"), c.cast("string")))

  /** Two-phase form for k-member evaluation over the same input (MinHash,
    * count-min): `base` digests the string once, x = hex60(s) mod P, and
    * `derive(i, base)` yields member i arithmetically — one MD5 per row
    * instead of one per member. */
  def base(c: Column): Column = hex60(c) % P

  /** Universal affine member i: (aᵢ·x + bᵢ) mod P with aᵢ,bᵢ derived from
    * the portable hash of the member index — the SQL twin computes the same
    * constants with md5('a_i')/md5('b_i'). */
  def derive(seed: Int, base: Column): Column = {
    val a = hex60(s"a_$seed") % (P - 1) + 1
    val b = hex60(s"b_$seed") % P
    (lit(a) * base + lit(b)) % P
  }

  /** Several hash columns into one (band → bucket compression): the hash
    * of their `_`-joined decimal renderings (DuckDB: `string_agg`). */
  def combine(cols: Seq[Column]): Column =
    hex60(concat_ws("_", cols.map(_.cast("string")): _*))

  /** Driver-side twin (for plan-time constants like sign matrices). */
  def hex60(s: String): Long = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    graft.plans.Md5Prefix60.prefix60(b, 0, b.length)
  }

  def seeded(seed: Int, s: String): Long = hex60(s"${seed}_$s")
}
