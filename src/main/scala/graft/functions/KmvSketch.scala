package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** KMV (k-minimum-values) distinct-count sketch (Bar-Yossef et al.,
  * *Counting distinct elements in a data stream*, RANDOM'02) as a typed
  * `Aggregator` — the mergeable sketch family behind distributed
  * COUNT(DISTINCT) estimation.
  *
  * State is the k smallest DISTINCT [[PortableHash]] values seen — O(k)
  * longs per group, maintained sorted; `merge` is union-then-truncate, so
  * partial aggregation composes exactly (map-side combine does most of
  * the work and the shuffle carries ≤ k longs per group per mapper, vs
  * the full value set an exact distinct shuffles). Estimator: with h_k
  * the k-th smallest hash on a 2⁶⁰ scale, D ≈ (k−1)·2⁶⁰/h_k; below k
  * distinct hashes the sketch IS the exact distinct count.
  *
  * Spark's `approx_count_distinct` (HyperLogLog++) is the cheaper
  * production default; this sketch is (a) mergeable state you can PERSIST
  * per partition/file and re-combine later (HLL buffers aren't exposed),
  * and (b) built on the portable MD5 prefix like MinHash/winnow, so the
  * DuckDB oracle replays hash values, k-th minimum and the estimate
  * bit-for-bit (q115).
  *
  * Determinism: the result depends only on the SET of input values —
  * insertion order, partitioning and merge order cannot change the k
  * smallest distinct hashes.
  *
  * Precondition: values that should count as one must share one string
  * form, because the hash reads `cast(x as string)`. On float and double
  * columns −0.0 and 0.0 render differently, so the sketch counts them
  * twice where `countDistinct` counts once; normalize −0.0 to 0.0 first,
  * as [[graft.checks.Profile.profileTable]] does.
  */
class KmvAgg(k: Int)
    extends Aggregator[java.lang.Long, Array[Long], Double] {
  require(k >= 2, "k must be >= 2")

  override def zero: Array[Long] = Array.empty

  override def reduce(b: Array[Long], boxed: java.lang.Long): Array[Long] = {
    // NULL input (null value, or a NULL-propagating hash of one) adds
    // nothing — a sketch over a nullable column must not count a phantom
    if (boxed == null) return b
    val h = boxed.longValue()
    val pos = java.util.Arrays.binarySearch(b, h)
    if (pos >= 0) b                           // already present
    else {
      val ins = -pos - 1
      if (b.length < k) {                     // growing phase: insert
        val out = new Array[Long](b.length + 1)
        System.arraycopy(b, 0, out, 0, ins)
        out(ins) = h
        System.arraycopy(b, ins, out, ins + 1, b.length - ins)
        out
      } else if (ins >= k) b                  // ≥ current k-th min: ignore
      else {                                  // displace the largest
        val out = new Array[Long](k)
        System.arraycopy(b, 0, out, 0, ins)
        out(ins) = h
        System.arraycopy(b, ins, out, ins + 1, k - ins - 1)
        out
      }
    }
  }

  /** Merge-sort union of two sorted distinct arrays, truncated to k. */
  override def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
    if (x.isEmpty) return y
    if (y.isEmpty) return x
    val out = new Array[Long](math.min(k, x.length + y.length))
    var i = 0; var j = 0; var o = 0
    while (o < out.length && (i < x.length || j < y.length)) {
      val takeX = j >= y.length || (i < x.length && x(i) <= y(j))
      val v = if (takeX) x(i) else y(j)
      if (takeX) i += 1 else j += 1
      if (o == 0 || out(o - 1) != v) { out(o) = v; o += 1 }
    }
    if (o == out.length) out else java.util.Arrays.copyOf(out, o)
  }

  override def finish(b: Array[Long]): Double =
    if (b.length < k) b.length.toDouble
    else (k - 1).toDouble * KmvSketch.Two60 / b(k - 1).toDouble

  // NATIVE array encoder, not Encoders.kryo: the buffer crosses the
  // partial/final aggregation boundary once per group per mapper, and
  // Kryo pays an opaque-blob serialize + reflective access there (it was
  // also the one lane needing --add-opens at runtime); the Unsafe array
  // form is a straight memcpy of k longs. q115's wall time is dominated
  // by the portable-MD5 oracle lane, not the buffer, so this is a
  // shuffle-format/hygiene change, not a headline speedup.
  override def bufferEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
}

/** [[KmvAgg]] with the raw sketch (sorted k-minimum hash array) as the
  * OUTPUT — the persistable form: write one row per (group, partition/
  * file/day), re-combine later with [[KmvMergeAgg]] without rescanning
  * the data. Union-truncate is lossless for the estimator: every global
  * top-k-minimum hash is inside its part's top-k, so the merged sketch
  * equals the sketch of the union (proved exactly by the q116 oracle,
  * which replays the two-level rollup with the single-pass formula). */
class KmvStateOut(k: Int)
    extends Aggregator[java.lang.Long, Array[Long], Array[Long]] {
  private val inner = new KmvAgg(k)
  override def zero: Array[Long] = inner.zero
  override def reduce(b: Array[Long], h: java.lang.Long): Array[Long] =
    inner.reduce(b, h)
  override def merge(x: Array[Long], y: Array[Long]): Array[Long] = inner.merge(x, y)
  override def finish(b: Array[Long]): Array[Long] = b
  override def bufferEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
}

/** Merge previously materialized sketches (array<bigint> rows) and finish
  * to the distinct-count estimate. */
class KmvMergeAgg(k: Int)
    extends Aggregator[Array[Long], Array[Long], Double] {
  private val inner = new KmvAgg(k)
  override def zero: Array[Long] = inner.zero
  override def reduce(b: Array[Long], s: Array[Long]): Array[Long] =
    inner.merge(b, if (s == null) Array.empty else s)
  override def merge(x: Array[Long], y: Array[Long]): Array[Long] = inner.merge(x, y)
  override def finish(b: Array[Long]): Double = inner.finish(b)
  override def bufferEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
}

object KmvSketch {
  /** 2⁶⁰ as an exact double — the portable hash's value range. */
  val Two60: Double = 1152921504606846976.0

  /** Column form: KMV distinct-count estimate of `c` with sketch size `k`
    * over the portable 60-bit hash — the DuckDB oracle replays it
    * bit-for-bit (q115). */
  def apply(c: Column, k: Int): Column = {
    val agg = udaf(new KmvAgg(k), Encoders.LONG)
    agg(PortableHash.hex60(c))
  }

  /** The raw sketch (sorted array of the k minimum distinct hashes) — the
    * persistable state form; feed rows of these to [[merged]] later. */
  def state(c: Column, k: Int): Column = {
    val agg = udaf(new KmvStateOut(k), Encoders.LONG)
    agg(PortableHash.hex60(c))
  }

  /** Distinct-count estimate from materialized [[state]] sketches. */
  def merged(sketch: Column, k: Int): Column = {
    val agg = udaf(new KmvMergeAgg(k),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]())
    agg(sketch)
  }
}
