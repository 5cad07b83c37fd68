package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Count-min sketch (Cormode & Muthukrishnan, *An Improved Data Stream
  * Summary: The Count-Min Sketch and its Applications*, J. Algorithms
  * 55(1), 2005): a depth×width counter matrix where row i counts
  * occurrences at bucket `h_i(key) mod width`; a point estimate is the
  * MINIMUM over rows, which can only over-estimate (collisions add,
  * never subtract) and errs by ≤ εN with probability 1−δ for
  * width = ⌈e/ε⌉, depth = ⌈ln 1/δ⌉.
  *
  * This is the bounded-memory frequency primitive for corpus-scale
  * counting: exact per-key counts need a shuffle keyed by EVERY distinct
  * key (unbounded state), the sketch needs exactly depth×width longs no
  * matter how many distinct keys exist.
  *
  * Scale shape: the sketch IS a group-by — the depth-way explode happens
  * map-side and the partial aggregation collapses each mapper's
  * contribution to ≤ depth×width rows before the exchange, so the
  * shuffle volume is bounded by the sketch size per mapper, not the
  * corpus. No custom aggregation buffer needed; counter addition
  * commutes, so the result is partition-order independent.
  *
  * Hashing is the portable MD5 prefix like the other sketches
  * (MinHash/SimHash), so the oracle replays the sketch bit-exactly
  * (q145). Its two-phase [[PortableHash.base]]/[[PortableHash.derive]]
  * split digests the key string ONCE per row (one MD5) and derives the
  * depth members by affine arithmetic, instead of paying depth full
  * digests per row (the round-11 q145 hot spot).
  */
object CountMin {

  /** Bucket columns for rows 0..depth-1: the `cms_`-salted key is hashed
    * once ([[PortableHash.base]]), each row's member derives from that
    * base, and `pmod` folds the member into [0, width). */
  def buckets(key: Column, depth: Int, width: Int): Seq[Column] = {
    val base = PortableHash.base(concat(lit("cms_"), key.cast("string")))
    // the repeated base subtree is CSE'd by codegen within the projection,
    // so the MD5 evaluates once per row
    (0 until depth).map(i =>
      pmod(PortableHash.derive(i, base), lit(width.toLong)))
  }

  /** Build the depth×width counter frame from a key column: one
    * map-side explode into (row, bucket), one partial-aggregated
    * count shuffle. Output: (row, bucket, cnt) — ≤ depth×width rows. */
  def sketch(df: DataFrame, keyCol: String, depth: Int,
             width: Int): DataFrame = {
    require(depth >= 1 && width >= 1, "need depth, width >= 1")
    val rows = buckets(col(keyCol), depth, width).zipWithIndex
      .map { case (b, i) => struct(lit(i).as("row"), b.as("bucket")) }
    df.select(explode(array(rows: _*)).as("__rb"))
      .groupBy(col("__rb.row").as("row"), col("__rb.bucket").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Point estimates for the keys of `keys(keyCol)`: joins each key's
    * depth buckets against the (broadcast, sketch-sized) counter frame
    * and takes the row-wise minimum. Missing buckets count 0 (possible
    * only for keys absent from the sketched corpus). Adds `cms_estimate`. */
  def estimate(sketchDf: DataFrame, keys: DataFrame, keyCol: String,
               depth: Int, width: Int): DataFrame = {
    require(depth >= 1 && width >= 1, "need depth, width >= 1")
    val rows = buckets(col(keyCol), depth, width).zipWithIndex
      .map { case (b, i) => struct(lit(i).as("row"), b.as("bucket")) }
    keys.select(col("*"), explode(array(rows: _*)).as("__rb"))
      .select(col("*"), col("__rb.row").as("row"), col("__rb.bucket").as("bucket"))
      .drop("__rb")
      .join(broadcast(sketchDf), Seq("row", "bucket"), "left")
      .groupBy(keys.columns.map(col): _*)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_estimate"))
  }
}
