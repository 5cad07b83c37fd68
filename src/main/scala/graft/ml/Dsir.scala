package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.PortableHash

/** DSIR — Data Selection via Importance Resampling (Xie et al., NeurIPS
  * 2023, arXiv:2302.03169): fit hashed-n-gram bag-of-words models for a
  * TARGET corpus (the domain you want more of) and the RAW corpus, give
  * every raw document the importance log-weight `log p̂(x) − log q̂(x)`,
  * and resample with exponential/Gumbel keys so the selected subset is
  * distributed like the target. The resampling step IS the existing
  * [[graft.operators.Sampling.weightedSample]] with `w = exp(logw)` —
  * ES keys on `exp(logw)` and Gumbel-top-k on `logw` are the same order.
  *
  * The hashing trick is what makes this the unbounded-vocabulary sibling
  * of [[NbQuality]]: the model is `m` bucket counts, never a vocabulary —
  * the ratio table is EXACTLY `m` rows by construction (a `range(m)`
  * spine), so it broadcasts at any corpus size.
  *
  * Float discipline: per-bucket `ln` terms round to integer nanos before
  * any per-doc sum (the q126 rule), so document log-weights are exact
  * integer sums; the final ES key inherits q139's `round(ln(u)/w, 8)` +
  * id tiebreak.
  *
  * Scale shape: two bucket-count aggregations (ONE shuffle each, output
  * bounded at m rows), then score = explode grams → broadcast m-row join
  * → groupBy(id) where partial aggregation collapses each doc to one row
  * before the exchange.
  */
object Dsir {

  /** Unigram + bigram occurrences (a bag, NOT distinct — DSIR §3 fits
    * multinomial bucket counts) of a single-spaced text column. */
  def grams(textCol: Column): Column = {
    val ws = split(textCol, " ")
    val bi = when(size(ws) < 2,
        array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(ws) - 1),
        i => concat(element_at(ws, i), lit(" "), element_at(ws, i + 1))))
    concat(ws, bi)
  }

  /** Hashed feature bucket of one gram, the portable hash seeded 167 —
    * public so callers can explode + bucket ONCE, checkpoint the (id,
    * flag, bucket) frame, and feed both the count aggregation and the
    * scoring aggregation from it (the gram hash is the dominant cost at
    * corpus scale; see q167). */
  def bucket(g: Column, m: Int): Column =
    pmod(PortableHash.seeded(167, g), lit(m.toLong))

  /** [[bucketLogRatios]] over an already-bucketed gram frame (one row per
    * gram occurrence, `targetFlag` boolean). Same counts as
    * [[bucketLogRatiosWhere]] — use with a checkpointed bucket frame to
    * pay the gram hash once for counting AND scoring. */
  def ratiosFromBuckets(buckets: DataFrame, targetFlag: Column, m: Int,
                        alpha: Double = 0.5): DataFrame = {
    val counts = buckets.groupBy("bucket").agg(
      sum(when(targetFlag, 1L).otherwise(0L)).as("c_t"),
      count(lit(1)).as("c_q"))
    val spine = buckets.sparkSession.range(m).select(col("id").as("bucket"))
    finishRatios(
      spine.join(counts, Seq("bucket"), "left")
        .select(col("bucket"),
          coalesce(col("c_t"), lit(0L)).as("c_t"),
          coalesce(col("c_q"), lit(0L)).as("c_q")),
      m, alpha)
  }

  /** [[docLogWeights]] over an already-bucketed gram frame. */
  def weightsFromBuckets(buckets: DataFrame, idCol: String,
                         ratios: DataFrame): DataFrame =
    buckets.join(broadcast(ratios), Seq("bucket"))
      .groupBy(idCol).agg(
        count(lit(1)).as("n_grams"),
        sum(col("ratio_nano")).as("logw_nano"))

  /** Per-bucket importance log-ratio `ln p̂_t(b) − ln p̂_q(b)` in nanos,
    * add-α smoothed, over the full `0..m-1` bucket spine (so the scoring
    * join never misses). (bucket: long, ratio_nano: long), exactly m rows. */
  def bucketLogRatios(target: DataFrame, raw: DataFrame, textCol: Column,
                      m: Int, alpha: Double = 0.5): DataFrame = {
    def counts(df: DataFrame, out: String) =
      df.select(explode(grams(textCol)).as("g"))
        .select(bucket(col("g"), m).as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as(out))
    val spine = target.sparkSession.range(m).select(col("id").as("bucket"))
    val joined = spine
      .join(counts(target, "c_t"), Seq("bucket"), "left")
      .join(counts(raw, "c_q"), Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("c_t"), lit(0L)).as("c_t"),
        coalesce(col("c_q"), lit(0L)).as("c_q"))
    finishRatios(joined, m, alpha)
  }

  /** [[bucketLogRatios]] for the common case where the target corpus IS a
    * predicate over the raw corpus (DSIR's usual setup: "docs that look
    * like src X" vs the whole crawl): ONE gram explosion + hash pass
    * computes both count columns as conditional sums — at 100 TB the gram
    * hashing dominates, so folding the target pass into the raw pass cuts
    * the count-stage cost by half. Counts are identical to
    * `bucketLogRatios(raw.where(targetCond), raw, …)` by construction. */
  def bucketLogRatiosWhere(raw: DataFrame, targetCond: Column,
                           textCol: Column, m: Int,
                           alpha: Double = 0.5): DataFrame = {
    val counts = raw
      .select(targetCond.as("__t"), explode(grams(textCol)).as("g"))
      .select(col("__t"), bucket(col("g"), m).as("bucket"))
      .groupBy("bucket").agg(
        sum(when(col("__t"), 1L).otherwise(0L)).as("c_t"),
        count(lit(1)).as("c_q"))
    val spine = raw.sparkSession.range(m).select(col("id").as("bucket"))
    val joined = spine.join(counts, Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("c_t"), lit(0L)).as("c_t"),
        coalesce(col("c_q"), lit(0L)).as("c_q"))
    finishRatios(joined, m, alpha)
  }

  private def finishRatios(joined: DataFrame, m: Int,
                           alpha: Double): DataFrame = {
    val tot = joined.agg(sum("c_t").as("n_t"), sum("c_q").as("n_q"))
    def lnNano(c: Column, n: Column): Column =
      round(log((c + lit(alpha)) / (n + lit(alpha) * m)) * lit(1e9))
        .cast("long")
    joined.crossJoin(broadcast(tot))
      .select(col("bucket"),
        (lnNano(col("c_t"), col("n_t")) - lnNano(col("c_q"), col("n_q")))
          .as("ratio_nano"))
  }

  /** Per-document importance log-weight: sum of bucket ratios over the
    * doc's gram occurrences. (idCol, n_grams: long, logw_nano: long). */
  def docLogWeights(corpus: DataFrame, idCol: String, textCol: Column,
                    ratios: DataFrame, m: Int): DataFrame =
    corpus.select(col(idCol), explode(grams(textCol)).as("g"))
      .select(col(idCol), bucket(col("g"), m).as("bucket"))
      .join(broadcast(ratios), Seq("bucket"))
      .groupBy(idCol).agg(
        count(lit(1)).as("n_grams"),
        sum(col("ratio_nano")).as("logw_nano"))
}
