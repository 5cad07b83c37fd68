package graft

import org.apache.spark.sql.functions._

import graft.ml.Dsir

/** DSIR importance weights (`Dsir`, q167): hashed-bucket log-ratios,
  * importance separation, and the bounded-broadcast scale shape. */
class DsirSpec extends SparkSpec {

  import spark.implicits._

  // target speaks "physics quantum", raw background speaks "spam click"
  private def corpus = Seq(
    (0L, "tgt", "physics quantum field theory"),
    (1L, "tgt", "quantum physics lecture notes"),
    (2L, "raw", "spam click buy now"),
    (3L, "raw", "click spam free offer"),
    (4L, "raw", "physics of spam filters")
  ).toDF("id", "kind", "text")

  private val m = 64

  test("bucket ratio table is exactly m rows and favors target vocabulary") {
    val ratios = Dsir.bucketLogRatios(
      corpus.where(col("kind") === "tgt"), corpus, col("text"), m)
    val rows = ratios.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.size == m)
    assert(rows.keys.min == 0L && rows.keys.max == (m - 1).toLong)
    // the bucket holding "quantum" (target-only, twice) must outscore the
    // bucket holding "spam" (raw-only, thrice)
    val qb = spark.range(1).select(
      Dsir.bucket(lit("quantum"), m)).head.getLong(0)
    val sb = spark.range(1).select(
      Dsir.bucket(lit("spam"), m)).head.getLong(0)
    assert(rows(qb) > 0L, "target-only token bucket should have positive ratio")
    assert(rows(sb) < 0L, "raw-only token bucket should have negative ratio")
  }

  test("importance log-weights separate target-like from raw-like docs") {
    val ratios = Dsir.bucketLogRatios(
      corpus.where(col("kind") === "tgt"), corpus, col("text"), m)
    val lw = Dsir.docLogWeights(corpus, "id", col("text"), ratios, m)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(lw.size == 5)
    // every target doc outweighs every pure-raw doc
    assert(Seq(0L, 1L).map(lw).min > Seq(2L, 3L).map(lw).max)
    // integer-nano sums: partition-order invariant
    val lw2 = Dsir.docLogWeights(corpus.repartition(5), "id", col("text"),
      ratios, m).collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(lw2 == lw)
  }

  test("fused and bucketed paths equal the two-pass reference form") {
    val twoPass = Dsir.bucketLogRatios(
        corpus.where(col("kind") === "tgt"), corpus, col("text"), m)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fused = Dsir.bucketLogRatiosWhere(
        corpus, col("kind") === "tgt", col("text"), m)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fused == twoPass)
    val b = corpus.select(col("id"), (col("kind") === "tgt").as("__t"),
        explode(Dsir.grams(col("text"))).as("g"))
      .select(col("id"), col("__t"), Dsir.bucket(col("g"), m).as("bucket"))
    val fromBuckets = Dsir.ratiosFromBuckets(b, col("__t"), m)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fromBuckets == twoPass)
    // weights over the bucketed frame equal the direct form
    val ratios = Dsir.bucketLogRatios(
      corpus.where(col("kind") === "tgt"), corpus, col("text"), m)
    val direct = Dsir.docLogWeights(corpus, "id", col("text"), ratios, m)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val viaBuckets = Dsir.weightsFromBuckets(b, "id", ratios)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(viaBuckets == direct)
  }

  test("scoring plan broadcasts the m-row ratio table") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val ratios = Dsir.bucketLogRatios(
      docs.where(col("source") === "src0"), docs, col("text"), m)
    val lw = Dsir.docLogWeights(docs, "doc_id", col("text"), ratios, m)
    val plan = lw.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"ratio join must broadcast:\n$plan")
  }
}
