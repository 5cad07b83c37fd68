package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "3").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def frame = {
    import spark.implicits._
    Seq((1L, "a", 1.5), (2L, "b", -0.25), (3L, null, 7.0), (3L, null, 7.0),
      (4L, "d", Double.NaN)).toDF("id", "s", "x")
  }

  test("row order and partitioning do not change the digest") {
    val base = Digest.of(frame)
    assert(Digest.of(frame.orderBy(col("id").desc)) == base)
    assert(Digest.of(frame.repartition(4, col("s"))) == base)
    assert(Digest.of(frame.coalesce(1).orderBy(rand(7))) == base)
  }

  test("a changed, missing or duplicated row changes the digest") {
    val base = Digest.of(frame)
    assert(Digest.of(frame.where(col("id") =!= 2)) != base)
    assert(Digest.of(frame.union(frame.limit(1))) != base)
    assert(Digest.of(frame.withColumn("x",
      when(col("id") === 1, lit(1.25)).otherwise(col("x")))) != base)
    // a duplicate pair must not cancel out
    assert(Digest.of(frame.dropDuplicates()) != base)
  }

  test("observed digest equals the aggregated one") {
    val df = frame
    val obs = org.apache.spark.sql.Observation("d")
    val cols = Digest.columns(df)
    df.observe(obs, cols.head, cols.tail: _*)
      .write.format("noop").mode("overwrite").save()
    assert(Digest.render(df, obs.get) == Digest.of(df))
  }

  test("float columns are summed apart from the exact key hash") {
    val base = Digest.of(frame)
    val nudged = Digest.of(frame.withColumn("x", col("x") + lit(1e-12)))
    assert(nudged != base)
    assert(nudged.split('|')(1) == base.split('|')(1))
    assert(base.endsWith("|x=NaN"))
  }

  test("an empty frame has a digest") {
    assert(Digest.of(frame.limit(0)) == "0:0|0|x=null")
  }
}
