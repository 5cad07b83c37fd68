package graft

import org.apache.spark.sql.functions._
import graft.functions.KmvSketch

class KmvSketchSpec extends SparkSpec {
  import spark.implicits._

  test("below k distinct values the sketch IS the exact count") {
    val df = (1 to 1000).map(i => (i % 7, i % 50)).toDF("g", "v")
    val got = df.groupBy($"g")
      .agg(KmvSketch($"v", 256).as("est"),
        countDistinct($"v").as("exact"))
      .as[(Int, Double, Long)].collect()
    assert(got.length == 7)
    got.foreach { case (g, est, exact) =>
      assert(est == exact.toDouble, s"group $g: $est vs $exact")
    }
  }

  test("estimate is partitioning-invariant (mergeable state)") {
    val base = (1 to 20000).map(i => ((i * 37) % 3, i)).toDF("g", "v")
    val a = base.repartition(1).groupBy($"g")
      .agg(KmvSketch($"v", 128).as("est")).as[(Int, Double)].collect().toMap
    val b = base.repartition(17, $"v").groupBy($"g")
      .agg(KmvSketch($"v", 128).as("est")).as[(Int, Double)].collect().toMap
    assert(a == b, s"partitioning changed the sketch: $a vs $b")
  }

  test("persisted sketches re-combine to exactly the single-pass estimate") {
    val li = Tables.load(spark, sf, "lineitem")
    val onePass = li.groupBy($"l_returnflag")
      .agg(KmvSketch($"l_partkey", 64).as("est"))
      .as[(String, Double)].collect().toMap
    // materialize one sketch per (flag, year) — the persistable rollup
    // shape — then merge the states without touching lineitem again
    val states = li.groupBy($"l_returnflag", year($"l_shipdate").as("yr"))
      .agg(KmvSketch.state($"l_partkey", 64).as("sk"))
      .cache()
    try {
      assert(states.count() > 7, "need multiple sketches per flag")
      val twoLevel = states.groupBy($"l_returnflag")
        .agg(KmvSketch.merged($"sk", 64).as("est"))
        .as[(String, Double)].collect().toMap
      assert(twoLevel == onePass,
        s"merge must be lossless: $twoLevel vs $onePass")
    } finally { states.unpersist() }
  }

  test("hash family is a parameter: exact regime identical, estimates close") {
    // the family is fixed to the portable 60-bit MD5 prefix: below k
    // distinct the sketch is identical to the exact count
    val small = (1 to 2000).map(i => (i % 5, i % 40)).toDF("g", "v")
    small.groupBy($"g")
      .agg(KmvSketch($"v", 256).as("est"), countDistinct($"v").as("exact"))
      .as[(Int, Double, Long)].collect()
      .foreach { case (g, est, exact) =>
        assert(est == exact.toDouble, s"group $g: $est vs $exact")
      }
    // above k: the estimate replays bit-for-bit from PortableHash.hex60
    // ((k-1)*2^60 / k-th smallest distinct hash) and is close to exact
    val k = 256
    val li = Tables.load(spark, sf, "lineitem")
    val est = li.groupBy($"l_returnflag")
      .agg(KmvSketch($"l_partkey", k).as("est"),
        countDistinct($"l_partkey").as("exact"))
      .as[(String, Double, Long)].collect()
    val hashes = li.select($"l_returnflag",
        graft.functions.PortableHash.hex60($"l_partkey").as("h"))
      .distinct().as[(String, Long)].collect()
      .groupBy(_._1).map { case (g, hs) => g -> hs.map(_._2).sorted }
    est.foreach { case (g, e, exact) =>
      val hs = hashes(g)
      if (exact >= k) {
        assert(e == (k - 1).toDouble * KmvSketch.Two60 / hs(k - 1).toDouble,
          s"$g: sketch $e is not the portable-hash replay")
        assert(math.abs(e - exact) / exact <= 0.20, s"$g: $e vs $exact")
      } else assert(e == exact.toDouble && hs.length == exact)
    }
  }

  test("estimator accuracy on the fixture: within 20% at k=256") {
    val li = Tables.load(spark, sf, "lineitem")
    val got = li.groupBy($"l_returnflag")
      .agg(KmvSketch($"l_partkey", 256).as("est"),
        countDistinct($"l_partkey").as("exact"))
      .as[(String, Double, Long)].collect()
    got.foreach { case (g, est, exact) =>
      if (exact >= 256) {
        val rel = math.abs(est - exact) / exact.toDouble
        assert(rel <= 0.20, s"flag $g: est $est vs exact $exact (rel $rel)")
      } else assert(est == exact.toDouble)
    }
  }

  test("CountMin never under-estimates; wide sketch is exact; partition-stable") {
    import graft.functions.CountMin
    // 40 skewed keys: key i appears i+1 times
    val rows = (0 until 40).flatMap(i => Seq.fill(i + 1)(s"k$i"))
    val df = rows.toDF("key")
    val keys = rows.distinct.toDF("key")
    val exact = rows.groupBy(identity).map { case (k, v) => (k, v.size.toLong) }
    def estimates(depth: Int, width: Int, parts: Int): Map[String, Long] = {
      val sk = CountMin.sketch(df.repartition(parts), "key", depth, width)
      CountMin.estimate(sk, keys, "key", depth, width)
        .as[(String, Long)].collect().toMap
    }
    // narrow sketch: collisions happen but NEVER an under-estimate
    val narrow = estimates(4, 8, 3)
    exact.foreach { case (k, n) =>
      assert(narrow(k) >= n, s"$k under-estimated: ${narrow(k)} < $n")
    }
    assert(exact.exists { case (k, n) => narrow(k) > n },
      "8-wide sketch over 40 keys should collide somewhere")
    // wide sketch: 4 independent rows over 2048 buckets -> exact here
    val wide = estimates(4, 2048, 3)
    exact.foreach { case (k, n) => assert(wide(k) == n) }
    // counters commute: partitioning can't change any estimate
    assert(estimates(4, 8, 13) == narrow)
  }
}
