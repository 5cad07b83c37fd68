package graft

import org.apache.spark.sql.functions._
import graft.similarity.Similarity

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("dot/cosine compute correctly on known vectors") {
    val df = Seq((Array(1.0f, 2.0f), Array(3.0f, 4.0f))).toDF("a", "b")
    val d = df.select(Similarity.dot($"a", $"b")).head().getDouble(0)
    assert(d == 11.0)
    val c = df.select(Similarity.cosine($"a", $"a")).head().getDouble(0)
    assert(math.abs(c - 1.0) < 1e-12)
  }

  test("cosineTopK ranks the exact neighbor first") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.cosineTopK(emb.where($"vec_id" === 1), emb,
      "vec_id", "embedding", 2).orderBy("rk").collect()
    assert(out(0).getLong(2) == 2L && out(1).getLong(2) == 3L)
  }

  test("lshTopK achieves reasonable recall@5 vs brute force on fixtures") {
    val emb = Tables.load(spark, sf, "embeddings")
    val q = emb.where($"vec_id" < 20)
    val exact = Similarity.cosineTopK(q, emb, "vec_id", "embedding", 5)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.lshTopK(q, emb, "vec_id", "embedding", 5,
        nBits = 3, dim = 64, tables = 6)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"ANN recall@5 = $recall")
  }

  test("lshMultiProbeTopK: probes=1 IS lshTopK; recall monotone in probes") {
    val emb = Tables.load(spark, sf, "embeddings")
    val q = emb.where($"vec_id" < 20)
    // probes = 1 degrades to exactly the single-probe operator (same
    // planes, same buckets, same ranking)
    val base = Similarity.lshTopK(q, emb, "vec_id", "embedding", 5,
        nBits = 6, dim = 64, tables = 8)
      .collect().map(_.toSeq).toSet
    val mp1 = Similarity.lshMultiProbeTopK(q, emb, "vec_id", "embedding",
        5, nBits = 6, dim = 64, tables = 8, probes = 1)
      .collect().map(_.toSeq).toSet
    assert(mp1 == base, "probes=1 must equal lshTopK")
    // candidate sets grow with probes, and with identical (cosine, c_id)
    // ranking keys a true top-k member can only be displaced by another
    // true top-k member - so recall@k is monotone in probes by construction
    val exact = Similarity.cosineTopK(q, emb, "vec_id", "embedding", 5)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    def rec(probes: Int): Double = {
      val a = Similarity.lshMultiProbeTopK(q, emb, "vec_id", "embedding", 5,
          nBits = 6, dim = 64, tables = 8, probes = probes)
        .select("q_id", "c_id").as[(Long, Long)].collect().toSet
      exact.intersect(a).size.toDouble / exact.size
    }
    val r1 = rec(1); val r4 = rec(4); val r7 = rec(7)
    info(s"recall@5 probes 1/4/7 = $r1 / $r4 / $r7")
    assert(r4 >= r1 && r7 >= r4, s"recall not monotone: $r1 / $r4 / $r7")
    // radius-1 probing must buy real recall on the fixture, not just tie
    assert(r7 > r1, "full radius-1 probing bought no recall on the fixture")
    intercept[IllegalArgumentException] {
      Similarity.lshMultiProbeTopK(q, emb, "vec_id", "embedding", 5,
        nBits = 6, dim = 64, tables = 8, probes = 8)
    }
  }

  test("pqTopKSeeded and IVF-PQ keep recall vs exact euclidean; encode deterministic") {
    // sf0.01: at sf0.001 the corpus is 50 near-uniform vectors whose
    // neighbor gaps sit inside PQ's quantization distortion; the graded
    // scales have real cluster structure
    val emb = Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    val q = emb.where($"vec_id" < 20)
    // exact euclidean top-5 (PQ approximates squared euclidean distance)
    val exact = q.select($"vec_id".as("q_id"), $"embedding".as("__q"))
      .crossJoin(emb.select($"vec_id".as("c_id"), $"embedding".as("__c")))
      .where($"q_id" =!= $"c_id")
      .withColumn("d2",
        aggregate(zip_with($"__q", $"__c",
          (x, y) => (x.cast("double") - y.cast("double")) *
            (x.cast("double") - y.cast("double"))), lit(0.0), _ + _))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"q_id")
          .orderBy($"d2".asc, $"c_id".asc)))
      .where($"rk" <= 5)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    // seed codebooks (no Lloyd refinement) trade recall for engine
    // portability — the q85 routing pattern
    val seeded = Similarity.pqTopKSeeded(q, emb, "vec_id", "embedding",
        k = 5, m = 16, nCodes = 64)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val recallSeeded = exact.intersect(seeded).size.toDouble / exact.size
    assert(recallSeeded >= 0.3, s"seeded PQ recall@5 = $recallSeeded")
    // saturated seed codebook (every corpus row is a codeword) makes ADC
    // exact: recall must be 1.0 — pins the ADC algebra itself
    val saturated = Similarity.pqTopKSeeded(q, emb, "vec_id", "embedding",
        k = 5, m = 8, nCodes = 500)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    assert(exact.intersect(saturated).size == exact.size,
      "saturated-codebook ADC must equal exact euclidean ranking")
    // IVF-PQ composition: cell pruning stacks its recall loss on PQ's;
    // still must beat random (100/499 ≈ 0.2 would be chance-level work)
    val ivfpq = Similarity.ivfPqTopKSeeded(q, emb, "vec_id", "embedding",
        k = 5, nCells = 16, nProbe = 4, m = 16, nCodes = 64)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val recallIvfPq = exact.intersect(ivfpq).size.toDouble / exact.size
    assert(recallIvfPq >= 0.25, s"IVF-PQ recall@5 = $recallIvfPq")
    // codes are a pure per-row function: invariant under repartition
    val cbs = (0 until 8).map(mi => (0 until 4).map(j =>
      Array.tabulate(8)(d => (mi + j + d).toFloat / 10f)))
    val one = Similarity.pqEncode(emb, "embedding", cbs)
      .select($"vec_id", $"codes").as[(Long, Seq[Int])].collect().toMap
    val two = Similarity.pqEncode(emb.repartition(7), "embedding", cbs)
      .select($"vec_id", $"codes").as[(Long, Seq[Int])].collect().toMap
    assert(one == two && one.values.forall(_.length == 8))
  }

  test("sq8 quantization: codes bounded, round-trip error bounded, high recall") {
    val emb = Tables.load(spark, sf, "embeddings")
    val stats = Similarity.sq8Stats(emb, "embedding")
    val coded = Similarity.sq8Quantize(emb, "vec_id", "embedding", stats)
    // every code is an int8 bucket
    assert(coded.where(exists(col("code"),
      c => c < 0 || c > 255)).count() == 0)
    // dequantization error per dim is at most half a bucket width
    val bad = coded.withColumn("__err",
      expr("""aggregate(sequence(1, size(embedding)), cast(0.0 as double), (acc, i) ->
        greatest(acc, abs(cast(element_at(embedding, i) as double)
          - (element_at(__mns, i) + element_at(code, i)
             * (element_at(__mxs, i) - element_at(__mns, i)) / 255.0))
          - (element_at(__mxs, i) - element_at(__mns, i)) / 510.0))"""))
      .where(col("__err") > 1e-9)
    assert(bad.count() == 0, "per-dim error must be <= half a bucket")
    // compressed ranking stays close to the exact one
    val q = emb.where($"vec_id" < 20)
    val exact = Similarity.cosineTopK(q, emb, "vec_id", "embedding", 5)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val sq8 = Similarity.sq8TopK(q, emb, "vec_id", "embedding", 5)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(sq8).size.toDouble / exact.size
    assert(recall >= 0.8, s"SQ8 recall@5 = $recall")
  }

  test("zero-norm embeddings rank last (cosine NaN guarded to -1)") {
    val orphans = Seq((10L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val clustered = Seq(
      (1L, Array(0.0f, 0.0f), 100L), // zero norm: cosine would be NaN
      (2L, Array(0.9f, 0.1f), 200L)
    ).toDF("vec_id", "embedding", "cluster")
    val out = Similarity.nearestAssign(orphans, clustered,
      "vec_id", "embedding", "cluster").collect()
    // Unguarded, NaN sorts first under desc and id 1 wins; guarded, the
    // real neighbor (id 2) wins and the NaN pair scores -1.
    assert(out.length == 1 && out(0).getLong(1) == 2L)
    val top1 = Similarity.cosineTopK(
      orphans, orphans.unionByName(clustered.drop("cluster")),
      "vec_id", "embedding", 1).collect()
    assert(top1(0).getLong(2) == 2L)
  }

  test("nearestAssignBlocked matches brute force with 1-bit bands") {
    val emb = Tables.load(spark, sf, "embeddings")
    val orphans = emb.where($"vec_id" < 15)
    val clustered = emb.where($"vec_id" >= 15 && $"vec_id" < 200)
      .withColumn("cluster", $"vec_id" % 7)
    val exact = Similarity.nearestAssign(orphans, clustered,
        "vec_id", "embedding", "cluster")
      .select("orphan_id", "neighbor_id").as[(Long, Long)].collect().toMap
    // 1-bit bands (bands = nBits): any pair agreeing on >=1 of 12 sign bits
    // is a candidate -- near-full recall while staying an equi-join.
    val blocked = Similarity.nearestAssignBlocked(orphans, clustered,
        "vec_id", "embedding", "cluster", dim = 64, nBits = 12, bands = 12)
      .select("orphan_id", "neighbor_id").as[(Long, Long)].collect().toMap
    assert(blocked == exact, s"blocked=$blocked exact=$exact")
  }

  test("ivfTopKSeeded (portable quantizer) keeps reasonable recall@5") {
    val emb = Tables.load(spark, sf, "embeddings")
    val q = emb.where($"vec_id" < 20)
    val exact = Similarity.cosineTopK(q, emb, "vec_id", "embedding", 5)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.ivfTopKSeeded(q, emb, "vec_id", "embedding", 5,
        nCells = 8, nProbe = 4)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"seeded IVF recall@5 = $recall")
  }

  test("hardNegatives: different-label only; banded path keeps recall") {
    val emb = Tables.load(spark, sf, "embeddings")
    val q = emb.where($"vec_id" < 20)
    val exact = Similarity.hardNegatives(q, emb, "vec_id", "embedding",
      "label", 5)
    val rows = exact.collect()
    assert(rows.length == 20 * 5)
    assert(rows.forall(r => r.getAs[Int]("q_label") != r.getAs[Int]("c_label")))
    // banded candidates are a subset; recall@5 of the exact negatives
    val ex = rows.map(r => (r.getLong(0), r.getLong(3))).toSet
    // hard negatives are MODERATELY similar, so narrow 2-bit bands
    // (bands=12 over 24 bits) — the 6-bit near-dup blocking is tuned for
    // cosine ~0.9 pairs and misses the 0.3-0.6 band this op mines
    val banded = Similarity.hardNegatives(q, emb, "vec_id", "embedding",
        "label", 5, bandedDim = Some(64), nBits = 24, bands = 12)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val recall = ex.intersect(banded).size.toDouble / ex.size
    assert(recall >= 0.5, s"banded hard-negative recall@5 = $recall")
  }

  test("pooledCentroids: exact quantized means, bit-stable under repartition") {
    val emb = Seq(
      (0, Array(1.0f, 2.0f, 3.0f)),
      (0, Array(2.0f, 3.0f, 4.0f)),
      (0, Array(0.5f, -1.0f, 0.0f)),
      (1, Array(-1.25f, 0.0f, 8.0f)),
      (1, Array(1.25f, 0.0f, -8.0f))).toDF("label", "embedding")
    val out = Similarity.pooledCentroids(emb, "label", "embedding")
      .orderBy("label")
      .select("label", "n_members", "centroid")
      .as[(Int, Long, Seq[Double])].collect()
    // driver twin: exact integer sums, two IEEE divisions in fixed order
    def mean(vs: Seq[Double]): Double =
      (vs.map(v => math.round(v * 1000000.0)).sum.toDouble / vs.length) /
        1000000
    assert(out(0) == ((0, 3L, Seq(mean(Seq(1.0, 2.0, 0.5)),
      mean(Seq(2.0, 3.0, -1.0)), mean(Seq(3.0, 4.0, 0.0))))))
    assert(out(1) == ((1, 2L, Seq(0.0, 0.0, 0.0))))
    // partition-order invariance is the operator's whole point: the
    // integer sums commute, so 13-way repartition is BIT-identical
    val out13 = Similarity.pooledCentroids(emb.repartition(13), "label",
        "embedding")
      .orderBy("label").select("label", "n_members", "centroid")
      .as[(Int, Long, Seq[Double])].collect()
    assert(out13.toSeq == out.toSeq)
  }
}
