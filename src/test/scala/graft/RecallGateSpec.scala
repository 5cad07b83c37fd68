package graft

import org.apache.spark.sql.functions._
import graft.similarity.Similarity

/** The per-round ANN recall@10 gate (Bench's `recall10_*_nano` keys):
  * [[Similarity.recallAtK]] plumbing exactness plus absolute per-index
  * floors at each index's GRADED config (q43/q85/q125/q159/q162) on the
  * test fixture. The oracle lanes prove the indexes are hash-exact
  * replays of themselves; this gate is what notices a config or
  * hash-family change that silently prunes true neighbors. */
class RecallGateSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Tables.load(spark, sf, "embeddings")
  private lazy val qs = emb.where($"vec_id" < 20)
  private def exact(k: Int) =
    Similarity.cosineTopK(qs, emb, "vec_id", "embedding", k)

  private def recall(approx: org.apache.spark.sql.DataFrame,
                     k: Int): (Long, Long, Long, Double) = {
    val r = Similarity.recallAtK(exact(k), approx, k).head()
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
  }

  test("recallAtK of the exact result against itself is 1.0") {
    val (nq, ne, nh, rec) = recall(exact(10), 10)
    assert(nq == 20L, s"n_queries = $nq")
    assert(ne == 200L, s"n_exact = $ne")
    assert(nh == ne && rec == 1.0, s"self-recall = $rec ($nh/$ne)")
  }

  test("recallAtK truncates both sides to rank <= k") {
    // approx carries 10 ranks but is gated at k=5: only the first 5 of
    // each side count, so a hit at approx rank 7 must NOT score.
    val e = Seq((1L, 1, 10L), (1L, 2, 11L), (1L, 3, 12L))
      .toDF("q_id", "rk", "c_id")
    val a = Seq((1L, 1, 10L), (1L, 7, 11L)).toDF("q_id", "rk", "c_id")
    val r = Similarity.recallAtK(e, a, 5).head()
    assert(r.getLong(1) == 3L && r.getLong(2) == 1L)
  }

  // Floors are set ~0.1 below the measured fixture values (exact
  // integer ratios, deterministic given fixture + config) so genuine
  // regressions trip while the gate is not a change-detector for the
  // fixture itself. Measured at sf0.001, k=10, queries vec_id < 20.
  test("LSH recall@10 floor at the q43 graded config") {
    val (_, _, _, rec) = recall(Similarity.lshTopK(qs, emb, "vec_id",
      "embedding", 10, nBits = 6, dim = 64, tables = 8), 10)
    info(s"lsh recall@10 = $rec")
    assert(rec >= 0.20, s"lsh recall@10 = $rec")
  }

  test("multi-probe LSH recall@10 floor and dominance at the q199 config") {
    val (_, _, _, base) = recall(Similarity.lshTopK(qs, emb, "vec_id",
      "embedding", 10, nBits = 6, dim = 64, tables = 8), 10)
    val (_, _, _, mp) = recall(Similarity.lshMultiProbeTopK(qs, emb,
      "vec_id", "embedding", 10, nBits = 6, dim = 64, tables = 8,
      probes = 4), 10)
    info(s"mplsh recall@10 = $mp (single-probe = $base)")
    assert(mp >= base,
      "multi-probe candidates are a superset — recall cannot drop")
    assert(mp >= 0.60, s"mplsh recall@10 = $mp")
  }

  test("IVF recall@10 floor at the q85 graded config") {
    val (_, _, _, rec) = recall(Similarity.ivfTopKSeeded(qs, emb, "vec_id",
      "embedding", 10, nCells = 16, nProbe = 4), 10)
    info(s"ivf recall@10 = $rec")
    assert(rec >= 0.40, s"ivf recall@10 = $rec")
  }

  test("SQ8 recall@10 floor (quantized brute force - near exact)") {
    val (_, _, _, rec) = recall(Similarity.sq8TopK(qs, emb, "vec_id",
      "embedding", 10), 10)
    info(s"sq8 recall@10 = $rec")
    assert(rec >= 0.90, s"sq8 recall@10 = $rec")
  }

  test("PQ-ADC recall@10 floor at the q159 graded config") {
    val (_, _, _, rec) = recall(Similarity.pqTopKSeeded(qs, emb, "vec_id",
      "embedding", 10, m = 16, nCodes = 64), 10)
    info(s"pq recall@10 = $rec")
    assert(rec >= 0.35, s"pq recall@10 = $rec")
  }

  test("PQ shortlist + exact re-rank: recall floor and dominance (q206)") {
    val (_, _, _, base) = recall(Similarity.pqTopKSeeded(qs, emb, "vec_id",
      "embedding", 10, m = 16, nCodes = 64), 10)
    val (_, _, _, rr) = recall(Similarity.rerankExact(
      Similarity.pqTopKSeeded(qs, emb, "vec_id", "embedding", 50, m = 16,
        nCodes = 64), qs, emb, "vec_id", "embedding", 10), 10)
    info(s"pq-rerank recall@10 = $rr (ADC-only = $base)")
    assert(rr >= 0.80, s"pq-rerank recall@10 = $rr")
  }

  test("IVF-PQ recall@10 floor at the q162 graded config") {
    val (_, _, _, rec) = recall(Similarity.ivfPqTopKSeeded(qs, emb,
      "vec_id", "embedding", 10, nCells = 16, nProbe = 4, m = 16,
      nCodes = 64), 10)
    info(s"ivfpq recall@10 = $rec")
    assert(rec >= 0.25, s"ivfpq recall@10 = $rec")
  }

  // Round-16 gates for the two other approximate lanes (Bench's
  // `recall1_orphan_nano` / `recall5_hardneg_nano`): recall of the
  // LSH-blocked path against its brute-force exact twin, same pair-set
  // metric as the index gates.

  test("orphan-assign recall@1 floor at the q99 graded config") {
    val orphans = emb.where($"vec_id" < 50)
    val clustered = emb.where($"vec_id" >= 50)
      .withColumn("cluster", $"vec_id" % 7)
    def top1(df: org.apache.spark.sql.DataFrame) = df.select(
      col("orphan_id").as("q_id"), lit(1).as("rk"),
      col("neighbor_id").as("c_id"))
    val exactTop1 = top1(Similarity.nearestAssign(orphans, clustered,
      "vec_id", "embedding", "cluster"))
    val r = Similarity.recallAtK(exactTop1,
      top1(Similarity.nearestAssignBlocked(orphans, clustered, "vec_id",
        "embedding", "cluster", dim = 64, nBits = 24, bands = 4)), 1)
      .head()
    val rec = r.getDouble(3)
    info(s"orphan-assign recall@1 = $rec")
    assert(r.getLong(1) === 50L, s"n_exact = ${r.getLong(1)}")
    assert(rec >= 0.12, s"orphan recall@1 = $rec")
    // q205: radius-1 probing on the orphan (bounded) side — candidate
    // superset, so top-1 agreement with the brute force cannot drop
    val recP = Similarity.recallAtK(exactTop1,
      top1(Similarity.nearestAssignBlocked(orphans, clustered, "vec_id",
        "embedding", "cluster", dim = 64, nBits = 24, bands = 4,
        bandProbe1 = true)), 1)
      .head().getDouble(3)
    info(s"orphan-assign probed recall@1 = $recP (base $rec)")
    assert(recP >= rec, "probed recall cannot drop below base")
    assert(recP >= 0.65, s"probed orphan recall@1 = $recP")
  }

  test("hard-negative recall@5 floor at the narrow-band scale config") {
    val q = emb.where($"vec_id" < 20)
    val exactHn = Similarity.hardNegatives(q, emb, "vec_id", "embedding",
      "label", 5)
    val banded = Similarity.hardNegatives(q, emb, "vec_id", "embedding",
      "label", 5, bandedDim = Some(64), nBits = 24, bands = 12)
    val rec = Similarity.recallAtK(exactHn, banded, 5).head().getDouble(3)
    info(s"hard-negative recall@5 = $rec")
    assert(rec >= 0.85, s"hardneg recall@5 = $rec")
  }

  test("euclidean eps-pair recall floor at the q96 graded config") {
    // exact twin mirrors the lane's |a-b|² expression term-for-term
    val eps = 1.1
    val e = emb.select($"vec_id", $"embedding")
      .withColumn("__n2",
        Similarity.dotFast($"embedding", $"embedding"))
    val ea = e.select($"vec_id".as("id_a"), $"embedding".as("__ea"),
      $"__n2".as("__na2"))
    val eb = e.select($"vec_id".as("id_b"), $"embedding".as("__eb"),
      $"__n2".as("__nb2"))
    val exactPairs = ea.where($"id_a" < 20).crossJoin(eb)
      .where($"id_a" < $"id_b")
      .withColumn("__d2",
        $"__na2" - lit(2.0) * Similarity.dotFast($"__ea", $"__eb")
          + $"__nb2")
      .where($"__d2" <= eps * eps)
      .select($"id_a".as("q_id"), lit(1).as("rk"), $"id_b".as("c_id"))
    val approx = Similarity.euclideanNearPairs(emb, "vec_id", "embedding",
        dim = 64, eps = eps, w = 2.0, tables = 8)
      .where($"id_a" < 20)
      .select($"id_a".as("q_id"), lit(1).as("rk"), $"id_b".as("c_id"))
    val r = Similarity.recallAtK(exactPairs, approx, 1).head()
    val rec = r.getDouble(3)
    info(s"euclidean eps-pair recall = $rec (n_exact = ${r.getLong(1)})")
    assert(r.getLong(1) > 0L, "twin produced no exact pairs")
    assert(rec >= 0.85, s"euclidean recall = $rec")
  }

  test("retrieval-quality floors at the q200 graded config (mrr/p10/r10 nanos)") {
    // the Bench-recorded mrr_nano/p10_nano/r10_nano aggregate (sum of the
    // per-query exact-integer metrics, floor-divided by the query count)
    // on the test fixture — a BM25-scoring or relevance-rule regression
    // that the oracle replay cannot see (both sides drift together only
    // through a graded-config change) must trip these absolute floors
    val docs = Tables.load(spark, sf, "documents")
    val m = graft.text.TextAnalysis.retrievalEval(docs, "doc_id", "text",
        graft.lanes.TextLanes.q200Queries, k = 50, cutoff = 10)
      .agg(sum("rr_nano"), sum("p_nano"), sum("r_nano"), count(lit(1)))
      .head
    val n = m.getLong(3)
    val (mrr, p10, r10) = (m.getLong(0) / n, m.getLong(1) / n,
      m.getLong(2) / n)
    info(s"mrr_nano=$mrr p10_nano=$p10 r10_nano=$r10 over $n queries")
    assert(n == graft.lanes.TextLanes.q200Queries.size.toLong)
    assert(mrr >= 300000000L, s"mrr_nano = $mrr") // MRR >= 0.3
    assert(p10 > 0L, s"p10_nano = $p10")
    assert(r10 >= 100000000L, s"r10_nano = $r10") // R@10 >= 0.1
  }

  test("semDedup dup-set recall floor at the q130 graded config") {
    // graded config incl. the round-17 data-scaled k (floor 8 governs at
    // this fixture's row count — same trace as rounds 15-16)
    def dups(bandedDim: Option[Int], probed: Boolean = false) =
      Similarity.semDedup(emb, "vec_id", "embedding", k = 8, iters = 1,
          tau = 0.4, bandedDim = bandedDim, bandProbe1 = probed,
          targetClusterRows = 250)
        .where($"is_dup")
        .select($"vec_id".as("q_id"), lit(1).as("rk"), lit(0L).as("c_id"))
    val r = Similarity.recallAtK(dups(None), dups(Some(64)), 1).head()
    val rec = r.getDouble(3)
    info(s"semDedup dup-set recall = $rec (n_exact = ${r.getLong(1)})")
    assert(rec >= 0.10, s"semdedup recall = $rec")
    // q202: radius-1 band probing — candidate superset, so the dup set can
    // only grow toward the exact twin's, never past it
    val base = dups(Some(64)).select("q_id").as[Long].collect().toSet
    val probed = dups(Some(64), probed = true)
      .select("q_id").as[Long].collect().toSet
    val exact = dups(None).select("q_id").as[Long].collect().toSet
    assert(base.subsetOf(probed), "probing dropped a base dup")
    assert(probed.subsetOf(exact), "banded dups must stay within the exact set")
    val recP = Similarity.recallAtK(dups(None),
      dups(Some(64), probed = true), 1).head().getDouble(3)
    info(s"semDedup probed dup-set recall = $recP (base $rec)")
    assert(recP >= rec, "probed recall cannot drop below base")
    assert(recP >= 0.30, s"probed semdedup recall = $recP")
  }
}
