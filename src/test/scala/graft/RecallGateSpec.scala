package graft

import org.apache.spark.sql.{DataFrame, Row}
import graft.lanes.{GateFixture, Gates, RecallGate, TextLanes}
import graft.similarity.Similarity

/** Floors for the per-round quality gates Bench records: the recall of
  * each approximate lane at its GRADED config (q43/q85/q125/q159/q162 and
  * the rest of [[Gates.quality]]) and q200's retrieval metrics, run from
  * the same declarations on the test fixture, plus the
  * [[Similarity.recallAtK]] plumbing. The oracle lanes prove the indexes
  * are hash-exact replays of themselves; this gate is what notices a
  * config or hash-family change that silently prunes true neighbors. */
class RecallGateSpec extends SparkSpec {
  import spark.implicits._

  private lazy val fixture = new GateFixture(spark, sf)

  // Floors on the recorded nanos (recall ×1e9) are set ~0.1 below the
  // measured fixture values (exact integer ratios, deterministic given
  // fixture + config) so genuine regressions trip while the gate is not a
  // change-detector for the fixture itself. Measured at sf0.001.
  private val floors: Map[String, Long] = Map(
    "recall10_lsh_nano" -> 200000000L,
    "recall10_mplsh_nano" -> 600000000L,
    "recall10_ivf_nano" -> 400000000L,
    "recall10_sq8_nano" -> 900000000L,
    "recall10_pq_nano" -> 350000000L,
    "recall10_pq_rerank_nano" -> 800000000L,
    "recall10_ivfpq_rerank_nano" -> 380000000L,
    "recall10_ivfpq_nano" -> 250000000L,
    "recall1_orphan_nano" -> 120000000L,
    "recall1_orphan_probed_nano" -> 650000000L,
    "recall5_hardneg_nano" -> 850000000L,
    "recall_eucpairs_nano" -> 850000000L,
    "recall_semdedup_nano" -> 100000000L,
    "recall_semdedup_probed_nano" -> 300000000L,
    "mrr_nano" -> 300000000L, // MRR >= 0.3
    "p10_nano" -> 1L,         // P@10 > 0
    "r10_nano" -> 100000000L) // R@10 >= 0.1

  private def gate(key: String): RecallGate = Gates.quality
    .collectFirst { case g: RecallGate if g.key == key => g }
    .getOrElse(fail(s"no recall gate records $key"))

  private val rows = collection.mutable.Map.empty[String, Row]

  /** The gate's (n_queries, n_exact, n_hit, recall), built once per suite. */
  private def row(key: String): Row =
    rows.getOrElseUpdate(key, gate(key).row(fixture))

  private def recall(key: String): Double = row(key).getDouble(3)

  private def assertFloor(key: String, nanos: Long): Unit =
    assert(nanos >= floors(key), s"$key = $nanos")

  private def assertFloor(key: String): Unit =
    assertFloor(key, RecallGate.nanosOf(row(key)))

  test("recallAtK of the exact result against itself is 1.0") {
    val r = Similarity.recallAtK(fixture.exactTop10, fixture.exactTop10, 10).head()
    val (nq, ne, nh, rec) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
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

  test("the floors cover exactly the recorded recall and retrieval keys") {
    // the imputer keys are floored by ImputeSpec
    val keys = Gates.quality.flatMap(_.keys)
    assert(keys.distinct == keys, s"a key is recorded twice: $keys")
    assert(floors.keySet == keys.toSet)
    assert(Gates.imputer.flatMap(_.keys).intersect(keys).isEmpty)
  }

  test("LSH recall@10 floor at the q43 graded config") {
    info(s"lsh recall@10 = ${recall("recall10_lsh_nano")}")
    assertFloor("recall10_lsh_nano")
  }

  test("multi-probe LSH recall@10 floor and dominance at the q199 config") {
    val (base, mp) = (recall("recall10_lsh_nano"), recall("recall10_mplsh_nano"))
    info(s"mplsh recall@10 = $mp (single-probe = $base)")
    assert(mp >= base,
      "multi-probe candidates are a superset — recall cannot drop")
    assertFloor("recall10_mplsh_nano")
  }

  test("IVF recall@10 floor at the q85 graded config") {
    info(s"ivf recall@10 = ${recall("recall10_ivf_nano")}")
    assertFloor("recall10_ivf_nano")
  }

  test("SQ8 recall@10 floor (quantized brute force - near exact)") {
    info(s"sq8 recall@10 = ${recall("recall10_sq8_nano")}")
    assertFloor("recall10_sq8_nano")
  }

  test("PQ-ADC recall@10 floor at the q159 graded config") {
    info(s"pq recall@10 = ${recall("recall10_pq_nano")}")
    assertFloor("recall10_pq_nano")
  }

  test("PQ shortlist + exact re-rank: recall floor and dominance (q206)") {
    info(s"pq-rerank recall@10 = ${recall("recall10_pq_rerank_nano")} " +
      s"(ADC-only = ${recall("recall10_pq_nano")})")
    assertFloor("recall10_pq_rerank_nano")
  }

  test("IVF-PQ recall@10 floor at the q162 graded config") {
    info(s"ivfpq recall@10 = ${recall("recall10_ivfpq_nano")}")
    assertFloor("recall10_ivfpq_nano")
  }

  test("IVF-PQ shortlist + exact re-rank: recall floor") {
    info(s"ivfpq-rerank recall@10 = ${recall("recall10_ivfpq_rerank_nano")} " +
      s"(ADC-only = ${recall("recall10_ivfpq_nano")})")
    assertFloor("recall10_ivfpq_rerank_nano")
  }

  // The gates for the other approximate lanes (Bench's `recall1_*`,
  // `recall5_hardneg_nano`, `recall_*`): recall of the blocked path
  // against its brute-force exact twin, same pair-set metric as the
  // index gates.

  test("orphan-assign recall@1 floor at the q99 graded config") {
    val rec = recall("recall1_orphan_nano")
    info(s"orphan-assign recall@1 = $rec")
    assert(row("recall1_orphan_nano").getLong(1) === 50L,
      s"n_exact = ${row("recall1_orphan_nano").getLong(1)}")
    assertFloor("recall1_orphan_nano")
    // q205: radius-1 probing on the orphan (bounded) side — candidate
    // superset, so top-1 agreement with the brute force cannot drop
    val recP = recall("recall1_orphan_probed_nano")
    info(s"orphan-assign probed recall@1 = $recP (base $rec)")
    assert(recP >= rec, "probed recall cannot drop below base")
    assertFloor("recall1_orphan_probed_nano")
  }

  test("hard-negative recall@5 floor at the narrow-band scale config") {
    info(s"hard-negative recall@5 = ${recall("recall5_hardneg_nano")}")
    assertFloor("recall5_hardneg_nano")
  }

  test("euclidean eps-pair recall floor at the q96 graded config") {
    val r = row("recall_eucpairs_nano")
    info(s"euclidean eps-pair recall = ${r.getDouble(3)} (n_exact = ${r.getLong(1)})")
    assert(r.getLong(1) > 0L, "twin produced no exact pairs")
    assertFloor("recall_eucpairs_nano")
  }

  test("retrieval-quality floors at the q200 graded config (mrr/p10/r10 nanos)") {
    // a BM25-scoring or relevance-rule regression that the oracle replay
    // cannot see (both sides drift together only through a graded-config
    // change) must trip these absolute floors
    val g = Gates.quality.find(_.keys.contains("mrr_nano")).get
    val recorded = g.keys.zip(g.nanos(fixture))
    val n = TextLanes.retrievalRun(fixture.table("documents")).count()
    info(recorded.map { case (k, v) => s"$k=$v" }.mkString(" ") + s" over $n queries")
    assert(n == TextLanes.q200Queries.size.toLong)
    recorded.foreach { case (k, v) => assertFloor(k, v) }
  }

  test("semDedup dup-set recall floor at the q130 graded config") {
    // graded config incl. the data-scaled k (floor 8 governs at this
    // fixture's row count)
    val rec = recall("recall_semdedup_nano")
    info(s"semDedup dup-set recall = $rec " +
      s"(n_exact = ${row("recall_semdedup_nano").getLong(1)})")
    assertFloor("recall_semdedup_nano")
    // q202: radius-1 band probing — candidate superset, so the dup set can
    // only grow toward the exact twin's, never past it
    def ids(df: DataFrame) = df.select("q_id").as[Long].collect().toSet
    val (exactDups, baseDups) = gate("recall_semdedup_nano").pair(fixture)
    val (exact, base) = (ids(exactDups), ids(baseDups))
    val probed = ids(gate("recall_semdedup_probed_nano").pair(fixture)._2)
    assert(base.subsetOf(probed), "probing dropped a base dup")
    assert(probed.subsetOf(exact), "banded dups must stay within the exact set")
    val recP = recall("recall_semdedup_probed_nano")
    info(s"semDedup probed dup-set recall = $recP (base $rec)")
    assert(recP >= rec, "probed recall cannot drop below base")
    assertFloor("recall_semdedup_probed_nano")
  }
}
