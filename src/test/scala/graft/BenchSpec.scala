package graft

import com.fasterxml.jackson.databind.ObjectMapper
import scala.jdk.CollectionConverters._

import graft.lanes.{GateFixture, Gates, NanoGate}

/** Bench's output contract (the key sequences of `bench_full.json` and of
  * the compact last line) and its gate runner's failure handling. */
class BenchSpec extends SparkSpec {

  private def keysOf(json: String, path: String*): Seq[String] =
    path.foldLeft(new ObjectMapper().readTree(json))(_.get(_))
      .fieldNames().asScala.toSeq

  private val capstoneLabels = Seq("etl_capstone", "corpus_capstone", "linkage_capstone")

  private val gateKeys = Seq(
    "latc_wmape_nano", "tubal_wmape_nano", "latc_grid_wmape_nano",
    "median_grid_wmape_nano", "recall10_lsh_nano", "recall10_mplsh_nano",
    "recall10_ivf_nano", "recall10_sq8_nano", "recall10_pq_nano",
    "recall10_pq_rerank_nano", "recall10_ivfpq_rerank_nano",
    "recall10_ivfpq_nano", "recall1_orphan_nano",
    "recall1_orphan_probed_nano", "recall5_hardneg_nano",
    "recall_eucpairs_nano", "recall_semdedup_nano",
    "recall_semdedup_probed_nano", "mrr_nano", "p10_nano", "r10_nano")

  test("both Bench outputs keep their key sequences") {
    assert(Gates.all.flatMap(_.keys) == gateKeys)
    val results = (Bench.headline :+ "q99_not_headline").zipWithIndex
      .map { case (q, i) => q -> (1.0 + i) }
    val firstPass = results.map { case (q, t) => q -> Some(t + 0.5) } :+
      ("q98_failed" -> None)
    val (full, compact) = Bench.render("/fixture", results, firstPass,
      capstoneLabels.map(_ -> Bench.CapstoneTimes(1.0, 2.0, 3.0, 4.0)),
      gateKeys.map(_ -> 7L), Seq("q98_failed"))
    val fullHeader = keysOf(full).takeWhile(_ != "queries")
    assert(fullHeader ==
      Seq("metric", "value", "unit", "n_queries", "total_first_pass") ++
        capstoneLabels.flatMap(l => Seq("_sec", "_core_sec", "_checks_sec",
          "_first_pass_sec", "_first_pass_core_sec", "_first_pass_checks_sec")
          .map(l + _)) ++
        gateKeys :+ "failed_lanes")
    assert(fullHeader.size == 45)
    assert(keysOf(full).drop(fullHeader.size) == Seq("queries", "sf"))
    // every query, slowest first, each with its differing first pass
    assert(keysOf(full, "queries") ==
      results.reverse.flatMap { case (q, _) => Seq(q, q + "__first_pass") })
    assert(keysOf(compact) == Seq("metric", "value", "unit", "n_queries", "queries", "sf"))
    assert(keysOf(compact, "queries") == Bench.headline ++
      capstoneLabels.flatMap(l => Seq("", "_core", "_checks", "_first_pass").map(l + _)))
    assert(keysOf(compact, "queries").size == 24)
  }

  test("a gate that throws records -1 and leaves no persisted blocks") {
    graft.util.SessionHygiene.releaseAll(spark)
    val leaky = NanoGate(Seq("leaky_a", "leaky_b"), { f =>
      f.spark.range(100).localCheckpoint().count()
      assert(f.spark.sparkContext.getPersistentRDDs.nonEmpty)
      throw new IllegalStateException("gate failed mid-run")
    })
    val ok = NanoGate(Seq("ok"), _ => Seq(7L))
    val recorded = Bench.runGates(Seq(leaky, ok), new GateFixture(spark, sf))
    assert(recorded == Seq("leaky_a" -> -1L, "leaky_b" -> -1L, "ok" -> 7L))
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }
}
