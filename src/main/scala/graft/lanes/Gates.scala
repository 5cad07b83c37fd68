package graft
package lanes

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.impute.ImputationEval
import graft.similarity.Similarity

/** What gates read from one fixture directory. The exact cosine top-10 of
  * the bounded query set (vec_id < 20) is the expensive side of every
  * recall@10 gate and the same for all of them: it is collected once, on
  * first use, and pinned as a local relation (|queries|·k = 200 rows). */
final class GateFixture(val spark: SparkSession, val dir: String) {
  def table(name: String): DataFrame = Tables.load(spark, dir, name)
  lazy val embeddings: DataFrame = table("embeddings")
  lazy val queries: DataFrame = embeddings.where(col("vec_id") < 20)
  lazy val exactTop10: DataFrame = {
    val base = Similarity.cosineTopK(queries, embeddings, "vec_id",
      "embedding", 10).select(col("q_id"), col("rk"), col("c_id"))
    spark.createDataFrame(java.util.Arrays.asList(base.collect(): _*),
      base.schema)
  }
}

/** One recorded quality gate: the Bench keys it fills, in order, and one
  * exact integer per key (a ratio ×1e9, "nanos"), so identical code and
  * fixture give identical numbers. */
sealed trait Gate {
  def keys: Seq[String]
  def nanos(f: GateFixture): Seq[Long]
}

final case class NanoGate(keys: Seq[String], run: GateFixture => Seq[Long])
    extends Gate {
  def nanos(f: GateFixture): Seq[Long] = run(f)
}

/** Pair-set recall at k ([[Similarity.recallAtK]]) of an approximate
  * operator against its exact twin, built by `pair` as (exact, approx). */
final case class RecallGate(key: String, k: Int,
                            pair: GateFixture => (DataFrame, DataFrame))
    extends Gate {
  def keys: Seq[String] = Seq(key)

  /** (n_queries, n_exact, n_hit, recall). */
  def row(f: GateFixture): Row = {
    val (exact, approx) = pair(f)
    Similarity.recallAtK(exact, approx, k).head()
  }

  def nanos(f: GateFixture): Seq[Long] = Seq(RecallGate.nanosOf(row(f)))
}

object RecallGate {
  /** recall ×1e9, truncated; recallAtK reports 0.0 on an empty exact side,
    * so a null recall is a malformed result and records -1. */
  def nanosOf(r: Row): Long = if (r.isNullAt(3)) -1L else (r.getDouble(3) * 1e9).toLong
}

/** The quality gates Bench records on every full run and the tests floor,
  * in Bench's key order. Each graded lane and its gate call one builder in
  * the lane's family file. The imputer floors live in ImputeSpec, the
  * recall and retrieval floors in RecallGateSpec. */
object Gates {
  import AnnLanes._

  /** The LATC/tubal WMAPEs on the simulated null runs of the events
    * fixture, then the planted rank-1 grid where LATC must beat the
    * per-series median. */
  val imputer: Seq[Gate] = Seq(
    NanoGate(Seq("latc_wmape_nano"), f => Seq(ImputationEval.overallWmape(
      ImputationEval.latcEvalOnEvents(f.table("events")))._4)),
    NanoGate(Seq("tubal_wmape_nano"), f => Seq(ImputationEval.overallWmape(
      ImputationEval.tubalEvalOnEvents(f.table("events")))._4)),
    NanoGate(Seq("latc_grid_wmape_nano"),
      f => Seq(ImputationEval.latcGridWmapeNano(f.table("events")))),
    NanoGate(Seq("median_grid_wmape_nano"),
      f => Seq(ImputationEval.medianGridWmapeNano(f.table("events")))))

  private def top10(key: String)(index: (DataFrame, DataFrame, Int) => DataFrame) =
    RecallGate(key, 10, f => (f.exactTop10, index(f.queries, f.embeddings, 10)))

  /** Top-1 of the blocked orphan assignment against the brute-force nearest. */
  private def orphanPair(probed: Boolean)(f: GateFixture) = {
    val (orphans, clustered) = orphanSplit(f.embeddings)
    def top1(df: DataFrame) = df.select(col("orphan_id").as("q_id"),
      lit(1).as("rk"), col("neighbor_id").as("c_id"))
    (top1(Similarity.nearestAssign(orphans, clustered, "vec_id", "embedding",
       "cluster")),
     top1(orphanAssignLsh(f.embeddings, probed)))
  }

  /** The eps-pairs touching the bounded query set; the exact twin mirrors
    * q96's |a-b|² expression term for term, so the boundary filter agrees. */
  private def euclideanPair(f: GateFixture) = {
    val eps = euclideanEps
    val e = f.embeddings.select(col("vec_id"), col("embedding"))
      .withColumn("__n2", Similarity.dotFast(col("embedding"), col("embedding")))
    val ea = e.select(col("vec_id").as("id_a"), col("embedding").as("__ea"),
      col("__n2").as("__na2"))
    val eb = e.select(col("vec_id").as("id_b"), col("embedding").as("__eb"),
      col("__n2").as("__nb2"))
    def pairs(df: DataFrame) =
      df.select(col("id_a").as("q_id"), lit(1).as("rk"), col("id_b").as("c_id"))
    (pairs(ea.where(col("id_a") < 20).crossJoin(eb)
       .where(col("id_a") < col("id_b"))
       .withColumn("__d2", col("__na2")
         - lit(2.0) * Similarity.dotFast(col("__ea"), col("__eb")) + col("__nb2"))
       .where(col("__d2") <= eps * eps)),
     pairs(euclideanPairs(f.embeddings).where(col("id_a") < 20)))
  }

  /** The flagged-duplicate ids with c_id pinned, so recall@1 is
    * |banded ∩ exact| / |exact| over the dup sets. */
  private def semDedupDups(f: GateFixture, bandedDim: Option[Int],
                           probed: Boolean) =
    semDedupRun(f.embeddings, bandedDim, probed).where(col("is_dup"))
      .select(col("vec_id").as("q_id"), lit(1).as("rk"), lit(0L).as("c_id"))

  private def semDedupPair(probed: Boolean)(f: GateFixture) =
    (semDedupDups(f, None, probed = false), semDedupDups(f, Some(64), probed))

  val quality: Seq[Gate] = Seq(
    top10("recall10_lsh_nano")(lshIndex),                    // q43
    top10("recall10_mplsh_nano")(multiProbeLshIndex),        // q199
    top10("recall10_ivf_nano")(ivfIndex),                    // q85
    top10("recall10_sq8_nano")(sq8Index),                    // q125
    top10("recall10_pq_nano")(pqIndex),                      // q159
    top10("recall10_pq_rerank_nano")(reranked(pqIndex)),     // q206
    top10("recall10_ivfpq_rerank_nano")(reranked(ivfPqIndex)),
    top10("recall10_ivfpq_nano")(ivfPqIndex),                // q162
    RecallGate("recall1_orphan_nano", 1, orphanPair(probed = false)), // q99
    RecallGate("recall1_orphan_probed_nano", 1, orphanPair(probed = true)), // q205
    // q154's banded scale path (narrow bands) against its exact twin
    RecallGate("recall5_hardneg_nano", 5, { f =>
      def hn(banded: Option[Int]) = Similarity.hardNegatives(f.queries,
        f.embeddings, "vec_id", "embedding", "label", 5, bandedDim = banded,
        nBits = 24, bands = 12)
      (hn(None), hn(Some(64)))
    }),
    RecallGate("recall_eucpairs_nano", 1, euclideanPair),     // q96
    RecallGate("recall_semdedup_nano", 1, semDedupPair(probed = false)), // q130
    RecallGate("recall_semdedup_probed_nano", 1, semDedupPair(probed = true)), // q202
    // q200's MRR, P@10 and R@10: the per-query nanos summed and
    // floor-divided by the query count
    NanoGate(Seq("mrr_nano", "p10_nano", "r10_nano"), { f =>
      val m = TextLanes.retrievalRun(f.table("documents"))
        .agg(sum("rr_nano"), sum("p_nano"), sum("r_nano"), count(lit(1))).head()
      val n = m.getLong(3)
      if (n == 0L) Seq(-1L, -1L, -1L)
      else Seq(m.getLong(0) / n, m.getLong(1) / n, m.getLong(2) / n)
    }))

  val all: Seq[Gate] = imputer ++ quality
}
