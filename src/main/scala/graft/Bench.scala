package graft
import org.apache.spark.sql.SparkSession

import scala.util.control.NonFatal

/** Benchmark main. Prints ONE compact JSON line as the LAST stdout line —
  * the driver keeps only a ~2 KB tail of output, so the line must stay small
  * (rounds 1–2 emitted all 92 per-query timings on the line and the driver
  * recorded `parsed: null`). The full per-query map goes to
  * `bench_full.json` in the working directory instead.
  */
object Bench {
  // Representative spine for the compact line: scan-agg, star join,
  // temporal join, ownership scaling, rolling median, shingle jaccard,
  // ANN exact + IVF, connected components, DBSCAN, matrix completion,
  // near-dup canonicalization.
  private[graft] val headline = Seq(
    "q01_pricing_summary", "q02_region_revenue", "q09_date_merge",
    "q12_scale_by_ownership", "q19_rolling_median", "q40_ngram_jaccard",
    "q42_cosine_topk", "q45_connected_components", "q58_dbscan_clusters",
    "q61_matrix_impute", "q69_neardup_canonical", "q85_ivf_ann")

  private def jnum(v: Double): String = f"$v%.3f"

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    // Suite-context hygiene (round-11 drift: q01 cost +35% inside the
    // 162-query suite vs alone): even with the UI off, AppStatusListener
    // retains per-execution/job/stage/task state in the driver's
    // InMemoryStore — over ~170 queries × dozens of jobs each that is
    // real heap + listener-bus work. Keep only a small tail. Shuffle
    // files and broadcasts are freed by ContextCleaner only on driver
    // GC, which a 24 GB heap rarely triggers — timeOne forces a GC every
    // 16 queries, outside the timed window.
    val spark = GraftSession.tune(
      SparkSession.builder().master(s"local[$cpus]")
        .config("spark.ui.retainedJobs", "100")
        .config("spark.ui.retainedStages", "200")
        .config("spark.ui.retainedTasks", "2000")
        .config("spark.sql.ui.retainedExecutions", "20"),
      shufflePartitions = cpus
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // JIT/session warm-up on the smallest fixture so the first measured
    // query isn't charged Spark's one-time startup cost.
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case NonFatal(e) =>
      System.err.println(s"[bench] warm-up failed: ${e.getMessage}")
    }
    // Also touch every bench-dir table once (footer reads, scan codegen,
    // shuffle machinery) — otherwise the alphabetically-first queries absorb
    // the one-time costs and report 3-5× their steady-state time.
    try Tables.names.foreach { t =>
      Tables.load(spark, sfDir, t).write.format("noop").mode("overwrite").save()
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] table warm-up failed: ${e.getMessage}")
    }
    // noop sink: forces full evaluation of every column (count() alone lets
    // Catalyst prune the projections we're trying to measure).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(v => SparkEntry.select(v.split(",").map(_.trim).filter(_.nonEmpty).toSeq))
    // SPARK_GRAFT_CAPSTONES=only: skip the query suite and time ONLY the
    // three capstones (min-of-two) — the lane for one-off scale runs
    // (e.g. capstones at sf1, SCALE.md round-14) where 176 queries of
    // suite time would dwarf the measurement of interest.
    val capsOnly = sys.env.get("SPARK_GRAFT_CAPSTONES").contains("only")
    // SPARK_GRAFT_CAPSTONES=only + SPARK_GRAFT_ONLY used to measure
    // NOTHING (capsOnly emptied the suite while only.nonEmpty skipped the
    // capstones). capsOnly wins: the capstone lanes ignore
    // SPARK_GRAFT_ONLY, with a warning so the operator knows the query
    // filter was dropped.
    if (capsOnly && only.nonEmpty)
      System.err.println("[bench] WARNING: SPARK_GRAFT_CAPSTONES=only " +
        "ignores SPARK_GRAFT_ONLY — timing capstones only")
    val skipCapstones = only.nonEmpty && !capsOnly
    val selected =
      if (capsOnly) Seq.empty[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)]
      else only.getOrElse(SparkEntry.lanes).sortBy(_.name).map(l => l.name -> l.build)
    var queriesSinceGc = 0
    // None = the pass threw: its time-to-exception is not a timing
    def timeOne(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Option[Double] = {
      // the lane names its jobs in listener traces; set and cleared
      // outside the timed window
      spark.sparkContext.setJobDescription(name)
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          false
        }
      val dt = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.setJobDescription(null)
      // session hygiene OUTSIDE the timed window: drop every cache and
      // localCheckpoint block the query left behind, so each number
      // measures the query, not the session's history (round 4's driver
      // bench degraded 6× from accumulated blocks squeezing the storage
      // pool over 107 queries)
      graft.util.SessionHygiene.releaseAll(spark)
      // periodic forced GC: ContextCleaner frees shuffle files and
      // broadcasts only when the driver GCs, and a large heap can go the
      // whole suite without one — let the cleaner run while nothing is
      // being timed instead of paying GC inside a later query's window
      queriesSinceGc += 1
      if (queriesSinceGc >= 16) { queriesSinceGc = 0; System.gc() }
      if (ok) Some(dt) else None
    }
    val firstPass = selected.map { case (name, fn) => name -> timeOne(name, fn) }
    // Min-of-two, for EVERY query: this host shows per-query noise from
    // external contention at two magnitudes — rare 10-30× spikes (a query
    // measured 0.7 s in isolation has recorded 30 s mid-suite, with JVM GC
    // and storage clean) and frequent 2-3× drag on sub-2 s queries (round
    // 12's driver run showed q85 +180%, q61 +102%, q58 +68% with ZERO code
    // change in those files). Rounds 5-12 re-measured only suite-relative
    // outliers (> 8× median), which caught the spikes but let mid-size
    // noise stick: a true-0.5 s query measured at 1.5 s is indistinguishable
    // from a genuine 1.5 s query without a second sample. So the whole
    // suite now runs TWICE and each query reports the minimum — a query's
    // cost is what it achieves on a quiet host; the spike is the
    // environment's, not the query's. A third retry still fires for any
    // query whose min-of-two remains a suite-relative extreme (both passes
    // inside one long contention burst). BOTH numbers are recorded:
    // `queries` carries the final (min) time, `__first_pass` the raw
    // pass-1 measurement, so round-over-round comparisons can pick a
    // consistent basis. A failed pass never wins: lanes with no
    // successful pass go to `failed_lanes` and stay out of the median,
    // the cutoff and the totals.
    val byName = selected.toMap
    val (secondPass, failedLanes) = firstPass.map { case (name, dt1) =>
      name -> (dt1 ++ timeOne(name, byName(name))).minOption
    }.partitionMap {
      case (name, Some(dt)) => Left(name -> dt)
      case (name, None) => Right(name)
    }
    val med = {
      val s = secondPass.map(_._2).sorted
      if (s.isEmpty) 0.0 else s(s.length / 2)
    }
    val cutoff = math.max(2.5, 8.0 * med)
    val results = secondPass.map { case (name, dt) =>
      if (dt <= cutoff) name -> dt
      else {
        val best = (dt +: timeOne(name, byName(name)).toSeq).min
        System.err.println(
          f"[bench] $name outlier: $dt%.2f s min-of-two, $best%.2f s best of 3")
        name -> best
      }
    }
    // Whole-pipeline capstone: the chained harvest → allocation → mcoe →
    // plant-parts → checks lineage (Etl.buildWide), timed end-to-end
    // including the parquet writes and the validation pass — the
    // apples-to-apples number against the reference's published
    // whole-ETL wall time. Not part of the per-query suite (it
    // materializes real output), recorded as its own entry.
    def rm(f: java.io.File): Unit = {
      // listFiles returns null on IO error; an NPE here would mask
      // the capstone's original exception
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
      f.delete(); ()
    }
    // capstones report (core = lineage+write, checks = validation) apart,
    // so a growing check suite never reads as a lineage regression.
    // Min-of-two, same policy as the query suite: each capstone runs
    // TWICE (each pass in a fresh temp dir, with SessionHygiene.releaseAll
    // between, outside any timed window) and the run with the smaller
    // core+checks total is KEPT WHOLE — core and checks always come from
    // the same pass, so the split stays internally consistent. The pass-1
    // raw numbers are returned beside the kept run and recorded as
    // `*_first_pass_*` keys so round-over-round comparison has a
    // consistent basis (round 12/13 single-run capstone numbers swung
    // 2-5× on driver-host contention with zero code change).
    def timeCapstone(label: String)(
        run: String => (Double, Double, Long)): (Double, Double, Double, Double) = {
      def once(): (Double, Double) = {
        val dir = java.nio.file.Files.createTempDirectory(s"graft_$label")
        try {
          val (coreSec, checksSec, failed) = run(dir.toString)
          if (failed > 0)
            System.err.println(s"[bench] $label: $failed FAILED checks")
          (coreSec, checksSec)
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $label failed: ${e.getMessage}")
          (-1.0, 0.0)
        } finally {
          graft.util.SessionHygiene.releaseAll(spark)
          rm(dir.toFile)
        }
      }
      val (c1, k1) = once()
      val (c2, k2) = once()
      // a failed pass (core = -1) never wins over a successful one
      val keepFirst =
        if (c2 < 0) true
        else if (c1 < 0) false
        else (c1 + k1) <= (c2 + k2)
      val (c, k) = if (keepFirst) (c1, k1) else (c2, k2)
      (c, k, c1, k1)
    }
    val (capstoneCore, capstoneChecks, capstoneFpCore, capstoneFpChecks) =
      if (skipCapstones) (-1.0, 0.0, -1.0, 0.0)
      else timeCapstone("etl_capstone")(Etl.capstone(spark, sfDir, _))
    val capstoneSec =
      if (capstoneCore < 0) -1.0 else capstoneCore + capstoneChecks
    val capstoneFpSec =
      if (capstoneFpCore < 0) -1.0 else capstoneFpCore + capstoneFpChecks
    // the training-data pipeline twin: dedup → decontaminate → quality →
    // mixture → split → pack, one lineage, timed with write + checks
    val (corpusCore, corpusChecks, corpusFpCore, corpusFpChecks) =
      if (skipCapstones) (-1.0, 0.0, -1.0, 0.0)
      else timeCapstone("corpus_capstone")(Etl.corpusCapstone(spark, sfDir, _))
    val corpusSec = if (corpusCore < 0) -1.0 else corpusCore + corpusChecks
    val corpusFpSec =
      if (corpusFpCore < 0) -1.0 else corpusFpCore + corpusFpChecks
    // the record-linkage twin: name canon -> phonetic blocking -> FS
    // train -> predict -> best match, one lineage, write + checks
    val (linkCore, linkChecks, linkFpCore, linkFpChecks) =
      if (skipCapstones) (-1.0, 0.0, -1.0, 0.0)
      else timeCapstone("linkage_capstone")(
        Etl.linkageCapstone(spark, sfDir, _))
    val linkSec = if (linkCore < 0) -1.0 else linkCore + linkChecks
    val linkFpSec = if (linkFpCore < 0) -1.0 else linkFpCore + linkFpChecks
    // Per-round imputer WMAPE gate (judge r14 brief #2): the LATC/tubal
    // lanes are `no_oracle` by design (float-iterative), so their only
    // quantitative regression signal is this recorded number — the
    // reference gates its imputations the same way
    // (timeseries_cleaning.py:2189-2240 MAPE thresholds). Runs the full
    // simulate→impute→score loop (ImputationEval.latc/tubalEvalOnEvents)
    // once per bench on the bench fixture; recorded in bench_full.json as
    // wmape NANOS (exact half-cent integer scoring), not timed as a
    // query. Skipped on filtered runs (SPARK_GRAFT_ONLY / capstones-only)
    // — the gate belongs to the full per-round suite.
    def wmapeOf(eval: => org.apache.spark.sql.DataFrame): Long =
      if (skipCapstones || capsOnly) -1L
      else try {
        val (_, _, _, nano) = graft.impute.ImputationEval.overallWmape(eval)
        graft.util.SessionHygiene.releaseAll(spark)
        nano
      } catch { case e: Throwable =>
        System.err.println(s"[bench] imputer eval failed: ${e.getMessage}")
        -1L
      }
    val latcWmapeNano = wmapeOf(graft.impute.ImputationEval
      .latcEvalOnEvents(Tables.load(spark, sfDir, "events")))
    val tubalWmapeNano = wmapeOf(graft.impute.ImputationEval
      .tubalEvalOnEvents(Tables.load(spark, sfDir, "events")))
    // Structured-grid QUALITY pair (judge r15 brief #5): the divergence
    // WMAPEs above track harness regressions; imputer quality is the
    // planted rank-1 grid where LATC must beat the per-series median
    // (ImputeSpec holds the comparative gate; these record the actual
    // numbers per round so a quality drift is visible in the artifact).
    def gridNano(f: => Long): Long =
      if (skipCapstones || capsOnly) -1L
      else try { val n = f; n }
      catch { case e: Throwable =>
        System.err.println(s"[bench] grid wmape failed: ${e.getMessage}")
        -1L
      } finally graft.util.SessionHygiene.releaseAll(spark)
    val latcGridNano = gridNano(graft.impute.ImputationEval
      .latcGridWmapeNano(Tables.load(spark, sfDir, "events")))
    val medianGridNano = gridNano(graft.impute.ImputationEval
      .medianGridWmapeNano(Tables.load(spark, sfDir, "events")))
    // Per-round ANN recall@10 gate (judge r14 brief #6, the WMAPE twin
    // for the index lanes): the five ANN queries (q43/q85/q125/q159/q162)
    // are hash-exact vs an oracle that REPLAYS the same algorithm, so a
    // recall regression — a config or hash-family change that silently
    // prunes true neighbors — is invisible to the correctness gate.
    // Recorded here as Similarity.recallAtK (|approx ∩ exact| / |exact|,
    // exact integer ratio ×1e9) of each index at ITS GRADED CONFIG
    // against brute-force cosineTopK on the same bounded query set
    // (vec_id < 20, k = 10). Not timed as a query; skipped on filtered /
    // capstones-only runs like the WMAPE gate. RecallGateSpec holds the
    // absolute per-index floors on the test fixture.
    // The exact brute-force baseline is the expensive side of the gate and
    // identical for all five indexes — compute it ONCE and pin the result
    // (|queries|·k = 200 rows) as a local relation the gates reuse, instead
    // of re-running the brute force per index.
    val recallExact: Option[org.apache.spark.sql.DataFrame] =
      if (skipCapstones || capsOnly) None
      else try {
        import graft.similarity.Similarity
        import org.apache.spark.sql.functions.col
        val emb = Tables.load(spark, sfDir, "embeddings")
        val qs = emb.where(col("vec_id") < 20)
        val base = Similarity.cosineTopK(qs, emb, "vec_id", "embedding", 10)
          .select(col("q_id"), col("rk"), col("c_id"))
        val rows = base.collect()
        Some(spark.createDataFrame(
          java.util.Arrays.asList(rows: _*), base.schema))
      } catch { case e: Throwable =>
        System.err.println(
          s"[bench] recall exact baseline failed: ${e.getMessage}")
        None
      } finally graft.util.SessionHygiene.releaseAll(spark)
    def recall10Of(
        ann: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)
          => org.apache.spark.sql.DataFrame): Long =
      recallExact match {
        case None => -1L
        case Some(exact) =>
          // releaseAll in finally: a failure mid-gate must not leave cached
          // blocks alive for the rest of the benchmark run
          try {
            import graft.similarity.Similarity
            import org.apache.spark.sql.functions.col
            val emb = Tables.load(spark, sfDir, "embeddings")
            val qs = emb.where(col("vec_id") < 20)
            val row = Similarity.recallAtK(exact, ann(qs, emb), 10)
              .select((col("recall") * 1e9).cast("long")).head
            // recallAtK reports an explicit 0.0 on an empty exact side;
            // a null here is a genuinely malformed result → sentinel
            if (row.isNullAt(0)) -1L else row.getLong(0)
          } catch { case e: Throwable =>
            System.err.println(s"[bench] recall gate failed: ${e.getMessage}")
            -1L
          } finally graft.util.SessionHygiene.releaseAll(spark)
      }
    // Round-16: the same recorded-recall discipline for the two other
    // approximate lanes the judge flagged — the LSH-blocked orphan
    // assignment (q99's graded config vs the brute-force nearest) and
    // banded hard-negative mining (q154's exact twin vs the narrow-band
    // scale path). Each gate builds its own (exact, approx) pair and
    // reports the exact integer pair-set recall ×1e9.
    def recallGateOf(k: Int)(
        build: => (org.apache.spark.sql.DataFrame,
                   org.apache.spark.sql.DataFrame)): Long =
      if (skipCapstones || capsOnly) -1L
      else try {
        import graft.similarity.Similarity
        import org.apache.spark.sql.functions.col
        val (exactDf, approxDf) = build
        val row = Similarity.recallAtK(exactDf, approxDf, k)
          .select((col("recall") * 1e9).cast("long")).head
        if (row.isNullAt(0)) -1L else row.getLong(0)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] recall gate failed: ${e.getMessage}")
        -1L
      } finally graft.util.SessionHygiene.releaseAll(spark)
    import graft.similarity.Similarity
    def orphanPair(probed: Boolean) = {
      import org.apache.spark.sql.functions.{col, lit}
      val emb = Tables.load(spark, sfDir, "embeddings")
      val orphans = emb.where(col("vec_id") < 50)
      val clustered = emb.where(col("vec_id") >= 50)
        .withColumn("cluster", col("vec_id") % 7)
      def top1(df: org.apache.spark.sql.DataFrame) = df.select(
        col("orphan_id").as("q_id"), lit(1).as("rk"),
        col("neighbor_id").as("c_id"))
      (top1(Similarity.nearestAssign(orphans, clustered, "vec_id",
         "embedding", "cluster")),
       top1(Similarity.nearestAssignBlocked(orphans, clustered, "vec_id",
         "embedding", "cluster", dim = 64, nBits = 24, bands = 4,
         bandProbe1 = probed)))
    }
    val recallOrphanNano = recallGateOf(1)(orphanPair(probed = false))
    // q205's orphan-side radius-1 probing vs the same brute-force twin
    val recallOrphanProbedNano = recallGateOf(1)(orphanPair(probed = true))
    val recallHardNegNano = recallGateOf(5) {
      import org.apache.spark.sql.functions.col
      val emb = Tables.load(spark, sfDir, "embeddings")
      val q = emb.where(col("vec_id") < 20)
      (Similarity.hardNegatives(q, emb, "vec_id", "embedding", "label", 5),
       Similarity.hardNegatives(q, emb, "vec_id", "embedding", "label", 5,
         bandedDim = Some(64), nBits = 24, bands = 12))
    }
    // q96's p-stable euclidean LSH vs the exact eps-pair twin (pairs
    // touching the bounded query set; the twin mirrors the lane's exact
    // |a-b|² expression term-for-term so the boundary filter agrees).
    val recallEucNano = recallGateOf(1) {
      import org.apache.spark.sql.functions._
      val emb = Tables.load(spark, sfDir, "embeddings")
      val eps = 1.1
      val e = emb.select(col("vec_id"), col("embedding"))
        .withColumn("__n2",
          Similarity.dotFast(col("embedding"), col("embedding")))
      val ea = e.select(col("vec_id").as("id_a"),
        col("embedding").as("__ea"), col("__n2").as("__na2"))
      val eb = e.select(col("vec_id").as("id_b"),
        col("embedding").as("__eb"), col("__n2").as("__nb2"))
      val exactPairs = ea.where(col("id_a") < 20).crossJoin(eb)
        .where(col("id_a") < col("id_b"))
        .withColumn("__d2",
          col("__na2")
            - lit(2.0) * Similarity.dotFast(col("__ea"), col("__eb"))
            + col("__nb2"))
        .where(col("__d2") <= eps * eps)
        .select(col("id_a").as("q_id"), lit(1).as("rk"),
          col("id_b").as("c_id"))
      val approx = Similarity.euclideanNearPairs(emb, "vec_id",
          "embedding", dim = 64, eps = eps, w = 2.0, tables = 8)
        .where(col("id_a") < 20)
        .select(col("id_a").as("q_id"), lit(1).as("rk"),
          col("id_b").as("c_id"))
      (exactPairs, approx)
    }
    // q130's banded SemDeDup vs its exact all-pairs twin: set recall of
    // the flagged-duplicate ids (c_id pinned — recallAtK degenerates to
    // |banded ∩ exact| / |exact| over the dup sets). Both sides run the
    // GRADED config — data-scaled k (max(8, ceil(n/250)), round 17) — so
    // the recorded number tracks the production operating mode; at the
    // sf0.1 bench fixture the derived k is still 8 (2000/250), keeping
    // the gate bit-comparable with rounds 15–16.
    def semDedupDups(bandedDim: Option[Int], probed: Boolean) = {
      import org.apache.spark.sql.functions._
      val emb = Tables.load(spark, sfDir, "embeddings")
      Similarity.semDedup(emb, "vec_id", "embedding", k = 8, iters = 1,
          tau = 0.4, bandedDim = bandedDim, bandProbe1 = probed,
          targetClusterRows = 250)
        .where(col("is_dup"))
        .select(col("vec_id").as("q_id"),
          org.apache.spark.sql.functions.lit(1).as("rk"),
          org.apache.spark.sql.functions.lit(0L).as("c_id"))
    }
    val recallSemDedupNano = recallGateOf(1) {
      (semDedupDups(None, probed = false), semDedupDups(Some(64), probed = false))
    }
    // q202's radius-1 band probing vs the same exact twin: the recorded
    // answer to the 0.27 banding gap at unchanged blocked-side cost.
    val recallSemDedupProbedNano = recallGateOf(1) {
      (semDedupDups(None, probed = false), semDedupDups(Some(64), probed = true))
    }
    val recallLshNano = recall10Of((q, c) => Similarity.lshTopK(q, c,
      "vec_id", "embedding", 10, nBits = 6, dim = 64, tables = 8))
    // Multi-probe on the SAME index as the lsh gate (q199's graded config):
    // the recorded pair shows what 4 probes buy over 1 at zero index cost.
    val recallMpLshNano = recall10Of((q, c) => Similarity.lshMultiProbeTopK(
      q, c, "vec_id", "embedding", 10, nBits = 6, dim = 64, tables = 8,
      probes = 4))
    val recallIvfNano = recall10Of((q, c) => Similarity.ivfTopKSeeded(q, c,
      "vec_id", "embedding", 10, nCells = 16, nProbe = 4))
    val recallSq8Nano = recall10Of((q, c) => Similarity.sq8TopK(q, c,
      "vec_id", "embedding", 10))
    val recallPqNano = recall10Of((q, c) => Similarity.pqTopKSeeded(q, c,
      "vec_id", "embedding", 10, m = 16, nCodes = 64))
    // q206's two-stage shape: 50-candidate ADC shortlist -> exact re-rank.
    // The pair (pq vs pq_rerank) shows what the re-rank stage buys.
    val recallPqRerankNano = recall10Of((q, c) => Similarity.rerankExact(
      Similarity.pqTopKSeeded(q, c, "vec_id", "embedding", 50, m = 16,
        nCodes = 64), q, c, "vec_id", "embedding", 10))
    val recallIvfPqRerankNano = recall10Of((q, c) => Similarity.rerankExact(
      Similarity.ivfPqTopKSeeded(q, c, "vec_id", "embedding", 50,
        nCells = 16, nProbe = 4, m = 16, nCodes = 64),
      q, c, "vec_id", "embedding", 10))
    val recallIvfPqNano = recall10Of((q, c) => Similarity.ivfPqTopKSeeded(q,
      c, "vec_id", "embedding", 10, nCells = 16, nProbe = 4, m = 16,
      nCodes = 64))
    // Round-17 (judge r16 brief #6): ranking QUALITY into the recorded
    // gate family. q200's MRR/P@10/R@10 are oracle-checked per round
    // (engine ≡ replay), but a graded-config or relevance-rule change
    // that shifts the metrics themselves was invisible in the artifact —
    // these record the fleet-level numbers the way the 20 recall/WMAPE
    // gates are recorded. Exact integers end-to-end: per-query nanos
    // from retrievalEval (already integer), summed and floor-divided by
    // the query count — bit-stable across runs by construction.
    // RetrievalGate floors live in RecallGateSpec.
    val (mrrNano, p10Nano, r10Nano): (Long, Long, Long) =
      if (skipCapstones || capsOnly) (-1L, -1L, -1L)
      else try {
        import org.apache.spark.sql.functions.{count => fcount, lit => flit, sum => fsum}
        val docs = Tables.load(spark, sfDir, "documents")
        val m = graft.text.TextAnalysis.retrievalEval(docs, "doc_id",
            "text", graft.lanes.TextLanes.q200Queries, k = 50, cutoff = 10)
          .agg(fsum("rr_nano"), fsum("p_nano"), fsum("r_nano"),
            fcount(flit(1)))
          .head
        val n = m.getLong(3)
        if (n == 0L) (-1L, -1L, -1L)
        else (m.getLong(0) / n, m.getLong(1) / n, m.getLong(2) / n)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] retrieval gate failed: ${e.getMessage}")
        (-1L, -1L, -1L)
      } finally graft.util.SessionHygiene.releaseAll(spark)
    val total = results.map(_._2).sum
    val firstMap = firstPass.toMap
    val failedJson = failedLanes.map("\"" + _ + "\"").mkString("[", ",", "]")
    val fullJson = results.sortBy(-_._2)
      .map { case (k, v) =>
        "\"" + k + "\":" + jnum(v) + firstMap(k).filter(_ != v)
          .map(fp => ",\"" + k + "__first_pass\":" + jnum(fp)).getOrElse("")
      }
      .mkString(
        s"""{"metric":"total","value":${jnum(total)},"unit":"sec","n_queries":${results.size},"total_first_pass":${jnum(firstPass.flatMap(_._2).sum)},"etl_capstone_sec":${jnum(capstoneSec)},"etl_capstone_core_sec":${jnum(capstoneCore)},"etl_capstone_checks_sec":${jnum(capstoneChecks)},"etl_capstone_first_pass_sec":${jnum(capstoneFpSec)},"etl_capstone_first_pass_core_sec":${jnum(capstoneFpCore)},"etl_capstone_first_pass_checks_sec":${jnum(capstoneFpChecks)},"corpus_capstone_sec":${jnum(corpusSec)},"corpus_capstone_core_sec":${jnum(corpusCore)},"corpus_capstone_checks_sec":${jnum(corpusChecks)},"corpus_capstone_first_pass_sec":${jnum(corpusFpSec)},"corpus_capstone_first_pass_core_sec":${jnum(corpusFpCore)},"corpus_capstone_first_pass_checks_sec":${jnum(corpusFpChecks)},"linkage_capstone_sec":${jnum(linkSec)},"linkage_capstone_core_sec":${jnum(linkCore)},"linkage_capstone_checks_sec":${jnum(linkChecks)},"linkage_capstone_first_pass_sec":${jnum(linkFpSec)},"linkage_capstone_first_pass_core_sec":${jnum(linkFpCore)},"linkage_capstone_first_pass_checks_sec":${jnum(linkFpChecks)},"latc_wmape_nano":$latcWmapeNano,"tubal_wmape_nano":$tubalWmapeNano,"latc_grid_wmape_nano":$latcGridNano,"median_grid_wmape_nano":$medianGridNano,"recall10_lsh_nano":$recallLshNano,"recall10_mplsh_nano":$recallMpLshNano,"recall10_ivf_nano":$recallIvfNano,"recall10_sq8_nano":$recallSq8Nano,"recall10_pq_nano":$recallPqNano,"recall10_pq_rerank_nano":$recallPqRerankNano,"recall10_ivfpq_rerank_nano":$recallIvfPqRerankNano,"recall10_ivfpq_nano":$recallIvfPqNano,"recall1_orphan_nano":$recallOrphanNano,"recall1_orphan_probed_nano":$recallOrphanProbedNano,"recall5_hardneg_nano":$recallHardNegNano,"recall_eucpairs_nano":$recallEucNano,"recall_semdedup_nano":$recallSemDedupNano,"recall_semdedup_probed_nano":$recallSemDedupProbedNano,"mrr_nano":$mrrNano,"p10_nano":$p10Nano,"r10_nano":$r10Nano,"failed_lanes":$failedJson,"queries":{""",
        ",", s"""},"sf":"$sfDir"}""")
    try {
      val w = new java.io.PrintWriter("bench_full.json")
      try w.println(fullJson) finally w.close()
    } catch { case _: Throwable => () }
    System.err.println(fullJson) // full detail on stderr for local runs
    val resMap = results.toMap
    val qs = (headline.flatMap(k => resMap.get(k).map(v => "\"" + k + "\":" + jnum(v))) :+
        ("\"etl_capstone\":" + jnum(capstoneSec)) :+
        ("\"etl_capstone_core\":" + jnum(capstoneCore)) :+
        ("\"etl_capstone_checks\":" + jnum(capstoneChecks)) :+
        ("\"etl_capstone_first_pass\":" + jnum(capstoneFpSec)) :+
        ("\"corpus_capstone\":" + jnum(corpusSec)) :+
        ("\"corpus_capstone_core\":" + jnum(corpusCore)) :+
        ("\"corpus_capstone_checks\":" + jnum(corpusChecks)) :+
        ("\"corpus_capstone_first_pass\":" + jnum(corpusFpSec)) :+
        ("\"linkage_capstone\":" + jnum(linkSec)) :+
        ("\"linkage_capstone_core\":" + jnum(linkCore)) :+
        ("\"linkage_capstone_checks\":" + jnum(linkChecks)) :+
        ("\"linkage_capstone_first_pass\":" + jnum(linkFpSec)))
      .mkString("{", ",", "}")
    // The one parseable line, printed LAST so it lands inside the tail.
    println(s"""{"metric":"total","value":${jnum(total)},"unit":"sec","n_queries":${results.size},"queries":$qs,"sf":"$sfDir"}""")
    spark.stop()
  }
}
