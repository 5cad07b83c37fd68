package graft
import org.apache.spark.sql.SparkSession

import graft.lanes.{Gate, GateFixture, Gates}

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

  private val capstones: Seq[(String, (SparkSession, String, String) => (Double, Double, Long))] =
    Seq("etl_capstone" -> Etl.capstone _, "corpus_capstone" -> Etl.corpusCapstone _,
      "linkage_capstone" -> Etl.linkageCapstone _)

  /** A capstone's kept pass and its first pass, each (core, checks)
    * seconds; a core of -1 marks a failed or skipped pass. */
  private[graft] final case class CapstoneTimes(core: Double, checks: Double,
                                               firstCore: Double, firstChecks: Double) {
    private def total(c: Double, k: Double) = if (c < 0) -1.0 else c + k

    /** (key suffix, seconds, also on the compact line), in output order. */
    def keyed: Seq[(String, Double, Boolean)] = Seq(
      ("", total(core, checks), true), ("_core", core, true),
      ("_checks", checks, true), ("_first_pass", total(firstCore, firstChecks), true),
      ("_first_pass_core", firstCore, false), ("_first_pass_checks", firstChecks, false))
  }

  /** Each gate's keys and nanos, in order. A gate that throws records -1
    * for each of its keys, and every gate's cached and checkpointed blocks
    * are released whether it passed or threw. */
  private[graft] def runGates(gates: Seq[Gate], f: GateFixture): Seq[(String, Long)] =
    gates.flatMap { g =>
      val nanos =
        try {
          val v = g.nanos(f)
          require(v.size == g.keys.size, s"${v.size} values for ${g.keys.size} keys")
          v
        } catch { case e: Throwable =>
          System.err.println(s"[bench] gate ${g.keys.mkString(",")} failed: ${e.getMessage}")
          g.keys.map(_ => -1L)
        } finally graft.util.SessionHygiene.releaseAll(f.spark)
      g.keys.zip(nanos)
    }

  /** (bench_full.json, the compact last line). Both share the header; the
    * full file adds every capstone key (`<label><suffix>_sec`), the gates,
    * the failed lanes and every query with its differing first pass,
    * slowest first; the compact line carries only the headline queries and
    * the first four keys of each capstone (`<label><suffix>`). */
  private[graft] def render(sfDir: String, results: Seq[(String, Double)],
                            firstPass: Seq[(String, Option[Double])],
                            capstoneTimes: Seq[(String, CapstoneTimes)],
                            gates: Seq[(String, Long)],
                            failedLanes: Seq[String]): (String, String) = {
    def str(v: String) = "\"" + v + "\""
    def obj(kvs: Seq[(String, String)]) =
      kvs.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
    val head = Seq("metric" -> str("total"), "value" -> jnum(results.map(_._2).sum),
      "unit" -> str("sec"), "n_queries" -> results.size.toString)
    val caps = capstoneTimes.flatMap { case (label, t) =>
      t.keyed.map { case (suffix, v, compact) => (label + suffix, v, compact) }
    }
    val firstMap = firstPass.toMap
    val queries = results.sortBy(-_._2).flatMap { case (k, v) =>
      (k -> jnum(v)) +: firstMap(k).filter(_ != v).map(fp => s"${k}__first_pass" -> jnum(fp)).toSeq
    }
    val full = obj(head ++
      Seq("total_first_pass" -> jnum(firstPass.flatMap(_._2).sum)) ++
      caps.map { case (k, v, _) => s"${k}_sec" -> jnum(v) } ++
      gates.map { case (k, v) => k -> v.toString } ++
      Seq("failed_lanes" -> failedLanes.map(str).mkString("[", ",", "]"),
        "queries" -> obj(queries), "sf" -> str(sfDir)))
    val resMap = results.toMap
    val compact = obj(head ++ Seq(
      "queries" -> obj(headline.flatMap(k => resMap.get(k).map(v => k -> jnum(v))) ++
        caps.collect { case (k, v, true) => k -> jnum(v) }),
      "sf" -> str(sfDir)))
    (full, compact)
  }

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
    // Capstones: each chained lineage (Etl.capstone: harvest → allocation →
    // mcoe → plant-parts → checks; its training-data twin
    // Etl.corpusCapstone; its record-linkage twin Etl.linkageCapstone),
    // timed end-to-end including the parquet writes and the validation
    // pass — the apples-to-apples number against the reference's published
    // whole-ETL wall time. Not part of the per-query suite (they
    // materialize real output), recorded as their own entries.
    // Core (lineage+write) and checks (validation) are reported apart, so
    // a growing check suite never reads as a lineage regression.
    // Min-of-two, same policy as the query suite: each capstone runs
    // TWICE (each pass in a fresh temp dir, with SessionHygiene.releaseAll
    // between, outside any timed window) and the run with the smaller
    // core+checks total is KEPT WHOLE — core and checks always come from
    // the same pass, so the split stays internally consistent. The pass-1
    // raw numbers are kept beside the kept run and recorded as
    // `*_first_pass_*` keys so round-over-round comparison has a
    // consistent basis (round 12/13 single-run capstone numbers swung
    // 2-5× on driver-host contention with zero code change).
    def timeCapstone(label: String)(
        run: String => (Double, Double, Long)): CapstoneTimes = {
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
          Verify.rmTree(dir.toFile)
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
      CapstoneTimes(c, k, c1, k1)
    }
    val capstoneTimes = capstones.map { case (label, run) =>
      label -> (if (skipCapstones) CapstoneTimes(-1.0, 0.0, -1.0, 0.0)
                else timeCapstone(label)(run(spark, sfDir, _)))
    }
    // Per-round quality gates (lanes.Gates, one declaration each): the
    // imputer WMAPEs, the recall of every approximate lane at its graded
    // config against its exact twin, and q200's retrieval metrics. Those
    // lanes are either `no_oracle` by design or hash-exact vs an oracle
    // that REPLAYS the same algorithm, so a quality regression — a config
    // or hash-family change that silently prunes true neighbors — is
    // invisible to the correctness gate; these recorded numbers are its
    // signal (the reference gates its imputations the same way,
    // timeseries_cleaning.py:2189-2240). Exact integer nanos, not timed as
    // queries. Skipped on filtered runs (SPARK_GRAFT_ONLY / capstones-only)
    // — the gates belong to the full per-round suite.
    val gateValues =
      if (skipCapstones || capsOnly) Gates.all.flatMap(_.keys.map(_ -> -1L))
      else runGates(Gates.all, new GateFixture(spark, sfDir))
    val (fullJson, compactLine) =
      render(sfDir, results, firstPass, capstoneTimes, gateValues, failedLanes)
    try {
      val w = new java.io.PrintWriter("bench_full.json")
      try w.println(fullJson) finally w.close()
    } catch { case _: Throwable => () }
    System.err.println(fullJson) // full detail on stderr for local runs
    // The one parseable line, printed LAST so it lands inside the tail.
    println(compactLine)
    spark.stop()
  }
}
