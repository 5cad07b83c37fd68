package graft.linkage

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** One splink-style comparison: an ordered ladder of agreement levels over
  * a candidate-pair frame.
  *
  * `level` is an integer column over the joined pair frame — HIGHER means
  * stronger agreement, `1` is the catch-all else-level, and NULL is the
  * splink null level: the pair contributes Bayes factor 1 (weight 0) for
  * this comparison and is EXCLUDED from m/u estimation entirely.
  */
final case class Comparison(name: String, level: Column, nLevels: Int) {
  require(nLevels >= 2, "a comparison needs at least two levels")
  require(name != "__prior" && name != "__lam",
    s"comparison name $name is reserved for FellegiSunter's sentinel rows")
}

/** Fellegi–Sunter record linkage, the model behind the reference's splink
  * FERC1↔EIA matcher (`/root/reference/src/pudl/analysis/record_linkage/
  * eia_ferc1_record_linkage.py:220-245`, model config in
  * `eia_ferc1_model_config.py`). The reference trains it exactly like
  * this module does:
  *
  *   - u probabilities (P(level | non-match)) from RANDOM PAIR SAMPLING
  *     (`estimate_u_using_random_sampling(max_pairs=1e7)` — at any real
  *     scale a random pair is a non-match with probability ≈ 1);
  *   - m probabilities (P(level | match)) from LABELED PAIRS
  *     (`estimate_m_from_pairwise_labels("training_labels")`);
  *   - prediction: match weight = log2(λ/(1−λ)) + Σ log2(m_l/u_l) over
  *     the pair's observed level of each comparison, prior
  *     λ = 1/|left dataset|, acceptance at match probability ≥ 0.9, then
  *     best match per right record (sort by probability, group, first).
  *
  * Spark-first shape:
  *   - Level observation is ONE projection over the pair frame — every
  *     comparison's level is an expression, so estimating N comparisons
  *     costs one scan (explode to (comparison, level) rows), never N.
  *   - The trained parameter surface is (Σ nLevels) rows — a bounded
  *     driver collect by construction (the q158/PQ-codebook contract), so
  *     scoring is pure plan-literal CASE arithmetic: no join, no
  *     broadcast, fully codegen'd.
  *   - Float discipline (the q126/q158 rule): each level weight is
  *     `round(log2-Bayes-factor · 1e9)` computed IN-ENGINE from integer
  *     counts, so per-pair match weights are exact integer-nano sums —
  *     partition-order independent and bit-replayable by the DuckDB
  *     oracle, which builds the identical IEEE doubles from the same
  *     counts. The 0.9 acceptance threshold compares integer nanos
  *     (weight ≥ log2(9) nanos), never floats.
  *
  * 100 TB shape: u sampling is two hash-filtered side samples crossed
  * (bounded by the mod parameters — splink's own `max_pairs` knob);
  * m labels are human-scale by nature; scoring rides whatever blocked
  * candidate generation the caller brings (never all-pairs here).
  */
object FellegiSunter {

  /** (comparison, level) observation rows from one scan of a pair frame:
    * every comparison's level expression evaluates in a single projection,
    * then explodes — N comparisons never re-scan the (possibly expensive)
    * pair lineage. Null levels drop here (splink: excluded from
    * estimation). */
  private def observe(pairs: DataFrame, comps: Seq[Comparison]): DataFrame =
    pairs
      .select(explode(array(comps.map(c =>
        struct(lit(c.name).as("comparison"),
          c.level.cast("int").as("level"))): _*)).as("o"))
      .select(col("o.comparison").as("comparison"), col("o.level").as("level"))
      .where(col("level").isNotNull)

  /** Per-(comparison, level) counts over the full level spine (absent
    * levels count 0 — they still need a smoothed probability). */
  private def levelCounts(pairs: DataFrame, comps: Seq[Comparison],
                          out: String): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val spine = comps
      .flatMap(c => (1 to c.nLevels).map(l => (c.name, l, c.nLevels)))
      .toDF("comparison", "level", "n_levels")
    spine.join(
        observe(pairs, comps).groupBy("comparison", "level")
          .agg(count(lit(1)).as(out)),
        Seq("comparison", "level"), "left")
      .select(col("comparison"), col("level"), col("n_levels"),
        coalesce(col(out), lit(0L)).as(out))
  }

  /** Train the level weights: `w = log2(m_l / u_l)` per (comparison,
    * level) in integer nanos, add-α smoothed so never-observed levels
    * stay finite.
    *
    * @param mPairs labeled MATCH pairs (the reference's training_labels)
    * @param uPairs sampled random pairs (≈ all non-matches)
    * @return (comparison, level, c_m, n_m, c_u, n_u, w_nano) — exactly
    *         Σ nLevels rows; counts ride along so specs and oracles can
    *         audit the arithmetic
    */
  def trainWeights(mPairs: DataFrame, uPairs: DataFrame,
                   comps: Seq[Comparison],
                   alpha: Double = 0.5): DataFrame = {
    val m = levelCounts(mPairs, comps, "c_m")
    val u = levelCounts(uPairs, comps, "c_u").drop("n_levels")
    val wTotM = Window.partitionBy(col("comparison"))
    def lnRate(c: Column, tot: Column): Column =
      log((c + lit(alpha)) / (tot + lit(alpha) * col("n_levels")))
    m.join(u, Seq("comparison", "level"))
      .withColumn("n_m", sum(col("c_m")).over(wTotM))
      .withColumn("n_u", sum(col("c_u")).over(wTotM))
      .select(col("comparison"), col("level"),
        col("c_m"), col("n_m"), col("c_u"), col("n_u"),
        round((lnRate(col("c_m"), col("n_m")) -
            lnRate(col("c_u"), col("n_u"))) / log(lit(2.0)) * lit(1e9))
          .cast("long").as("w_nano"))
  }

  /** Per-(comparison, level) u counts with per-comparison totals:
    * (comparison, level, n_levels, c_u, n_u). The fixed-u side of the
    * splink standard session (u sampled once, m estimated from labels or
    * EM). */
  def uLevelCounts(uPairs: DataFrame, comps: Seq[Comparison]): DataFrame =
    levelCounts(uPairs, comps, "c_u")
      .withColumn("n_u",
        sum(col("c_u")).over(Window.partitionBy(col("comparison"))))

  /** EM estimation of the m probabilities with u FIXED — splink's
    * documented standard session (`estimate_u_using_random_sampling`, then
    * `estimate_parameters_using_expectation_maximisation` for m and λ;
    * the reference substitutes labeled pairs for the EM step, q168 covers
    * that lane). Unsupervised: no labels touch this function.
    *
    * Fixed-point EM, `iters` rounds over a checkpointed pair frame:
    *  - E-step: per-pair match posterior from the CURRENT weights — the
    *    weight sum is an exact integer-nano sum, the posterior
    *    `1/(1+exp(−s·ln2))` is one IEEE expression, and the posterior is
    *    immediately quantized to integer MICROS, so every M-step sum is
    *    an exact long (partition-order independent, oracle-replayable —
    *    the q126/q152 fixed-point discipline).
    *  - M-step: `m_cl = (Σp_cl + α·1e6)/(Σp_c + α·1e6·L)` and
    *    `λ = Σp/(n·1e6)` from those exact sums; the next round's weights
    *    and prior are computed IN-ENGINE from the longs (never driver
    *    float math), collected as exact nanos.
    *
    * Each iteration costs ONE scan of the pair frame: a `__all`
    * pseudo-observation rides the cell explode, so the λ totals come out
    * of the same aggregate as the cell sums; the pair lineage itself is
    * checkpointed once. Parameter state is ≤ Σ nLevels + 1 longs per
    * round: bounded by contract.
    *
    * @return (comparison, level, c_u, n_u, m_nano, w_nano, lam_micro) —
    *         final m in nanos, final weights log2(m/u) in nanos, final λ
    *         in micros (constant column)
    */
  def emTrainM(pairs: DataFrame, comps: Seq[Comparison],
               uCounts: DataFrame, iters: Int = 3, alpha: Double = 0.5,
               lambda0: Double = 0.01): DataFrame = {
    require(iters >= 1, "EM needs at least one round")
    require(lambda0 > 0.0 && lambda0 < 1.0, "lambda0 must be inside (0,1)")
    val spark = pairs.sparkSession
    import spark.implicits._
    val p = pairs.localCheckpoint()
    val uj = uCounts.localCheckpoint() // ≤ Σ nLevels rows
    val aM = alpha * 1e6

    // Round 18 (barrier diet): each EM round previously paid FOUR driver
    // actions — the cell-sum aggregate plus three separate tiny collects
    // (weights, m, λ). The parameter-surface reads are now ONE collect
    // per round: (comparison, level, w_nano, m_nano) rows with a "__lam"
    // sentinel row carrying (λ log-odds, λ micros). Every expression is
    // the same in-engine arithmetic as before (never driver float math) —
    // only the action count changes.
    def collectRound(withM: DataFrame,
                     lamCols: Option[(Column, Column)]): (Map[(String, Int), Long], Map[(String, Int), Long], Long, Long) = {
      val base = withM.select(col("comparison"), col("level"),
        round((log(col("m")) -
            log((col("c_u") + lit(alpha)) /
              (col("n_u") + lit(alpha) * col("n_levels")))) /
          log(lit(2.0)) * lit(1e9)).cast("long").as("w_nano"),
        round(col("m") * lit(1e9)).cast("long").as("m_nano"))
      val rows = lamCols match {
        case Some((lrCol, lamCol)) =>
          base.unionByName(spark.range(1).select(
            lit("__lam").as("comparison"), lit(0).as("level"),
            lrCol.cast("long").as("w_nano"),
            lamCol.cast("long").as("m_nano"))).collect()
        case None => base.collect()
      }
      val cells = rows.filter(_.getString(0) != "__lam")
      val lam = rows.find(_.getString(0) == "__lam")
      (cells.map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap,
        cells.map(r => (r.getString(0), r.getInt(1)) -> r.getLong(3)).toMap,
        lam.map(_.getLong(2)).getOrElse(0L),
        lam.map(_.getLong(3)).getOrElse(0L))
    }

    // round 1: uniform m = 1/L, prior log2(λ0/(1−λ0)) — one collect
    val (w0, _, lr0, _) = collectRound(
      uj.withColumn("m", lit(1.0) / col("n_levels")),
      Some((round(log(lit(lambda0) / (lit(1.0) - lit(lambda0))) /
        log(lit(2.0)) * lit(1e9)), lit(0L))))
    var w = w0
    var lr = lr0
    var mNano: Map[(String, Int), Long] = Map.empty
    var lamMicro = 0L

    for (_ <- 1 to iters) {
      val sCol = matchWeight(comps, w, lr)
      val withP = p.withColumn("p_micro",
        round(lit(1.0) / (lit(1.0) +
            exp(lit(-1.0) * (sCol / lit(1e9)) * log(lit(2.0)))) * lit(1e6))
          .cast("long"))
      // one scan per round: a "__all" pseudo-observation rides the same
      // explode so cell sums AND the λ totals come out of one aggregate
      val aggRows = withP
        .select(col("p_micro"), explode(array(comps.map(c =>
            struct(lit(c.name).as("c"), c.level.cast("int").as("l"))) :+
          struct(lit("__all").as("c"), lit(0).cast("int").as("l")): _*))
          .as("o"))
        .where(col("o.l").isNotNull)
        .groupBy(col("o.c").as("comparison"), col("o.l").as("level"))
        .agg(sum("p_micro").as("s_p"), count(lit(1)).as("n_rows"))
        .collect() // ≤ Σ nLevels + 1 rows — bounded by contract
      val allRow = aggRows.find(_.getString(0) == "__all").get
      val (sp, n) = (allRow.getLong(2), allRow.getLong(3))
      val cells = aggRows.filter(_.getString(0) != "__all")
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq
        .toDF("comparison", "level", "s_p")
      val withM = uj.join(cells, Seq("comparison", "level"), "left")
        .withColumn("s_p", coalesce(col("s_p"), lit(0L)))
        .withColumn("t_p",
          sum(col("s_p")).over(Window.partitionBy(col("comparison"))))
        .withColumn("m", (col("s_p") + lit(aM)) /
          (col("t_p") + lit(aM) * col("n_levels")))
      val (wR, mR, lrR, lamR) = collectRound(withM,
        Some((round(log(lit(sp) / (lit(n) * lit(1000000L) - lit(sp))) /
            log(lit(2.0)) * lit(1e9)),
          round(lit(sp) / lit(n)))))
      w = wR
      mNano = mR
      lr = lrR
      lamMicro = lamR
    }
    val finalRows = comps.flatMap(c => (1 to c.nLevels).map(l =>
      (c.name, l, mNano(c.name -> l), w(c.name -> l), lamMicro)))
      .toDF("comparison", "level", "m_nano", "w_nano", "lam_micro")
    uj.select("comparison", "level", "c_u", "n_u")
      .join(finalRows, Seq("comparison", "level"))
  }

  /** Bounded collect of the trained surface (≤ Σ nLevels rows by
    * construction) → plan literals for [[matchWeight]]. */
  def collectWeights(weights: DataFrame): Map[(String, Int), Long] =
    weights.select("comparison", "level", "w_nano").collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap

  /** [[matchWeight]] over the trained `weights` and the prior of `left`,
    * both read by one driver action at the call. */
  def trainedMatchWeight(weights: DataFrame, left: DataFrame,
                         comps: Seq[Comparison]): Column = {
    val (w, priorNano) = collectWeightsAndPrior(weights, left)
    matchWeight(comps, w, priorNano)
  }

  /** [[collectWeights]] and the [[priorNanoDf]] prior in ONE driver
    * action (round 18 barrier diet): the 1-row prior frame rides the
    * weights collect as a sentinel row, so a caller that needs both pays
    * one barrier instead of two. Values are bit-identical to the separate
    * collects (same in-engine expressions, just unioned). */
  private def collectWeightsAndPrior(weights: DataFrame, left: DataFrame)
      : (Map[(String, Int), Long], Long) = {
    val rows = weights.select(col("comparison"), col("level"), col("w_nano"))
      .unionByName(priorNanoDf(left).select(
        lit("__prior").as("comparison"), lit(0).as("level"),
        col("prior_nano").as("w_nano")))
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2))
    (rows.filterNot(_._1._1 == "__prior").toMap,
      rows.find(_._1._1 == "__prior").map(_._2).getOrElse(
        throw new IllegalStateException("prior row missing from collect")))
  }

  /** Prior log-odds `log2(λ/(1−λ))` with λ = 1/nLeft (the reference's
    * `probability_two_random_records_match=1/len(eia_df)`), in nanos,
    * computed in-engine as a 1-row frame so the JVM never does the float
    * math (collect the exact long). */
  private def priorNanoDf(left: DataFrame): DataFrame =
    left.agg(count(lit(1)).as("n"))
      .select(round(-log(col("n") - lit(1.0)) / log(lit(2.0)) * lit(1e9))
        .cast("long").as("prior_nano"))

  /** Total match weight in nanos: prior + Σ per-comparison level weight,
    * null level → 0. Pure integer literal CASE arithmetic. */
  def matchWeight(comps: Seq[Comparison],
                  weights: Map[(String, Int), Long],
                  priorNano: Long): Column =
    comps.map { c =>
      val cases = (1 to c.nLevels).map { l =>
        (c.level === lit(l), lit(weights(c.name -> l)))
      }
      cases.foldRight(lit(0L): Column) { case ((cond, w), e) =>
        when(cond, w).otherwise(e)
      }
    }.reduce(_ + _) + lit(priorNano)

  /** splink term-frequency adjustments
    * (`comparison.configure(term_frequency_adjustments=True)` — the
    * reference enables this on utility_name and fuel_type_code,
    * `eia_ferc1_model_config.py:47-50`): agreeing on a RARE value is
    * stronger evidence than agreeing on a common one. For an exact-match
    * level, the pair's u is really the value's term frequency, so the
    * weight correction is `log2(u_level / tf_v)` — positive for rare
    * values, negative for common ones, zero-sum in expectation.
    *
    * @param values one-column frame of the concatenated datasets' values
    *               (splink computes TF over the combined input)
    * @param cU,nU  the exact level's sampled-u counts (ride along on
    *               [[trainWeights]] output for exactly this purpose)
    * @return (value, tf_adj_nano) — one row per distinct value, a
    *         broadcast-sized dim by nature (categorical comparisons)
    */
  def tfAdjustments(values: DataFrame, valueCol: Column,
                    cU: Long, nU: Long, nLevels: Int,
                    alpha: Double = 0.5): DataFrame = {
    val cnt = values.select(valueCol.as("value"))
      .groupBy("value").agg(count(lit(1)).as("c"))
    val tot = cnt.agg(sum("c").as("n"))
    cnt.crossJoin(broadcast(tot))
      .select(col("value"),
        round((log((lit(cU) + lit(alpha)) /
              (lit(nU) + lit(alpha) * nLevels)) -
            log(col("c") / col("n"))) / log(lit(2.0)) * lit(1e9))
          .cast("long").as("tf_adj_nano"))
  }

  /** splink `cl.NameComparison` gamma ladder — the reference's actual
    * name comparison (`eia_ferc1_model_config.py:35-42`,
    * `jaro_winkler_thresholds=[0.9, 0.8, 0.7]`): comparison-vector
    * values count DOWN from the most specific level — either side null
    * → -1, exact match → thresholds.size + 1, then one level per
    * threshold in the given (descending) order, anything else → 0.
    * The native [[graft.plans.JaroWinkler]] matches DuckDB bit-for-bit,
    * so the whole ladder is oracle-replayable; per-row expression, no
    * shuffle. */
  def nameComparisonLevel(l: Column, r: Column,
                          thresholds: Seq[Double]): Column = {
    require(thresholds == thresholds.sorted.reverse,
      "thresholds must be descending (splink level order)")
    val jw = graft.plans.JaroWinkler(l, r)
    val base = when(l.isNull || r.isNull, lit(-1))
      .when(l === r, lit(thresholds.size + 1))
    thresholds.zipWithIndex.foldLeft(base) { case (acc, (t, i)) =>
      acc.when(jw >= t, lit(thresholds.size - i))
    }.otherwise(lit(0))
  }

  /** splink's percentage-difference ladder over two INTEGER columns:
    * either side null → NULL (the null level), |l − r| within 0.1 % of the
    * larger magnitude → 3, within 5 % → 2, else 1. Integer arithmetic, so
    * no float boundary. */
  def percentDifferenceLevel(l: Column, r: Column): Column = {
    val larger = greatest(abs(l), abs(r))
    when(l.isNull || r.isNull, lit(null).cast("int"))
      .when(lit(1000L) * abs(l - r) <= larger, 3)
      .when(lit(20L) * abs(l - r) <= larger, 2)
      .otherwise(1)
  }

  /** Acceptance threshold for match probability ≥ p, in weight nanos:
    * 2^w/(1+2^w) ≥ p  ⇔  w ≥ log2(p/(1−p)). Engine-side expression so
    * Spark and the oracle fold the identical double. */
  def acceptAt(p: Double): Column = {
    require(p > 0.0 && p < 1.0, "probability threshold must be inside (0,1)")
    round(log(lit(p) / (lit(1.0) - lit(p))) / log(lit(2.0)) * lit(1e9))
      .cast("long")
  }

  /** Best match per right record: the reference's
    * `sort_values(match_probability, desc).groupby(record_id_r).first()`
    * — one window top-1, deterministic leftId tiebreak. */
  def bestMatch(scored: DataFrame, rightId: String, leftId: String,
                weightCol: String = "weight_nano"): DataFrame =
    scored
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col(rightId))
          .orderBy(col(weightCol).desc, col(leftId).asc)))
      .where(col("__rk") === 1)
      .drop("__rk")
}
