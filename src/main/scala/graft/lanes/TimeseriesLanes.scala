package graft
package lanes

import org.apache.spark.sql.functions._

import graft.operators.{TemporalOps, WindowOps}
import OracleFragments.supplierMonthlyRevenue

/** Time-series lanes: rolling windows, screens and flags, run lengths,
  * binning, ramp rates, sessionization, temporal joins and imputation.
  * Reference paths are into the PUDL source tree. */
object TimeseriesLanes extends LaneFamily {

  // ---- §2.6 centered rolling average over a monthly series ---------------
  // Reference: generate_rolling_avg (src/pudl/helpers.py:1375-1425).
  lane("q06_rolling_avg") { (s, dir) =>
    val monthly = t(s, dir, "orders")
      .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), date_trunc("month", col("o_orderdate")).as("o_month"))
      .agg(round(sum(col("o_totalprice")), 2).as("revenue"))
    WindowOps.rollingAvg(monthly, Seq("c_mktsegment"), Seq(col("o_month")),
      col("revenue"), before = 5, after = 6, out = "rolling_revenue")
      .withColumn("rolling_revenue", round(col("rolling_revenue"), 4))
  }.oracle(
    """WITH monthly AS (
      |  SELECT c_mktsegment,
      |    CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS o_month,
      |    round(sum(o_totalprice), 2) AS revenue
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2)
      |SELECT c_mktsegment, o_month, revenue,
      |  round(avg(revenue) OVER (
      |    PARTITION BY c_mktsegment ORDER BY o_month
      |    ROWS BETWEEN 5 PRECEDING AND 6 FOLLOWING), 4) AS rolling_revenue
      |FROM monthly""".stripMargin)

  // ---- §2.6/§2.14 hourly time-window aggregation over events -------------
  // Batch form of the streaming hourly rollup (SURVEY §2.14).
  lane("q08_hourly_events") { (s, dir) =>
    t(s, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("sum_value"),
        (sum(round(col("value") * 100, 0).cast("long")).cast("double")
          / (lit(100.0) * count(lit(1)))).as("avg_value"))
  }.oracle(
    """SELECT date_trunc('hour', ts) AS hour, event_type,
      |  count(*) AS n_events,
      |  round(sum(value), 4) AS sum_value,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
      |    / (100.0 * count(*)) AS avg_value
      |FROM events GROUP BY date_trunc('hour', ts), event_type""".stripMargin)

  // ---- §2.3 expand_timeseries: densify + forward-fill --------------------
  // Reference: expand_timeseries (src/pudl/helpers.py:719-806).
  lane("q10_expand_timeseries") { (s, dir) =>
    val monthly = t(s, dir, "lineitem")
      .groupBy(col("l_suppkey"), date_trunc("month", col("l_shipdate")).as("ship_month"))
      .agg(round(sum(col("l_extendedprice")), 2).as("month_rev"))
    TemporalOps.expandTimeseries(monthly, Seq("l_suppkey"), "ship_month",
      step = "1 month", fillCols = Seq("month_rev"))
  }.oracle(
    s"""WITH $supplierMonthlyRevenue,
      |spine AS (
      |  SELECT l_suppkey, unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS ship_month
      |  FROM (SELECT l_suppkey, min(ship_month) AS lo, max(ship_month) AS hi
      |        FROM monthly GROUP BY 1))
      |SELECT s.l_suppkey, s.ship_month,
      |  last_value(m.month_rev IGNORE NULLS) OVER (
      |    PARTITION BY s.l_suppkey ORDER BY s.ship_month
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS month_rev
      |FROM spine s LEFT JOIN monthly m
      |  ON s.l_suppkey = m.l_suppkey AND s.ship_month = m.ship_month""".stripMargin)

  // ---- §2.6 exact sliding median ----------------------------------------
  // Reference: rolling_median screens
  // (src/pudl/analysis/timeseries_cleaning.py:829-906).
  lane("q19_rolling_median") { (s, dir) =>
    WindowOps.rollingMedian(t(s, dir, "events"),
        keys = Seq("user_id"), order = Seq(col("ts"), col("event_id")),
        value = col("value"), before = 3, after = 3)
      .select("user_id", "event_id", "ts", "value", "rolling_median")
  }.oracle(
    """WITH fr AS (
      |  SELECT user_id, event_id, ts, value,
      |    list_sort(list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)) AS arr
      |  FROM events)
      |SELECT user_id, event_id, ts, value,
      |  (arr[CAST((len(arr) + 1) // 2 AS INTEGER)]
      |   + arr[CAST(len(arr) // 2 + 1 AS INTEGER)]) / 2.0 AS rolling_median
      |FROM fr""".stripMargin)

  // ---- §2.6/§2.12 double-delta spike flag --------------------------------
  // Reference: flag_double_delta
  // (src/pudl/analysis/timeseries_cleaning.py:1040-1120).
  lane("q20_spike_flag") { (s, dir) =>
    WindowOps.flagDoubleDelta(t(s, dir, "events"),
        keys = Seq("user_id"), order = Seq(col("ts"), col("event_id")),
        value = col("value"), threshold = lit(20.0))
      .select("user_id", "event_id", "ts", "value", "flag_spike")
  }.oracle(
    """SELECT user_id, event_id, ts, value,
      |  (dp IS NOT NULL AND dn IS NOT NULL
      |   AND abs(dp) > 20.0 AND abs(dn) > 20.0 AND dp * dn < 0) AS flag_spike
      |FROM (
      |  SELECT user_id, event_id, ts, value,
      |    value - lag(value) OVER w AS dp,
      |    lead(value) OVER w - value AS dn
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))""".stripMargin)

  // ---- §2.6 run-length encoding ------------------------------------------
  // Reference: encode_run_length
  // (src/pudl/analysis/timeseries_cleaning.py:340-517).
  lane("q21_run_length") { (s, dir) =>
    WindowOps.runLengths(t(s, dir, "events"),
      keys = Seq("user_id"), order = Seq(col("ts"), col("event_id")),
      flag = col("value") >= 10.0, orderName = "ts")
  }.oracle(
    """WITH flagged AS (
      |  SELECT user_id, ts, event_id, (value >= 10.0) AS flag FROM events),
      |lagged AS (
      |  SELECT *, lag(flag) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_flag
      |  FROM flagged),
      |runs AS (
      |  SELECT user_id, ts, flag,
      |    sum(CASE WHEN prev_flag IS DISTINCT FROM flag THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
      |  FROM lagged)
      |SELECT user_id, CAST(run_id AS BIGINT) AS run_id, min(flag) AS flag,
      |  count(*) AS run_length, min(ts) AS run_start, max(ts) AS run_end
      |FROM runs GROUP BY user_id, run_id""".stripMargin)

  // ---- §2.6 identical-run flag -------------------------------------------
  // Reference: flag_identical_run
  // (src/pudl/analysis/timeseries_cleaning.py:777-795).
  lane("q22_identical_run") { (s, dir) =>
    WindowOps.flagIdenticalRun(t(s, dir, "events"),
        keys = Seq("user_id"), order = Seq(col("ts"), col("event_id")),
        value = floor(col("value") / 10).cast("long"), minLen = 3,
        out = "flag_run")
      .select(col("user_id"), col("event_id"), col("ts"),
        floor(col("value") / 10).cast("long").as("value_bucket"), col("flag_run"))
  }.oracle(
    """WITH b AS (
      |  SELECT user_id, event_id, ts,
      |    CAST(floor(value / 10) AS BIGINT) AS value_bucket
      |  FROM events),
      |lagged AS (
      |  SELECT *, lag(value_bucket) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_b
      |  FROM b),
      |runs AS (
      |  SELECT user_id, event_id, ts, value_bucket,
      |    sum(CASE WHEN prev_b IS DISTINCT FROM value_bucket THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
      |  FROM lagged)
      |SELECT user_id, event_id, ts, value_bucket,
      |  (count(*) OVER (PARTITION BY user_id, run_id) >= 3
      |   AND value_bucket IS NOT NULL) AS flag_run
      |FROM runs""".stripMargin)

  // ---- §2.6 per-group quantile binning (ntile) ---------------------------
  // Reference: assign_groupwise_load_factor_bins
  // (src/pudl/analysis/operational_characteristics.py:182-268).
  lane("q23_ntile_bins") { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    t(s, dir, "events")
      .withColumn("bin", ntile(4).over(
        Window.partitionBy(col("event_type"))
          .orderBy(col("value"), col("event_id"))))
      .select("event_id", "event_type", "value", "bin")
  }.oracle(
    """SELECT event_id, event_type, value,
      |  ntile(4) OVER (PARTITION BY event_type ORDER BY value, event_id) AS bin
      |FROM events""".stripMargin)

  // ---- §2.6 cumulative running totals ------------------------------------
  // The unbounded-preceding frame used by every ffill/cumsum port.
  lane("q24_cumulative") { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    t(s, dir, "events")
      .withColumn("running_value",
        round(sum(col("value")).over(w.rowsBetween(Window.unboundedPreceding, 0)), 2))
      .withColumn("rn", row_number().over(w))
      .select("user_id", "event_id", "ts", "running_value", "rn")
  }.oracle(
    """SELECT user_id, event_id, ts,
      |  round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_value,
      |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |FROM events""".stripMargin)

  // ---- §2.6 ramp rates ----------------------------------------------------
  // Reference: summarize_ramp_rates
  // (src/pudl/analysis/operational_characteristics.py:269-325).
  lane("q25_ramp_rates") { (s, dir) =>
    WindowOps.rampRates(t(s, dir, "events"),
      keys = Seq("user_id"), order = Seq(col("ts"), col("event_id")),
      value = col("value"))
  }.oracle(
    """SELECT user_id, max(d) AS max_ramp_up, min(d) AS max_ramp_down
      |FROM (
      |  SELECT user_id,
      |    value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS d
      |  FROM events)
      |GROUP BY user_id""".stripMargin)

  // ---- §2.6 min up/down times from run lengths ---------------------------
  // Reference: calculate_min_up_or_down_times
  // (src/pudl/analysis/operational_characteristics.py:533-570).
  lane("q26_min_up_down") { (s, dir) =>
    WindowOps.runLengths(t(s, dir, "events"),
        keys = Seq("user_id"), order = Seq(col("ts"), col("event_id")),
        flag = col("value") >= 10.0, orderName = "ts")
      .groupBy(col("user_id"), col("flag"))
      .agg(
        min(col("run_length")).as("min_run"),
        max(col("run_length")).as("max_run"),
        count(lit(1)).as("n_runs"))
  }.oracle(
    """WITH flagged AS (
      |  SELECT user_id, ts, event_id, (value >= 10.0) AS flag FROM events),
      |lagged AS (
      |  SELECT *, lag(flag) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_flag
      |  FROM flagged),
      |runs AS (
      |  SELECT user_id, flag,
      |    sum(CASE WHEN prev_flag IS DISTINCT FROM flag THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
      |  FROM lagged),
      |rl AS (
      |  SELECT user_id, run_id, min(flag) AS flag, count(*) AS run_length
      |  FROM runs GROUP BY user_id, run_id)
      |SELECT user_id, flag, min(run_length) AS min_run, max(run_length) AS max_run,
      |  count(*) AS n_runs
      |FROM rl GROUP BY user_id, flag""".stripMargin)

  // ---- §2.12 group-median imputation of simulated gaps -------------------
  // Reference: impute_flagged_values + simulate_nulls
  // (src/pudl/analysis/timeseries_cleaning.py:1554-1614,1372-1426);
  // deterministic gap mask (event_id % 37) instead of seeded rand.
  lane("q27_median_impute") { (s, dir) =>
    val gapped = t(s, dir, "events")
      .withColumn("v", when(col("event_id") % 37 === 0, lit(null))
        .otherwise(col("value")))
      .withColumn("hod", hour(col("ts")))
    val med = gapped.groupBy(col("event_type"), col("hod"))
      .agg(median(col("v")).as("group_median"))
    gapped.join(broadcast(med), Seq("event_type", "hod"), "left")
      // the two engines may interpolate even-count medians with
      // differently-associated float ops; the 0.005-grid of (a+b)/2 over
      // cent-valued data provably misses the 5e-7 rounding boundary.
      .withColumn("value_imputed", round(coalesce(col("v"), col("group_median")), 6))
      .withColumn("was_imputed", col("v").isNull)
      .select("event_id", "event_type", "hod", "value_imputed", "was_imputed")
  }.oracle(
    """WITH gapped AS (
      |  SELECT event_id, event_type, CAST(hour(ts) AS INTEGER) AS hod,
      |    CASE WHEN event_id % 37 = 0 THEN NULL ELSE value END AS v
      |  FROM events),
      |med AS (
      |  SELECT event_type, hod, median(v) AS group_median
      |  FROM gapped GROUP BY event_type, hod)
      |SELECT g.event_id, g.event_type, g.hod,
      |  round(coalesce(g.v, m.group_median), 6) AS value_imputed,
      |  (g.v IS NULL) AS was_imputed
      |FROM gapped g LEFT JOIN med m
      |  ON g.event_type = m.event_type AND g.hod = m.hod""".stripMargin)

  // ---- §2.14 event-time window function (streaming-parity form) ----------
  // Same rollup EventStreams.hourlyCounts runs over readStream.
  lane("q55_stream_window") { (s, dir) =>
    t(s, dir, "events")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("sum_value"))
      .select(col("window.start").as("hour_start"),
        col("window.end").as("hour_end"), col("event_type"),
        col("n_events"), col("sum_value"))
  }.oracle(
    """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
      |  CAST(date_trunc('hour', ts) AS TIMESTAMP) + INTERVAL 1 HOUR AS hour_end,
      |  event_type, count(*) AS n_events, round(sum(value), 4) AS sum_value
      |FROM events GROUP BY 1, 2, 3""".stripMargin)

  // ---- §2.12 low-rank matrix completion (LATC pattern; tolerance-based
  // validation in ImputeSpec, no SQL oracle — SURVEY §7 hard-part #3) ------
  lane("q61_matrix_impute") { (s, dir) =>
    val pivoted = t(s, dir, "events")
      .withColumn("day", dayofyear(col("ts")))
      .withColumn("hod", hour(col("ts")))
      .groupBy(col("event_type"), col("day"), col("hod"))
      .agg(avg(col("value")).as("v"))
      .withColumn("v", when(col("day") % 11 === 0, lit(null)).otherwise(col("v")))
    graft.impute.MatrixCompletion.imputeDf(pivoted, "event_type", "day", "hod",
      "v", rank = 3, iters = 50)
  }

  // ---- §2.12 global outlier screen (median ± k·IQR per series) -----------
  // Reference: global outlier flag in the screen suite
  // (src/pudl/analysis/timeseries_cleaning.py:765-1354).
  lane("q63_global_outlier") { (s, dir) =>
    val ev = t(s, dir, "events")
    val stats = ev.groupBy(col("user_id")).agg(
      expr("percentile(value, 0.5)").as("med"),
      expr("percentile(value, 0.25)").as("q1"),
      expr("percentile(value, 0.75)").as("q3"))
      .withColumn("thr_hi", round(col("med") + (col("q3") - col("q1")) * 3, 6))
      .withColumn("thr_lo", round(col("med") - (col("q3") - col("q1")) * 3, 6))
      .select("user_id", "thr_lo", "thr_hi")
    ev.join(broadcast(stats), "user_id")
      .withColumn("flag_outlier",
        col("value") < col("thr_lo") || col("value") > col("thr_hi"))
      .select("user_id", "event_id", "value", "thr_lo", "thr_hi", "flag_outlier")
  }.oracle(
    """WITH stats AS (
      |  SELECT user_id,
      |    round(quantile_cont(value, 0.5)
      |      + (quantile_cont(value, 0.75) - quantile_cont(value, 0.25)) * 3, 6)
      |      AS thr_hi,
      |    round(quantile_cont(value, 0.5)
      |      - (quantile_cont(value, 0.75) - quantile_cont(value, 0.25)) * 3, 6)
      |      AS thr_lo
      |  FROM events GROUP BY user_id)
      |SELECT e.user_id, e.event_id, e.value, s.thr_lo, s.thr_hi,
      |  (e.value < s.thr_lo OR e.value > s.thr_hi) AS flag_outlier
      |FROM events e JOIN stats s ON e.user_id = s.user_id""".stripMargin)

  // ---- §2.14 gap-based sessionization (batch twin of session windows) ----
  lane("q68_sessionize") { (s, dir) =>
    WindowOps.sessionize(t(s, dir, "events"), Seq("user_id"), "ts",
        col("event_id"), gapSeconds = 1800)
      .groupBy(col("user_id"), col("session_id").cast("long").as("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        round(sum(col("value")), 4).as("sum_value"))
  }.oracle(
    """WITH lagged AS (
      |  SELECT user_id, event_id, ts, value,
      |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS prev_us
      |  FROM events),
      |sess AS (
      |  SELECT user_id, ts, value,
      |    CAST(sum(CASE WHEN prev_us IS NULL
      |        OR epoch_us(ts) - prev_us > 1800 * 1000000 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS session_id
      |  FROM lagged)
      |SELECT user_id, session_id, count(*) AS n_events,
      |  min(ts) AS session_start, max(ts) AS session_end,
      |  round(sum(value), 4) AS sum_value
      |FROM sess GROUP BY user_id, session_id""".stripMargin)

  // ---- §2.12 orchestrated screen suite: priority flag accumulation -------
  // Reference: flag_ruggles pipeline + flag() one-flag-per-cell
  // (src/pudl/analysis/timeseries_cleaning.py:1295-1354,247-272).
  private val flagPipeline = lane("q71_flag_pipeline") { (s, dir) =>
    val ev = t(s, dir, "events")
      .withColumn("v", when(col("event_id") % 53 === 0, lit(null))
        .otherwise(col("value")))
    val order = Seq(col("ts"), col("event_id"))
    val withRun = WindowOps.flagIdenticalRun(ev, Seq("user_id"), order,
      floor(col("v") / 10).cast("long"), minLen = 3, out = "f_run")
    val withSpike = WindowOps.flagDoubleDelta(withRun, Seq("user_id"), order,
      col("v"), lit(25.0), out = "f_spike")
    WindowOps.flagPipeline(withSpike, Seq(
        "missing" -> col("v").isNull,
        "oob" -> !col("v").between(0, 40),
        "identical_run" -> col("f_run"),
        "spike" -> col("f_spike")))
      .select("user_id", "event_id", "v", "flag")
  }.oracle(q71Sql)

  // ---- §2.6 quantile-breakpoint binning (qcut semantics, not ntile) ------
  // Reference: assign_groupwise_load_factor_bins
  // (src/pudl/analysis/operational_characteristics.py:182-268)
  // computes per-group quantile breakpoints then assigns by comparison.
  lane("q74_quantile_bins") { (s, dir) =>
    val ev = t(s, dir, "events")
    val breaks = ev.groupBy(col("event_type")).agg(
        round(expr("percentile(value, 0.25)"), 6).as("t1"),
        round(expr("percentile(value, 0.5)"), 6).as("t2"),
        round(expr("percentile(value, 0.75)"), 6).as("t3"))
    ev.join(broadcast(breaks), "event_type")
      .withColumn("bin",
        when(col("value") <= col("t1"), 1)
          .when(col("value") <= col("t2"), 2)
          .when(col("value") <= col("t3"), 3)
          .otherwise(4))
      .select("event_type", "event_id", "value", "bin")
  }.oracle(
    """WITH breaks AS (
      |  SELECT event_type,
      |    round(quantile_cont(value, 0.25), 6) AS t1,
      |    round(quantile_cont(value, 0.5), 6) AS t2,
      |    round(quantile_cont(value, 0.75), 6) AS t3
      |  FROM events GROUP BY event_type)
      |SELECT e.event_type, e.event_id, e.value,
      |  CASE WHEN e.value <= b.t1 THEN 1
      |       WHEN e.value <= b.t2 THEN 2
      |       WHEN e.value <= b.t3 THEN 3
      |       ELSE 4 END AS bin
      |FROM events e JOIN breaks b ON e.event_type = b.event_type""".stripMargin)

  // ---- §2.12 local-outlier screen via median prediction ------------------
  // Reference: median_prediction + flag_local_outlier
  // (src/pudl/analysis/timeseries_cleaning.py:907-970).
  // Windows scaled to the fixture's ~67-point series (the reference's
  // hourly defaults 48/480/±240 keep the same before/after shape).
  // The flatMapGroups form is bit-identical to the declarative window form
  // (asserted in ScreensSpec) and ~4x faster on many-short-series shapes.
  lane("q75_local_outlier") { (s, dir) =>
    graft.operators.TimeseriesScreens.flagLocalOutlierFast(
      t(s, dir, "events"), "user_id", "ts", "event_id", "value",
      window = (6, 5), longWindow = (24, 23),
      shifts = Seq(-12, -6, 0, 6, 12), iqrWindow = (12, 11),
      multHi = 3.5, multLo = 2.5)
      .select("user_id", "event_id", "value", "pred", "iqr",
        "flag_local_hi", "flag_local_lo")
  }.oracle(
    """WITH s1 AS (
      |  SELECT user_id, event_id, ts, value,
      |    list_sort(list_filter(list(value) OVER w12, x -> x IS NOT NULL)) AS a12,
      |    list_sort(list_filter(list(value) OVER w48, x -> x IS NOT NULL)) AS a48
      |  FROM events
      |  WINDOW
      |    w12 AS (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN 6 PRECEDING AND 5 FOLLOWING),
      |    w48 AS (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN 24 PRECEDING AND 23 FOLLOWING)),
      |s2 AS (
      |  SELECT *,
      |    CAST(len(a12)-1 AS DOUBLE) * 0.5e0 AS h12,
      |    CAST(len(a48)-1 AS DOUBLE) * 0.5e0 AS h48
      |  FROM s1),
      |s3 AS (
      |  SELECT user_id, event_id, ts, value,
      |    a12[CAST(floor(h12) AS INT)+1] + (h12 - floor(h12)) *
      |      (coalesce(a12[CAST(floor(h12) AS INT)+2],
      |                a12[CAST(floor(h12) AS INT)+1]) -
      |       a12[CAST(floor(h12) AS INT)+1]) AS m,
      |    a48[CAST(floor(h48) AS INT)+1] + (h48 - floor(h48)) *
      |      (coalesce(a48[CAST(floor(h48) AS INT)+2],
      |                a48[CAST(floor(h48) AS INT)+1]) -
      |       a48[CAST(floor(h48) AS INT)+1]) AS mlong
      |  FROM s2),
      |s4 AS (SELECT *, value - m AS off FROM s3),
      |s5 AS (
      |  SELECT *,
      |    lag(off, 12) OVER wo AS l12, lag(off, 6) OVER wo AS l6,
      |    lead(off, 6) OVER wo AS f6, lead(off, 12) OVER wo AS f12,
      |    list_sort(list_filter(list(off) OVER wq, x -> x IS NOT NULL)) AS aq
      |  FROM s4
      |  WINDOW wo AS (PARTITION BY user_id ORDER BY ts, event_id),
      |    wq AS (PARTITION BY user_id ORDER BY ts, event_id
      |           ROWS BETWEEN 12 PRECEDING AND 11 FOLLOWING)),
      |s6 AS (
      |  SELECT *,
      |    list_sort(list_filter([l12, l6, off, f6, f12],
      |      x -> x IS NOT NULL)) AS ash,
      |    CAST(len(aq)-1 AS DOUBLE) * 0.75e0 AS h75,
      |    CAST(len(aq)-1 AS DOUBLE) * 0.25e0 AS h25
      |  FROM s5),
      |s7 AS (
      |  SELECT *,
      |    (ash[(len(ash)+1)//2] + ash[len(ash)//2+1]) / 2.0e0 AS medoff,
      |    aq[CAST(floor(h75) AS INT)+1] + (h75 - floor(h75)) *
      |      (coalesce(aq[CAST(floor(h75) AS INT)+2],
      |                aq[CAST(floor(h75) AS INT)+1]) -
      |       aq[CAST(floor(h75) AS INT)+1]) AS p75,
      |    aq[CAST(floor(h25) AS INT)+1] + (h25 - floor(h25)) *
      |      (coalesce(aq[CAST(floor(h25) AS INT)+2],
      |                aq[CAST(floor(h25) AS INT)+1]) -
      |       aq[CAST(floor(h25) AS INT)+1]) AS p25
      |  FROM s6),
      |s8 AS (
      |  SELECT user_id, event_id, value,
      |    m * (1.0e0 + medoff / nullif(mlong, 0.0e0)) AS pred,
      |    p75 - p25 AS iqr
      |  FROM s7)
      |SELECT user_id, event_id, value, pred, iqr,
      |  value > pred + 3.5e0 * iqr AS flag_local_hi,
      |  value < pred - 2.5e0 * iqr AS flag_local_lo
      |FROM s8""".stripMargin)

  // ---- §2.12 anomalous-region screen -------------------------------------
  // Reference: flag_anomalous_region
  // (src/pudl/analysis/timeseries_cleaning.py:1186-1229).
  lane("q76_anomalous_region") { (s, dir) =>
    graft.operators.TimeseriesScreens.flagAnomalousRegion(
      t(s, dir, "events")
        .withColumn("flagged", col("value") < 12),
      Seq("user_id"), Seq(col("ts"), col("event_id")),
      col("flagged"), window = 8, threshold = 0.5, out = "flag_region")
      .select("user_id", "event_id", "flagged", "flag_region")
  }.oracle(
    """WITH b AS (
      |  SELECT user_id, event_id, ts, value < 12 AS flagged FROM events),
      |w1 AS (
      |  SELECT *,
      |    (count(*) OVER tr = 4 AND
      |     sum(CASE WHEN flagged THEN 1 ELSE 0 END) OVER tr >= 1) AS is_after,
      |    count(*) OVER ce AS c_ce,
      |    sum(CASE WHEN flagged THEN 1 ELSE 0 END) OVER ce AS f_ce,
      |    CASE WHEN flagged IS DISTINCT FROM lag(flagged) OVER wo
      |      THEN 1 ELSE 0 END AS chg
      |  FROM b
      |  WINDOW wo AS (PARTITION BY user_id ORDER BY ts, event_id),
      |    tr AS (PARTITION BY user_id ORDER BY ts, event_id
      |           ROWS BETWEEN 3 PRECEDING AND CURRENT ROW),
      |    ce AS (PARTITION BY user_id ORDER BY ts, event_id
      |           ROWS BETWEEN 4 PRECEDING AND 3 FOLLOWING)),
      |w2 AS (
      |  SELECT *,
      |    CASE WHEN c_ce = 8 THEN 1 ELSE 0 END AS inner_valid,
      |    CASE WHEN c_ce = 8 AND CAST(f_ce AS DOUBLE)/8 > 0.5e0
      |      THEN 1 ELSE 0 END AS inner_val,
      |    sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
      |  FROM w1),
      |w3 AS (
      |  SELECT *,
      |    count(*) OVER (PARTITION BY user_id, run) AS runlen,
      |    coalesce(lead(is_after, 3) OVER
      |      (PARTITION BY user_id ORDER BY ts, event_id), false) AS is_before,
      |    (sum(inner_valid) OVER ce2 = 8 AND
      |     max(inner_val) OVER ce2 = 1) AS is_region
      |  FROM w2
      |  WINDOW ce2 AS (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN 4 PRECEDING AND 3 FOLLOWING))
      |SELECT user_id, event_id, flagged,
      |  (NOT flagged) AND is_after AND is_before AND runlen <= 4
      |    AND is_region AS flag_region
      |FROM w3""".stripMargin)

  // ---- §2.12 bad-period screen (flag_bad_years, day grain) ---------------
  // Reference: flag_bad_years
  // (src/pudl/analysis/timeseries_cleaning.py:1231-1294).
  lane("q77_bad_periods") { (s, dir) =>
    val ev = t(s, dir, "events")
      .withColumn("v", when(col("event_id") % 7 === 0, lit(null))
        .otherwise(col("value")))
    graft.operators.TimeseriesScreens.flagBadPeriods(ev,
      Seq("user_id"), "ts", col("v"), col("v") > 300,
      period = date_trunc("day", col("ts")),
      minData = 6.0, minDataFraction = 0.15)
      .select(col("user_id"), col("event_id"), col("period"),
        col("coverage_hours"), col("data_fraction"), col("flag_bad_period"))
  }.oracle(
    """WITH ev AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v
      |  FROM events),
      |p AS (SELECT *, CAST(date_trunc('day', ts) AS TIMESTAMP) AS period
      |  FROM ev),
      |g AS (
      |  SELECT user_id, period,
      |    min(CASE WHEN v IS NOT NULL THEN ts END) AS first_ts,
      |    max(CASE WHEN v IS NOT NULL THEN ts END) AS last_ts,
      |    count(v) AS n,
      |    max(CAST(v > 300 AS INT)) AS has_flags
      |  FROM p GROUP BY 1, 2),
      |g2 AS (
      |  SELECT user_id, period,
      |    CAST(epoch_us(last_ts) - epoch_us(first_ts) AS DOUBLE)
      |      / 3600000000.0e0 + 1.0e0 AS coverage_hours,
      |    n, has_flags
      |  FROM g),
      |g3 AS (
      |  SELECT user_id, period, coverage_hours,
      |    CAST(n AS DOUBLE) / coverage_hours AS data_fraction,
      |    coalesce(coverage_hours < 6.0e0, true) OR
      |      (CAST(n AS DOUBLE) / coverage_hours < 0.15e0 AND has_flags = 1)
      |      AS flag_bad_period
      |  FROM g2)
      |SELECT p.user_id, p.event_id, p.period, g3.coverage_hours,
      |  g3.data_fraction, g3.flag_bad_period
      |FROM p JOIN g3 ON p.user_id = g3.user_id AND p.period = g3.period""".stripMargin)

  // ---- §2.12 single-delta screen (sequential fixpoint per series; the
  // two-pass fixpoint IS oracle-checked — DuckDB replays it as a
  // list_reduce fold over each series, see oracleSql("q78_single_delta")) --
  // Reference: flag_single_delta / _find_single_delta
  // (src/pudl/analysis/timeseries_cleaning.py:1047-1185).
  lane("q78_single_delta") { (s, dir) =>
    graft.operators.TimeseriesScreens.flagSingleDelta(
      t(s, dir, "events"), "user_id", "ts", "value", multiplier = 5.0)
  }.oracle(
    // Sequential two-pass fixpoint replayed as a per-series left fold
    // (list_reduce). DuckDB 1.0's list_reduce drops struct accumulators
    // across steps, so the fold state is encoded positionally in a flat
    // DOUBLE[]: slot 1 = last surviving value, slots 2.. = 0/1 flags.
    """WITH numbered AS (
      |  SELECT user_id, epoch_us(ts)//1000000 AS ts, value,
      |         value - lag(value) OVER (PARTITION BY user_id ORDER BY ts) AS d
      |  FROM events
      |), grp AS (
      |  SELECT user_id,
      |         list(struct_pack(ts := ts, v := value) ORDER BY ts) AS arr,
      |         5.0 * (quantile_cont(d, 0.75) FILTER (WHERE d IS NOT NULL)
      |              - quantile_cont(d, 0.25) FILTER (WHERE d IS NOT NULL)) AS thr
      |  FROM numbered GROUP BY user_id
      |), fwd_pass AS (
      |  SELECT user_id, arr, thr,
      |    list_reduce(
      |      list_prepend(CAST([NULL] AS DOUBLE[]),
      |                   list_transform(arr, e -> [e.v])),
      |      (a, x) -> list_concat(
      |        [CASE WHEN x[1] IS NULL THEN a[1]
      |              WHEN thr IS NOT NULL AND a[1] IS NOT NULL
      |                   AND abs(x[1] - a[1]) > thr THEN a[1]
      |              ELSE x[1] END],
      |        list_concat(a[2:],
      |          [CASE WHEN x[1] IS NOT NULL AND thr IS NOT NULL
      |                     AND a[1] IS NOT NULL AND abs(x[1] - a[1]) > thr
      |                THEN 1.0 ELSE 0.0 END])))[2:] AS fwd
      |  FROM grp
      |), bwd_pass AS (
      |  SELECT user_id, arr, fwd,
      |    list_reverse(list_reduce(
      |      list_prepend(CAST([NULL] AS DOUBLE[]),
      |        list_reverse(list_transform(range(1, len(arr) + 1),
      |                                    i -> [arr[i].v, fwd[i]]))),
      |      (a, x) -> list_concat(
      |        [CASE WHEN x[1] IS NULL OR x[2] = 1.0 THEN a[1]
      |              WHEN thr IS NOT NULL AND a[1] IS NOT NULL
      |                   AND abs(x[1] - a[1]) > thr THEN a[1]
      |              ELSE x[1] END],
      |        list_concat(a[2:],
      |          [CASE WHEN x[1] IS NOT NULL AND x[2] = 0.0 AND thr IS NOT NULL
      |                     AND a[1] IS NOT NULL AND abs(x[1] - a[1]) > thr
      |                THEN 1.0 ELSE 0.0 END])))[2:]) AS bwd
      |  FROM fwd_pass
      |)
      |SELECT user_id, u.e.ts AS ts, u.e.v AS value,
      |       (u.e.f1 = 1.0 OR u.e.f2 = 1.0) AS flag_single_delta
      |FROM bwd_pass,
      |  UNNEST(list_transform(range(1, len(arr) + 1),
      |    i -> struct_pack(ts := arr[i].ts, v := arr[i].v,
      |                     f1 := fwd[i], f2 := bwd[i]))) AS u(e)""".stripMargin)

  // ---- §2.12 low-tubal-rank tensor completion (FFT variant; tolerance-
  // based validation in ImputeSpec, no SQL oracle — SURVEY §7 hard-part #3)
  // Reference: impute_latc_tubal
  // (src/pudl/analysis/timeseries_cleaning.py:648-764).
  lane("q81_tubal_impute") { (s, dir) =>
    val tensor = t(s, dir, "events")
      .withColumn("day", dayofyear(col("ts")) - 1)
      .withColumn("hod", hour(col("ts")))
      .withColumn("ubucket", (col("user_id") % 8).cast("int"))
      .groupBy(col("event_type"), col("day"), col("ubucket"), col("hod"))
      .agg(avg(col("value")).as("v"))
      .withColumn("v", when(col("day") % 11 === 0, lit(null)).otherwise(col("v")))
    graft.impute.TubalCompletion.imputeDf(tensor, "event_type", "day",
      "ubucket", "hod", "v", rank = 2, iters = 30)
  }

  // ---- as-of join (merge_asof / DuckDB ASOF JOIN twin) -------------------
  // Each event picks the user's most recent order day at-or-before the
  // event time. Right side pre-aggregated to unique (user, day) so the
  // match is unambiguous; day totals in exact integer cents so both
  // engines produce the identical double.
  lane("q105_asof_join") { (s, dir) =>
    val right = t(s, dir, "orders")
      .groupBy(col("o_custkey").as("user_id"), col("o_orderdate").as("ots"))
      .agg(max(col("o_orderkey")).as("last_order_id"),
        (sum(round(col("o_totalprice") * 100).cast("long")) / 100.0)
          .as("day_total"))
    val left = t(s, dir, "events").select("event_id", "user_id", "ts")
    TemporalOps.asofJoin(left, right, Seq("user_id"), "ts", "ots",
        matchedTsName = "order_ts")
      .select("event_id", "user_id", "ts", "order_ts", "last_order_id",
        "day_total")
  }.oracle(
    """WITH r AS (
      |  SELECT o_custkey AS user_id, o_orderdate AS ots,
      |    max(o_orderkey) AS last_order_id,
      |    sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS day_total
      |  FROM orders GROUP BY 1, 2)
      |SELECT e.event_id, e.user_id, e.ts, r.ots AS order_ts,
      |  r.last_order_id, r.day_total
      |FROM events e ASOF LEFT JOIN r
      |  ON e.user_id = r.user_id AND e.ts >= r.ots""".stripMargin)

  // ---- range join: events inside anchor events' 4-hour follow-up window -
  // Binned-blocking interval join (equi-join on (user, bucket) + exact
  // BETWEEN inside buckets — never a nested loop); oracle is DuckDB's
  // native inequality join. Buckets (6 h) deliberately misaligned with
  // the interval length (4 h) so spanning intervals are exercised.
  lane("q106_interval_join") { (s, dir) =>
    val events = t(s, dir, "events")
    val intervals = events.where(col("event_id") % 37 === 0)
      .select(col("user_id"), col("event_id").as("anchor_id"),
        col("ts").as("start_ts"),
        (col("ts") + expr("INTERVAL 4 HOURS")).as("end_ts"))
    val points = events.select("event_id", "user_id", "ts")
    TemporalOps.intervalJoin(points, intervals, Seq("user_id"),
        "ts", "start_ts", "end_ts", bucketSeconds = 6L * 3600)
      .select("event_id", "user_id", "ts", "anchor_id", "start_ts", "end_ts")
  }.oracle(
    """SELECT e.event_id, e.user_id, e.ts, a.event_id AS anchor_id,
      |  a.ts AS start_ts, a.ts + INTERVAL 4 HOUR AS end_ts
      |FROM events e JOIN events a
      |  ON e.user_id = a.user_id
      | AND a.event_id % 37 = 0
      | AND e.ts BETWEEN a.ts AND a.ts + INTERVAL 4 HOUR""".stripMargin)

  // ---- analytics: ordered-step funnel ------------------------------------
  // view -> click -> purchase within 72h of the first view, greedy-
  // earliest chain per user; one exchange, three stacked windows.
  lane("q146_funnel") { (s, dir) =>
    operators.WindowOps.funnel(t(s, dir, "events"), "user_id", "ts",
      "event_type", Seq("view", "click", "purchase"), within = "72 hours")
  }.oracle(
    // Funnel replay: per-user chained conditional minima (step i > step
    // i-1, all within 72h of step 1), joined step by step.
    """WITH s1 AS (
      |  SELECT user_id,
      |    min(CASE WHEN event_type = 'view' THEN ts END) AS step1_ts
      |  FROM events GROUP BY 1),
      |s2 AS (
      |  SELECT e.user_id,
      |    min(CASE WHEN event_type = 'click' AND e.ts > s1.step1_ts
      |             AND e.ts <= s1.step1_ts + INTERVAL 72 HOUR
      |        THEN e.ts END) AS step2_ts
      |  FROM events e JOIN s1 USING (user_id) GROUP BY 1),
      |s3 AS (
      |  SELECT e.user_id,
      |    min(CASE WHEN event_type = 'purchase' AND e.ts > s2.step2_ts
      |             AND e.ts <= s1.step1_ts + INTERVAL 72 HOUR
      |        THEN e.ts END) AS step3_ts
      |  FROM events e JOIN s1 USING (user_id) JOIN s2 USING (user_id)
      |  GROUP BY 1)
      |SELECT user_id, step1_ts, step2_ts, step3_ts,
      |  CAST((CASE WHEN step1_ts IS NULL THEN 0 ELSE 1 END)
      |     + (CASE WHEN step2_ts IS NULL THEN 0 ELSE 1 END)
      |     + (CASE WHEN step3_ts IS NULL THEN 0 ELSE 1 END) AS BIGINT)
      |    AS steps_completed
      |FROM s1 JOIN s2 USING (user_id) JOIN s3 USING (user_id)""".stripMargin)

  // ---- screens: EWMA smoother + deviation flag ---------------------------
  // alpha = 1/4 over each user's event series; |x - ewma_prev| > 150
  // flags spikes against the smoothed level (value sd ~ 49, so flags are
  // the genuine tail). Sequential per-series fold in flatMapGroups.
  lane("q152_ewma_screen") { (s, dir) =>
    operators.TimeseriesScreens.ewmaScreen(t(s, dir, "events"),
      "user_id", "ts", "event_id", "value", threshold = 150.0)
  }.oracle(
    // EWMA replay: per-series ordered fold via list_reduce (the q78
    // flat-state pattern) in exact BIGINT micro-units — a float fold is
    // not ulp-replayable across engines (FMA contraction), so the state
    // is fixed-point by design: E' = (X + 3E + 2) // 4.
    """WITH g AS (
      |  SELECT user_id,
      |    list(struct_pack(ts := epoch_us(ts), id := event_id, v := value)
      |      ORDER BY epoch_us(ts), event_id) AS arr
      |  FROM events GROUP BY 1),
      |e AS (
      |  SELECT user_id, arr,
      |    list_reduce(list_transform(arr,
      |        s -> [CAST(round(CAST(s.v AS DOUBLE) * 1000000) AS BIGINT)]),
      |      (acc, x) -> acc ||
      |        [(1 * x[1] + 3 * acc[len(acc)] + 2) // 4]) AS ew
      |  FROM g),
      |x AS (
      |  SELECT user_id, arr, ew,
      |    list_transform(arr,
      |      s -> CAST(round(CAST(s.v AS DOUBLE) * 1000000) AS BIGINT)) AS xs
      |  FROM e)
      |SELECT user_id, arr[t.i].ts AS ts_us, arr[t.i].id AS event_id,
      |  arr[t.i].v AS value,
      |  CAST(ew[t.i] AS DOUBLE) / 1000000 AS ewma,
      |  CASE WHEN t.i > 1
      |    THEN CAST(xs[t.i] - ew[t.i-1] AS DOUBLE) / 1000000
      |  END AS deviation,
      |  CASE WHEN t.i > 1 THEN abs(xs[t.i] - ew[t.i-1]) > 150000000
      |       ELSE false END AS flag_ewma
      |FROM x, unnest(range(1, len(arr) + 1)) t(i)""".stripMargin)

  // Per-group equal-width binning — the reference's CURRENT load-factor
  // binning (assign_groupwise_load_factor_bins, pandas.cut replay with
  // the bins[0]-only pad and round-9-before-ceil edge discipline,
  // operational_characteristics.py:182-268). q23/q74 cover the
  // ntile/qcut shapes the module previously used; this is the cut twin.
  lane("q182_equal_width_bins") { (s, dir) =>
    graft.operators.Binning.equalWidthBins(
        t(s, dir, "events"), "user_id", "value", nBins = 10)
      .select(col("user_id"), col("event_id"), col("value"),
        col("bin_idx"), round(col("bin_lower"), 6).as("bin_lower"),
        round(col("bin_upper"), 6).as("bin_upper"), col("bin_rank"))
  }.oracle(
    """WITH s AS (
      |  SELECT user_id, min(value) AS lo, max(value) AS hi,
      |    count(DISTINCT value) AS nuniq
      |  FROM events GROUP BY user_id),
      |j AS (
      |  SELECT e.user_id, e.event_id, e.value, s.lo,
      |    s.hi - s.lo AS span, s.nuniq
      |  FROM events e JOIN s USING (user_id)
      |  WHERE s.nuniq > 1 AND e.value IS NOT NULL),
      |b AS (
      |  SELECT user_id, event_id, value, lo,
      |    CASE WHEN span = 0 THEN 0.001 ELSE span * 0.001 END AS pad,
      |    CASE WHEN span = 0 THEN 0.0002 ELSE span / 10 END AS width
      |  FROM j),
      |c AS (
      |  SELECT user_id, event_id, value, lo, pad, width,
      |    CAST(least(greatest(
      |      ceil(round((value - lo) / width, 9)), 1), 10) AS BIGINT)
      |      AS bin_idx
      |  FROM b),
      |d AS (
      |  SELECT user_id, event_id, value, bin_idx,
      |    CASE WHEN bin_idx = 1 THEN lo - pad
      |      ELSE lo + (bin_idx - 1) * width END AS lower_raw,
      |    lo + bin_idx * width AS upper_raw
      |  FROM c)
      |SELECT user_id, event_id, value, bin_idx,
      |  round(lower_raw, 6) AS bin_lower,
      |  round(upper_raw, 6) AS bin_upper,
      |  CAST(dense_rank() OVER (PARTITION BY user_id ORDER BY lower_raw)
      |    AS INT) AS bin_rank
      |FROM d""".stripMargin)

  // Imputation evaluation loop — the reference's simulate_nulls →
  // impute → score harness (timeseries_evaluation.py:512-556) as one
  // query: plant deterministic null runs (length 3, period 17, hashed
  // per-series phase — the documented deterministic twin of the random
  // placement), impute with the q27-style group median over surviving
  // values, and score WMAPE on the planted rows in exact half-cent
  // integers plus a single-division nano ratio.
  lane("q183_impute_eval") { (s, dir) =>
    import graft.impute.ImputationEval
    val gapped = ImputationEval.simulateNullRuns(
      t(s, dir, "events"), "user_id", Seq(col("ts"), col("event_id")),
      "value", period = 17, runLen = 3, seed = "nulls")
    val med = gapped.groupBy(col("user_id"))
      .agg(median(col("v")).as("imputed"))
    ImputationEval.scoreImputation(
        gapped.join(broadcast(med), Seq("user_id")),
        "user_id", "value", "imputed")
      .select("user_id", "n_planted", "abs_err_hc", "truth_hc",
        "wmape_nano")
  }.oracle(
    """WITH g AS (
      |  SELECT user_id, value,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS rn,
      |    ('0x' || substr(md5('nulls_' || user_id::VARCHAR), 1, 15))::BIGINT
      |      % 17 AS phase
      |  FROM events),
      |p AS (
      |  SELECT user_id, value,
      |    ((rn - 1 + phase) % 17) < 3 AS planted,
      |    CASE WHEN ((rn - 1 + phase) % 17) < 3 THEN NULL
      |      ELSE value END AS v
      |  FROM g),
      |med AS (SELECT user_id, median(v) AS imputed FROM p GROUP BY user_id),
      |sc AS (
      |  SELECT p.user_id,
      |    count(*) AS n_planted,
      |    CAST(sum(CAST(abs(round(m.imputed * 200) - round(p.value * 200))
      |      AS BIGINT)) AS BIGINT) AS abs_err_hc,
      |    CAST(sum(CAST(abs(round(p.value * 200)) AS BIGINT)) AS BIGINT)
      |      AS truth_hc
      |  FROM p JOIN med m USING (user_id)
      |  WHERE p.planted GROUP BY p.user_id)
      |SELECT user_id, n_planted, abs_err_hc, truth_hc,
      |  CAST(round(1e9 * abs_err_hc / truth_hc) AS BIGINT) AS wmape_nano
      |FROM sc""".stripMargin)

  // Minimum stable load bin — compute_minimum_stable_bin
  // (operational_characteristics.py:420-477): q182's pandas.cut bins →
  // gaps-and-islands runs of consecutive same-bin hours → lowest bin
  // above "off" with a run of >= 2 — the minimum load factor at which a
  // unit demonstrably runs stable.
  lane("q184_min_stable_bin") { (s, dir) =>
    graft.operators.Binning.minStableBin(
        t(s, dir, "events"), "user_id",
        Seq(col("ts"), col("event_id")), "value", nBins = 10, minRun = 2)
      .select(col("user_id"), col("min_stable_bin_rank"),
        col("min_stable_bin_idx"),
        round(col("min_stable_load_factor"), 6).as("min_stable_load_factor"))
  }.oracle(
    """WITH s AS (
      |  SELECT user_id, min(value) AS lo, max(value) AS hi,
      |    count(DISTINCT value) AS nuniq
      |  FROM events GROUP BY user_id),
      |j AS (
      |  SELECT e.user_id, e.event_id, e.ts, e.value, s.lo,
      |    s.hi - s.lo AS span
      |  FROM events e JOIN s USING (user_id)
      |  WHERE s.nuniq > 1 AND e.value IS NOT NULL),
      |b AS (
      |  SELECT user_id, event_id, ts, lo,
      |    CASE WHEN span = 0 THEN 0.001 ELSE span * 0.001 END AS pad,
      |    CASE WHEN span = 0 THEN 0.0002 ELSE span / 10 END AS width,
      |    CAST(least(greatest(ceil(round((value - lo) /
      |      (CASE WHEN span = 0 THEN 0.0002 ELSE span / 10 END), 9)),
      |      1), 10) AS BIGINT) AS bin_idx
      |  FROM j),
      |c AS (
      |  SELECT user_id, event_id, ts, bin_idx,
      |    CASE WHEN bin_idx = 1 THEN lo - pad
      |      ELSE lo + (bin_idx - 1) * width END AS lower_raw,
      |    dense_rank() OVER (PARTITION BY user_id ORDER BY
      |      CASE WHEN bin_idx = 1 THEN lo - pad
      |        ELSE lo + (bin_idx - 1) * width END) AS bin_rank
      |  FROM b),
      |r AS (
      |  SELECT *, CASE WHEN lag(bin_idx) OVER w IS DISTINCT FROM bin_idx
      |    THEN 1 ELSE 0 END AS chg
      |  FROM c WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |runs AS (
      |  SELECT user_id, bin_idx, bin_rank, lower_raw,
      |    sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS UNBOUNDED PRECEDING) AS rid
      |  FROM r),
      |rl AS (
      |  SELECT user_id, bin_idx, bin_rank, lower_raw, rid,
      |    count(*) AS run_length
      |  FROM runs WHERE bin_rank > 1
      |  GROUP BY user_id, bin_idx, bin_rank, lower_raw, rid)
      |SELECT user_id, CAST(bin_rank AS INT) AS min_stable_bin_rank,
      |  bin_idx AS min_stable_bin_idx,
      |  round(lower_raw, 6) AS min_stable_load_factor
      |FROM (
      |  SELECT *, row_number() OVER (PARTITION BY user_id
      |    ORDER BY bin_rank, bin_idx, lower_raw) AS rn
      |  FROM rl WHERE run_length >= 2)
      |WHERE rn = 1""".stripMargin)

  // The operational-characteristics headline assembly —
  // estimate_operational_characteristics_by_unit
  // (operational_characteristics.py:571-660): one row PER UNIT with max
  // load, load-factor binning (value/max per the reference), minimum
  // stable bin, median heat rate in the max-load bin and in the
  // min-stable bin, and minimum up-time (shortest island of
  // at-or-above-stable positions; the fixture's series index stands in
  // for the reference's consecutive-hour test). Units lacking a stable
  // bin keep the null shell (prep_output_df's left-join contract). The
  // heat-rate twin is a deterministic integer function of event_id (the
  // fixture has no fuel column); its medians land on the half-grid.
  // Ramp-rate summary — summarize_ramp_rates
  // (operational_characteristics.py:269-325): per-unit ramp = Δgeneration
  // per hour over consecutive observations; ramp_down = median of the
  // steepest 5% downward ramps (k = n/20 smallest), ramp_up = median of
  // the k largest. ramp is the single expression Δv·3.6e9/Δµs so both
  // engines fold the identical IEEE double; selection ties break on the
  // series position. Units with < 20 ramps drop (the reference's
  // `having(len >= 20)`).
  lane("q186_ramp_rates_p5") { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val wT = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val ramps = t(s, dir, "events")
      .withColumn("__dv", col("value") - lag(col("value"), 1).over(wT))
      .withColumn("__dus",
        unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(wT))
      .where(col("__dus") > 0 && col("__dv").isNotNull)
      .withColumn("ramp", col("__dv") * lit(3.6e9) / col("__dus"))
      .withColumn("rn", row_number().over(wT))
    val wAsc = Window.partitionBy(col("user_id"))
      .orderBy(col("ramp").asc, col("rn").asc)
    val wDesc = Window.partitionBy(col("user_id"))
      .orderBy(col("ramp").desc, col("rn").desc)
    val ranked = ramps
      .withColumn("up_rk", row_number().over(wDesc))
      .withColumn("dn_rk", row_number().over(wAsc))
      .withColumn("__n", count(lit(1)).over(
        Window.partitionBy(col("user_id"))))
      .where(col("__n") >= 20)
      // explicit floor: a bare double->long cast truncates in Spark but
      // ROUNDS in a DuckDB CAST — floor is the one spelling both agree on
      // (and matches polars' truncating Int64 cast for positive n)
      .withColumn("__k", floor(col("__n") / 20).cast("long"))
    val down = ranked.where(col("dn_rk") <= col("__k"))
      .groupBy(col("user_id"))
      .agg(median(col("ramp")).as("ramp_down_rate"),
        max(col("__n")).as("n_ramps"))
    val upR = ranked.where(col("up_rk") <= col("__k"))
      .groupBy(col("user_id"))
      .agg(median(col("ramp")).as("ramp_up_rate"))
    down.join(upR, Seq("user_id"))
      .select(col("user_id"), col("n_ramps"),
        round(col("ramp_down_rate"), 6).as("ramp_down_rate"),
        round(col("ramp_up_rate"), 6).as("ramp_up_rate"))
  }.oracle(
    """WITH d AS (
      |  SELECT user_id, ts, event_id, value,
      |    value - lag(value) OVER w AS dv,
      |    epoch_us(ts) - lag(epoch_us(ts)) OVER w AS dus
      |  FROM events WINDOW w AS (PARTITION BY user_id
      |    ORDER BY ts, event_id)),
      |ramps AS (
      |  SELECT user_id, ts, event_id, dv * 3.6e9 / dus AS ramp,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS rn
      |  FROM d WHERE dus > 0 AND dv IS NOT NULL),
      |ranked AS (
      |  SELECT user_id, ramp,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY ramp DESC, rn DESC) AS up_rk,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY ramp ASC, rn ASC) AS dn_rk,
      |    count(*) OVER (PARTITION BY user_id) AS n,
      |    CAST(floor(count(*) OVER (PARTITION BY user_id) / 20.0)
      |      AS BIGINT) AS k
      |  FROM ramps),
      |dn AS (
      |  SELECT user_id, median(ramp) AS ramp_down_rate, max(n) AS n_ramps
      |  FROM ranked WHERE n >= 20 AND dn_rk <= k GROUP BY user_id),
      |up AS (
      |  SELECT user_id, median(ramp) AS ramp_up_rate
      |  FROM ranked WHERE n >= 20 AND up_rk <= k GROUP BY user_id)
      |SELECT user_id, n_ramps,
      |  round(ramp_down_rate, 6) AS ramp_down_rate,
      |  round(ramp_up_rate, 6) AS ramp_up_rate
      |FROM dn JOIN up USING (user_id)""".stripMargin)

  // Flag summary — the reference's summarize_flags
  // (timeseries_evaluation.py:468-482, per-flag counts over the screen
  // output): q71's flag pipeline rolled up per (series, flag) with the
  // per-series total and an exact nano rate. The summary is one
  // map-side-combinable count on top of the pipeline's windows.
  lane("q187_flag_summary") { (s, dir) =>
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
    flagPipeline.build(s, dir)
      .groupBy(col("user_id"), col("flag"))
      .agg(count(lit(1)).as("n"))
      .withColumn("n_total", sum(col("n")).over(w))
      .withColumn("flag_rate_nano",
        round(lit(1e9) * col("n") / col("n_total")).cast("long"))
  }.oracle(
    s"""WITH base AS (
      |$q71Sql),
      |g AS (
      |  SELECT user_id, flag, count(*) AS n
      |  FROM base GROUP BY user_id, flag)
      |SELECT user_id, flag, n,
      |  CAST(sum(n) OVER (PARTITION BY user_id) AS BIGINT) AS n_total,
      |  CAST(round(1e9 * n /
      |    CAST(sum(n) OVER (PARTITION BY user_id) AS BIGINT)) AS BIGINT)
      |    AS flag_rate_nano
      |FROM g""".stripMargin)

  lane("q185_unit_characteristics") { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    import graft.operators.Binning
    val ev = t(s, dir, "events")
    val maxes = ev.groupBy(col("user_id"))
      .agg(max(col("value")).as("max_load"))
    val lf = ev.join(broadcast(maxes), Seq("user_id"))
      .withColumn("lf", col("value") / col("max_load"))
      .withColumn("hr", (lit(8) + pmod(col("event_id"), lit(5))).cast("double"))
    // the binned frame feeds FIVE consumers (stable-run scan, max-rank,
    // hr-at-max, hr-at-stable, up-time) — materialize it once instead of
    // re-running the stats + dense-rank window pipeline per reference
    // (minStableBinFromBinned shares the same frame)
    // Measured and NOT kept: a repartition(user_id) before the
    // checkpoint was tried so the five per-user consumers could reuse the
    // partitioning — under AQE the checkpointed LogicalRDD reports
    // unknown/coalesced partitioning, the consumer Exchanges stay
    // (plan identical: 30 Exchanges either way), and the extra shuffle
    // would be pure cost.
    val binned = Binning.equalWidthBins(lf, "user_id", "lf", nBins = 10)
      .localCheckpoint()
    val stable = Binning.minStableBinFromBinned(binned, "user_id",
      Seq(col("ts"), col("event_id")), minRun = 2)
    val maxRank = binned.groupBy(col("user_id"))
      .agg(max(col("bin_rank")).as("__mr"))
    val hrMax = binned.join(broadcast(maxRank), Seq("user_id"))
      .where(col("bin_rank") === col("__mr"))
      .groupBy(col("user_id")).agg(median(col("hr")).as("hr_at_max_load"))
    val stabIdx = stable.select(col("user_id"), col("min_stable_bin_idx"))
    val hrStable = binned.join(broadcast(stabIdx), Seq("user_id"))
      .where(col("bin_idx") === col("min_stable_bin_idx"))
      .groupBy(col("user_id")).agg(median(col("hr")).as("hr_at_min_stable"))
    val wT = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val up = binned.withColumn("rn", row_number().over(wT))
      .join(broadcast(stabIdx), Seq("user_id"))
      .where(col("bin_idx") >= col("min_stable_bin_idx"))
      .withColumn("__isl", col("rn") - row_number().over(wT))
      .groupBy(col("user_id"), col("__isl"))
      .agg(count(lit(1)).as("__len"))
      .groupBy(col("user_id")).agg(min(col("__len")).as("min_up_time_hours"))
    maxes
      .join(stable, Seq("user_id"), "left")
      .join(hrMax, Seq("user_id"), "left")
      .join(hrStable, Seq("user_id"), "left")
      .join(up, Seq("user_id"), "left")
      .select(col("user_id"), round(col("max_load"), 2).as("max_load"),
        col("min_stable_bin_rank"),
        round(col("min_stable_load_factor"), 6).as("min_stable_load_factor"),
        round(col("hr_at_max_load"), 6).as("hr_at_max_load"),
        round(col("hr_at_min_stable"), 6).as("hr_at_min_stable"),
        col("min_up_time_hours"))
  }.oracle(
    """WITH mload AS (
      |  SELECT user_id, max(value) AS max_load FROM events GROUP BY 1),
      |base AS (
      |  SELECT e.user_id, e.event_id, e.ts, e.value / m.max_load AS lf,
      |    CAST(8 + e.event_id % 5 AS DOUBLE) AS hr
      |  FROM events e JOIN mload m USING (user_id)),
      |s AS (
      |  SELECT user_id, min(lf) AS lo, max(lf) AS hi,
      |    count(DISTINCT lf) AS nuniq
      |  FROM base GROUP BY 1),
      |j AS (
      |  SELECT b.*, s.lo, s.hi - s.lo AS span
      |  FROM base b JOIN s USING (user_id)
      |  WHERE s.nuniq > 1 AND b.lf IS NOT NULL),
      |bnd AS (
      |  SELECT user_id, event_id, ts, hr, lo,
      |    CASE WHEN span = 0 THEN 0.001 ELSE span * 0.001 END AS pad,
      |    CASE WHEN span = 0 THEN 0.0002 ELSE span / 10 END AS width,
      |    CAST(least(greatest(ceil(round((lf - lo) /
      |      (CASE WHEN span = 0 THEN 0.0002 ELSE span / 10 END), 9)),
      |      1), 10) AS BIGINT) AS bin_idx
      |  FROM j),
      |c AS (
      |  SELECT *, CASE WHEN bin_idx = 1 THEN lo - pad
      |      ELSE lo + (bin_idx - 1) * width END AS lower_raw,
      |    dense_rank() OVER (PARTITION BY user_id ORDER BY
      |      CASE WHEN bin_idx = 1 THEN lo - pad
      |        ELSE lo + (bin_idx - 1) * width END) AS bin_rank,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS rn
      |  FROM bnd),
      |r AS (
      |  SELECT *, CASE WHEN lag(bin_idx) OVER w IS DISTINCT FROM bin_idx
      |    THEN 1 ELSE 0 END AS chg
      |  FROM c WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |runs AS (
      |  SELECT user_id, bin_idx, bin_rank, lower_raw,
      |    sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS UNBOUNDED PRECEDING) AS rid
      |  FROM r),
      |rl AS (
      |  SELECT user_id, bin_idx, bin_rank, lower_raw, rid,
      |    count(*) AS run_length
      |  FROM runs WHERE bin_rank > 1
      |  GROUP BY user_id, bin_idx, bin_rank, lower_raw, rid),
      |stab AS (
      |  SELECT user_id, bin_rank AS ms_rank, bin_idx AS ms_idx,
      |    lower_raw AS ms_lf
      |  FROM (
      |    SELECT *, row_number() OVER (PARTITION BY user_id
      |      ORDER BY bin_rank, bin_idx, lower_raw) AS qn
      |    FROM rl WHERE run_length >= 2)
      |  WHERE qn = 1),
      |mr AS (SELECT user_id, max(bin_rank) AS mrank FROM c GROUP BY 1),
      |hrmax AS (
      |  SELECT user_id, median(hr) AS hr_at_max_load
      |  FROM c JOIN mr USING (user_id)
      |  WHERE bin_rank = mrank GROUP BY user_id),
      |hrstab AS (
      |  SELECT user_id, median(hr) AS hr_at_min_stable
      |  FROM c JOIN stab USING (user_id)
      |  WHERE bin_idx = ms_idx GROUP BY user_id),
      |upf AS (
      |  SELECT user_id, rn,
      |    row_number() OVER (PARTITION BY user_id ORDER BY rn) AS fn
      |  FROM c JOIN stab USING (user_id)
      |  WHERE bin_idx >= ms_idx),
      |uplen AS (
      |  SELECT user_id, rn - fn AS isl, count(*) AS len
      |  FROM upf GROUP BY user_id, rn - fn),
      |up AS (
      |  SELECT user_id, min(len) AS min_up_time_hours
      |  FROM uplen GROUP BY user_id)
      |SELECT m.user_id, round(m.max_load, 2) AS max_load,
      |  CAST(stab.ms_rank AS INT) AS min_stable_bin_rank,
      |  round(stab.ms_lf, 6) AS min_stable_load_factor,
      |  round(hrmax.hr_at_max_load, 6) AS hr_at_max_load,
      |  round(hrstab.hr_at_min_stable, 6) AS hr_at_min_stable,
      |  up.min_up_time_hours
      |FROM mload m
      |LEFT JOIN stab USING (user_id)
      |LEFT JOIN hrmax USING (user_id)
      |LEFT JOIN hrstab USING (user_id)
      |LEFT JOIN up USING (user_id)""".stripMargin)

  /** q71's oracle, shared verbatim by q187's summary wrapper so the two
    * can never drift. */
  private def q71Sql: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN event_id % 53 = 0 THEN NULL ELSE value END AS v
      |  FROM events),
      |b AS (
      |  SELECT *, CAST(floor(v / 10) AS BIGINT) AS bucket,
      |    lag(CAST(floor(v / 10) AS BIGINT))
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_b,
      |    v - lag(v) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dp,
      |    lead(v) OVER (PARTITION BY user_id ORDER BY ts, event_id) - v AS dn
      |  FROM ev),
      |runs AS (
      |  SELECT *, sum(CASE WHEN prev_b IS DISTINCT FROM bucket THEN 1 ELSE 0 END)
      |    OVER (PARTITION BY user_id ORDER BY ts, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
      |  FROM b),
      |flags AS (
      |  SELECT user_id, event_id, v,
      |    (count(*) OVER (PARTITION BY user_id, run_id) >= 3
      |      AND bucket IS NOT NULL) AS f_run,
      |    (dp IS NOT NULL AND dn IS NOT NULL AND abs(dp) > 25.0
      |      AND abs(dn) > 25.0 AND dp * dn < 0) AS f_spike
      |  FROM runs)
      |SELECT user_id, event_id, v,
      |  CASE WHEN v IS NULL THEN 'missing'
      |       WHEN NOT (v BETWEEN 0 AND 40) THEN 'oob'
      |       WHEN f_run THEN 'identical_run'
      |       WHEN f_spike THEN 'spike'
      |       ELSE 'ok' END AS flag
      |FROM flags""".stripMargin
}
