package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** The remaining Ruggles screens of the reference's flagging suite
  * (SURVEY §2.12): local outlier via median prediction, anomalous region,
  * bad years, single delta. Together with `WindowOps` (null / negative /
  * identical-run / double-delta / global outlier) this completes the
  * 10-screen suite of
  * `/root/reference/src/pudl/analysis/timeseries_cleaning.py:765-1354`.
  *
  * All but `flagSingleDelta` are pure window expressions — one shuffle on
  * the series key, per-partition sorted evaluation, no driver state; at
  * 100 TB the parallelism unit is the series, which is the natural grain.
  * `flagSingleDelta` is inherently a sequential fixpoint scan, so it runs
  * per-series inside `flatMapGroups` (same distribution story).
  */
object TimeseriesScreens {

  private def keyed(keys: Seq[String], order: Seq[Column]): WindowSpec =
    Window.partitionBy(keys.map(col): _*).orderBy(order: _*)

  /** Exact linear-interpolated quantile (pandas/`quantile_cont` semantics)
    * over a row frame, as a declarative sorted-array expression: with
    * h = (n-1)·q, result = arr[⌊h⌋] + (h-⌊h⌋)·(arr[⌊h⌋+1] - arr[⌊h⌋]).
    * Nulls are dropped from the frame (pandas min_periods=1 behavior). */
  /** Sorted non-null frame contents as an array column — materialize ONCE
    * per distinct frame and derive several quantiles from it; each
    * collect+sort window pass over a sliding frame is O(frame) per row. */
  def sortedFrame(value: Column, w: WindowSpec, before: Int,
                  after: Int): Column =
    array_sort(
      array_compact(collect_list(value).over(w.rowsBetween(-before, after))))

  /** Interpolated quantile from an already-sorted array. */
  def quantileFromSorted(arr: Column, q: Double): Column = {
    val n = size(arr)
    val h = (n - 1).cast("double") * lit(q)
    val lo = element_at(arr, floor(h).cast("int") + 1)
    // try_element_at: the upper index is n+1 when h is integral (ANSI-safe)
    val hi = coalesce(try_element_at(arr, floor(h).cast("int") + 2), lo)
    when(n > 0, lo + (h - floor(h)) * (hi - lo))
  }

  def rollingQuantileExpr(value: Column, q: Double, w: WindowSpec,
                          before: Int, after: Int): Column =
    quantileFromSorted(sortedFrame(value, w, before, after), q)

  /** Horizontal (across-columns) interpolated median, nulls dropped. */
  def horizontalMedian(values: Seq[Column]): Column = {
    val arr = array_sort(array_compact(array(values: _*)))
    val n = size(arr)
    val lo = element_at(arr, ((n + 1) / 2).cast("int"))
    val hi = element_at(arr, (n / 2).cast("int") + 1)
    when(n > 0, (lo + hi) / 2.0)
  }

  /** Median prediction + local-outlier screen —
    * `median_prediction` / `flag_local_outlier`
    * (`/root/reference/src/pudl/analysis/timeseries_cleaning.py:907-970`).
    *
    * pred = m·(1 + medianOfShifts(v - m) / m_long) with m the centered
    * rolling median; a value is flagged HIGH when v > pred + multHi·IQR and
    * LOW when v < pred - multLo·IQR, where IQR is the centered rolling IQR
    * of the offset (v - m). `shifts` are the seasonal lags of the offset
    * whose horizontal median estimates the local cycle (the reference uses
    * ±240 step 24 on hourly data = same hour-of-day across ±10 days).
    *
    * Windows are (before, after) row-frame halves; pandas' centered window
    * of size w maps to before = w/2, after = w - w/2 - 1. Outputs stay
    * unrounded: every step is deterministic IEEE arithmetic, so `pred` and
    * `iqr` are bit-identical across engines (`scale` >= 0 opts into
    * rounding, which can only introduce boundary divergence). */
  def flagLocalOutlier(df: DataFrame, keys: Seq[String], order: Seq[Column],
                       value: Column, window: (Int, Int), longWindow: (Int, Int),
                       shifts: Seq[Int], iqrWindow: (Int, Int),
                       multHi: Double = 3.5, multLo: Double = 2.5,
                       scale: Int = -1): DataFrame = {
    val w = keyed(keys, order)
    val m = rollingQuantileExpr(value, 0.5, w, window._1, window._2)
    val mLong = rollingQuantileExpr(value, 0.5, w, longWindow._1, longWindow._2)
    val withOffset = df
      .withColumn("__m", m)
      .withColumn("__mlong", mLong)
      .withColumn("__off", value - col("__m"))
    val shifted = shifts.map {
      case 0 => col("__off")
      case s if s > 0 => lag(col("__off"), s).over(w)
      case s => lead(col("__off"), -s).over(w)
    }
    def r(c: Column): Column = if (scale >= 0) round(c, scale) else c
    val withPred = withOffset
      .withColumn("__medoff", horizontalMedian(shifted))
      // p75 and p25 share the frame: one collect+sort window pass, not two
      .withColumn("__aq",
        sortedFrame(col("__off"), w, iqrWindow._1, iqrWindow._2))
      .withColumn("pred", r(
        col("__m") * (lit(1.0) +
          col("__medoff") / when(col("__mlong") =!= 0.0, col("__mlong")))))
      .withColumn("iqr", r(
        quantileFromSorted(col("__aq"), 0.75) -
          quantileFromSorted(col("__aq"), 0.25)))
    withPred
      .withColumn("flag_local_hi",
        value > col("pred") + lit(multHi) * col("iqr"))
      .withColumn("flag_local_lo",
        value < col("pred") - lit(multLo) * col("iqr"))
      .drop("__m", "__mlong", "__off", "__medoff", "__aq")
  }

  /** Same semantics as `flagLocalOutlier`, computed per series inside ONE
    * `flatMapGroups` pass with plain arrays — bit-identical output (the
    * quantile/median/prediction arithmetic replicates the declarative
    * expressions operation for operation; `ScreensSpec` asserts exact
    * equality on fixtures).
    *
    * Why it exists: the declarative form runs 3 sliding collect+sort
    * windows + lag/lead chains through `WindowExec`, whose per-function
    * overhead dominates when partitions are small (many short series —
    * exactly the reference's shape). One JVM pass per series removes all
    * of it (measured ~4x on the sf0.1 events screen) while the shuffle
    * profile stays identical: one exchange on the series key.
    *
    * Input columns are fixed: (key: long, orderA: long, orderB: long,
    * value: double); output mirrors `flagLocalOutlier`'s added columns. */
  def flagLocalOutlierFast(df: DataFrame, keyCol: String, tsCol: String,
                           tiebreakCol: String, valueCol: String,
                           window: (Int, Int), longWindow: (Int, Int),
                           shifts: Seq[Int], iqrWindow: (Int, Int),
                           multHi: Double = 3.5,
                           multLo: Double = 2.5): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val shiftArr = shifts.toArray
    df.select(col(keyCol).cast("long"), unix_micros(col(tsCol)),
        col(tiebreakCol).cast("long"), col(valueCol).cast("double"))
      .as[(Long, Long, Long, Option[Double])]
      .groupByKey(_._1)
      .flatMapGroups { (k, it) =>
        val xs = it.toArray.sortBy(r => (r._2, r._3))
        val n = xs.length
        val v = xs.map(_._4)
        // interpolated quantile of the sorted non-null frame [i-b, i+a]
        def frameQuantile(src: Array[Option[Double]], i: Int, b: Int, a: Int,
                          q: Double): Double = {
          val lo = math.max(0, i - b); val hi = math.min(n - 1, i + a)
          val arr = new Array[Double](hi - lo + 1)
          var m = 0
          var j = lo
          while (j <= hi) {
            src(j) match { case Some(x) => arr(m) = x; m += 1; case None => () }
            j += 1
          }
          if (m == 0) return Double.NaN
          java.util.Arrays.sort(arr, 0, m)
          val h = (m - 1).toDouble * q
          val fi = math.floor(h).toInt
          val l = arr(fi)
          val u = if (fi + 1 < m) arr(fi + 1) else l
          l + (h - math.floor(h)) * (u - l)
        }
        val m = new Array[Double](n)
        var i = 0
        while (i < n) { m(i) = frameQuantile(v, i, window._1, window._2, 0.5); i += 1 }
        val mLong = Array.tabulate(n)(i =>
          frameQuantile(v, i, longWindow._1, longWindow._2, 0.5))
        val off: Array[Option[Double]] = Array.tabulate(n)(i =>
          v(i).map(_ - m(i)))
        // horizontal median of shifted offsets: (lo + hi) / 2 on the sorted
        // non-null values, 1-based integer indices — mirrors horizontalMedian
        val medoff = Array.tabulate(n) { i =>
          val vals = shiftArr.flatMap { s =>
            val j = i - s // lag(s) = value s positions earlier; lead = -s
            if (j >= 0 && j < n) off(j) else None
          }.sorted
          val c = vals.length
          if (c == 0) Double.NaN
          else (vals((c + 1) / 2 - 1) + vals(c / 2)) / 2.0
        }
        val out = xs.zipWithIndex.iterator.map { case ((_, ts, tb, vv), i) =>
          val p75 = frameQuantile(off, i, iqrWindow._1, iqrWindow._2, 0.75)
          val p25 = frameQuantile(off, i, iqrWindow._1, iqrWindow._2, 0.25)
          val iqr = p75 - p25
          val pred =
            if (mLong(i) == 0.0 || mLong(i).isNaN || medoff(i).isNaN ||
              m(i).isNaN) Double.NaN
            else m(i) * (1.0 + medoff(i) / mLong(i))
          val predOpt = if (pred.isNaN) None else Some(pred)
          val iqrOpt = if (iqr.isNaN) None else Some(iqr)
          val hi = for { x <- vv; p <- predOpt; q <- iqrOpt }
            yield x > p + multHi * q
          val lo = for { x <- vv; p <- predOpt; q <- iqrOpt }
            yield x < p - multLo * q
          (k, ts, tb, vv, predOpt, iqrOpt, hi, lo)
        }
        out
      }
      .toDF(keyCol, "__ts_us", tiebreakCol, valueCol, "pred", "iqr",
        "flag_local_hi", "flag_local_lo")
      .withColumn(tsCol, timestamp_micros(col("__ts_us")))
      .drop("__ts_us")
  }

  /** Anomalous-region screen — unflagged values surrounded by enough
    * flagged values get flagged too. `flag_anomalous_region`
    * (`/root/reference/src/pudl/analysis/timeseries_cleaning.py:1186-1229`).
    *
    * An unflagged value is flagged when ALL hold (hw = window/2):
    *  - a flagged value appears in its trailing hw rows (full frame only),
    *  - a flagged value appears in its leading hw rows (shift of the above
    *    by hw-1; the reference's np.roll wraps around the series end — we
    *    treat out-of-range as false instead, a boundary-only deviation),
    *  - its run of consecutive unflagged values is <= hw long,
    *  - some full centered window of size `window` covering it has more
    *    than `threshold` fraction flagged.
    * Pure integer/boolean window logic — engine-exact, no float rounding. */
  def flagAnomalousRegion(df: DataFrame, keys: Seq[String], order: Seq[Column],
                          flagged: Column, window: Int = 48,
                          threshold: Double = 0.15,
                          out: String = "flag_region"): DataFrame = {
    val hw = window / 2
    val w = keyed(keys, order)
    val f = flagged.cast("int")
    val trailing = w.rowsBetween(-(hw - 1), 0)
    val isAfter = (count(lit(1)).over(trailing) === hw) &&
      (sum(f).over(trailing) >= 1)
    val centered = w.rowsBetween(-(window / 2), window - window / 2 - 1)
    val innerValid = count(lit(1)).over(centered) === window
    val innerVal = innerValid &&
      (sum(f).over(centered).cast("double") / window > threshold)
    val step1 = df
      .withColumn("__flagged", flagged)
      .withColumn("__is_after", isAfter)
      .withColumn("__inner_valid", innerValid.cast("int"))
      .withColumn("__inner_val", innerVal.cast("int"))
    // run ids of consecutive equal flag states, for the short-run test
    val step2 = WindowOps.runIds(step1, keys, order, col("__flagged"), "__run")
    val wRun = Window.partitionBy((keys :+ "__run").map(col): _*)
    val runLen = count(lit(1)).over(wRun)
    val isNotRun = when(col("__flagged"), lit(true)).otherwise(runLen <= hw)
    val isBefore = coalesce(
      lead(col("__is_after"), hw - 1).over(w), lit(false))
    val isRegion = (sum(col("__inner_valid")).over(centered) === window) &&
      (max(col("__inner_val")).over(centered) === 1)
    step2
      .withColumn(out,
        !col("__flagged") && col("__is_after") && isBefore && isNotRun && isRegion)
      .drop("__flagged", "__is_after", "__inner_valid", "__inner_val", "__run")
  }

  /** Bad-period screen — flag whole (series, period) groups with too little
    * data. `flag_bad_years`
    * (`/root/reference/src/pudl/analysis/timeseries_cleaning.py:1231-1294`),
    * with the period grain parameterized (the reference hard-codes year).
    *
    * coverage = hours from first to last non-null value + 1; a period is bad
    * when coverage < minData, or when nonNull/coverage < minDataFraction AND
    * the period already has a non-missing flag. Returns the input plus
    * `coverage_hours`, `data_fraction`, `flag_bad_period`. */
  def flagBadPeriods(df: DataFrame, keys: Seq[String], tsCol: String,
                     value: Column, hasOtherFlag: Column,
                     period: Column, minData: Double,
                     minDataFraction: Double): DataFrame = {
    val withPeriod = df.withColumn("__period", period)
      .withColumn("__v", value)
      .withColumn("__oflag", hasOtherFlag)
    val grp = withPeriod
      .groupBy((keys.map(col) :+ col("__period")): _*)
      .agg(
        min(when(col("__v").isNotNull, col(tsCol))).as("__first"),
        max(when(col("__v").isNotNull, col(tsCol))).as("__last"),
        count(col("__v")).as("__n"),
        max(col("__oflag").cast("int")).as("__has_flags"))
      .withColumn("coverage_hours",
        (unix_micros(col("__last")) - unix_micros(col("__first")))
          .cast("double") / lit(3.6e9) + lit(1.0))
      .withColumn("data_fraction",
        col("__n").cast("double") / col("coverage_hours"))
      .withColumn("flag_bad_period",
        coalesce(col("coverage_hours") < minData, lit(true)) ||
          (col("data_fraction") < minDataFraction && col("__has_flags") === 1))
      .select((keys.map(col) :+ col("__period") :+ col("coverage_hours") :+
        col("data_fraction") :+ col("flag_bad_period")): _*)
    withPeriod.join(grp, keys :+ "__period", "left")
      .withColumnRenamed("__period", "period")
      .drop("__v", "__oflag")
  }

  /** Single-delta screen — values very different from their nearest
    * unflagged neighbor, evaluated as a sequential forward pass then a
    * reverse pass (`_find_single_delta` / `flag_single_delta`,
    * `/root/reference/src/pudl/analysis/timeseries_cleaning.py:1047-1185`).
    * The fixpoint scan is inherently order-sequential, so it runs per
    * series inside `flatMapGroups` — the cluster parallelizes across
    * series, the scan stays local (SURVEY §7 hard-part #3 pattern).
    *
    * Simplified faithfully: a value is flagged when its |diff| to the
    * previous surviving value exceeds `multiplier` × the per-series IQR of
    * consecutive diffs (the reference's rolling IQR and relative-median
    * terms collapse to their per-series versions here; deviation noted).
    * Flagged values are removed from the scan, so consecutive outliers
    * chain — exactly the semantics the while-loop implements.
    *
    * Input: (keys..., orderTs, value); output adds `flag_single_delta`. */
  def flagSingleDelta(df: DataFrame, keyCol: String, tsCol: String,
                      valueCol: String, multiplier: Double = 5.0): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val rows = df.select(col(keyCol).cast("long"), col(tsCol).cast("long"),
        col(valueCol).cast("double"))
      .as[(Long, Long, Option[Double])]
    rows.groupByKey(_._1).flatMapGroups { (k, it) =>
      val xs = it.toArray.sortBy(_._2)
      val vals = xs.map(_._3)
      // per-series IQR of consecutive non-null diffs
      val diffs = vals.sliding(2).collect {
        case Array(Some(a), Some(b)) => b - a
      }.toArray.sorted
      def quant(q: Double): Double =
        if (diffs.isEmpty) Double.NaN
        else {
          val h = (diffs.length - 1) * q
          val i = math.floor(h).toInt
          val lo = diffs(i)
          val hi = diffs(math.min(i + 1, diffs.length - 1))
          lo + (h - i) * (hi - lo)
        }
      val iqr = quant(0.75) - quant(0.25)
      val thr = multiplier * iqr
      val flagged = Array.fill(vals.length)(false)
      def pass(indices: Seq[Int]): Unit = {
        var lastKept: Option[Double] = None
        indices.foreach { i =>
          vals(i) match {
            case Some(v) if !flagged(i) =>
              lastKept match {
                case Some(prev) if !thr.isNaN && math.abs(v - prev) > thr =>
                  flagged(i) = true
                case _ => lastKept = Some(v)
              }
            case _ => ()
          }
        }
      }
      pass(vals.indices)
      pass(vals.indices.reverse)
      xs.zipWithIndex.iterator.map { case ((key, ts, v), i) =>
        (key, ts, v, flagged(i))
      }
    }.toDF(keyCol, tsCol, valueCol, "flag_single_delta")
  }

  /** EWMA smoother + deviation screen — the infinite-memory companion to
    * the rolling-frame screens: `E₁ = X₁`, `E_t = (aN·X_t +
    * (aD−aN)·E_{t−1} + aD/2) DIV aD` in FIXED-POINT micro-units
    * (`X = round(value·10⁶)`), and a row is flagged when
    * `|X_t − E_{t−1}| > threshold·10⁶`. The fixed-point state is the
    * portability decision, learned the hard way: a float fold is NOT
    * ulp-replayable across engines — DuckDB's vectorized `a·b + c`
    * contracts to FMA, so its fold drifts one ulp from the JVM's and 4
    * of 10k rows at sf0.01 rounded across a half boundary. Integer
    * state makes every step exact on both engines by construction (the
    * same trick as semDedup's Lloyd's and q148's DIV updates).
    *
    * No window frame can express the unbounded recursion (powers of
    * (1−α) under/overflow any expanding rewrite), so each series folds
    * sequentially inside `flatMapGroups` — the cluster parallelizes
    * across series, the per-series scan is linear and local, the same
    * distribution story as every screen here.
    *
    * Input: null-free, NON-NEGATIVE `valueCol` (the half-up integer
    * division assumes a non-negative state; ENFORCED — a negative value
    * throws rather than corrupting the fold). Output:
    * (key, ts_us, id, value, ewma, deviation, flag_ewma) with
    * ewma/deviation in original units on the 10⁻⁶ grid; `deviation` is
    * NULL on each series' first row. */
  def ewmaScreen(df: DataFrame, keyCol: String, tsCol: String,
                 idCol: String, valueCol: String, threshold: Double,
                 alphaNum: Int = 1, alphaDen: Int = 4): DataFrame = {
    val fold = EwmaFold(alphaNum, alphaDen, threshold)
    val spark = df.sparkSession
    import spark.implicits._
    val rows = df.select(col(keyCol).cast("long"),
        unix_micros(col(tsCol)), col(idCol).cast("long"),
        col(valueCol).cast("double"))
      .as[(Long, Long, Long, Double)]
    rows.groupByKey(_._1).flatMapGroups { (u, it) =>
      fold.scan(None, it.toArray.sortBy(t => (t._2, t._3)))(_._4,
          t => s"ewmaScreen requires non-negative $valueCol, got ${t._4} (key=$u)") {
        case ((_, ts, id, v), ewma, dev, flag) => (u, ts, id, v, ewma, dev, flag)
      }._1.iterator
    }.toDF(keyCol, "ts_us", idCol, valueCol, "ewma", "deviation",
      "flag_ewma")
  }

  /** The fixed-point EWMA fold of [[ewmaScreen]] and its streaming twins
    * (`EventStreams.EwmaProcessor`, `OrderedEwmaProcessor`), so batch and
    * stream agree bit for bit by construction. Alpha outside (0, 1]
    * throws when one is built. */
  private[graft] final case class EwmaFold(alphaNum: Int, alphaDen: Int,
                                           threshold: Double) {
    require(alphaDen >= 1 && alphaNum >= 1 && alphaNum <= alphaDen,
      "need 0 < alphaNum/alphaDen <= 1")
    private val thrMicro = math.round(threshold * 1000000L)

    /** Folds `rows`, in series order, onto `prev` (the last ewma in
      * micro-units; None at a series start, never a negative sentinel),
      * mapping each through `out` with its ewma, deviation (None first)
      * and flag in original units. A negative value fails with
      * `fail(row)`. Returns the outputs and the new state. */
    def scan[A, B](prev: Option[Long], rows: scala.collection.Seq[A])(
        value: A => Double, fail: A => String)(
        out: (A, Double, Option[Double], Boolean) => B)
        : (scala.collection.Seq[B], Option[Long]) = {
      var state = prev
      val outs = rows.map { r =>
        val x = math.round(value(r) * 1000000L)
        require(x >= 0L, fail(r))
        val e = state.fold(x)(p => Math.floorDiv(
          alphaNum * x + (alphaDen - alphaNum) * p + alphaDen / 2, alphaDen))
        val dev = state.map(x - _)
        state = Some(e)
        out(r, e / 1000000.0, dev.map(_ / 1000000.0),
          dev.exists(d => math.abs(d) > thrMicro))
      }
      (outs, state)
    }
  }
}
