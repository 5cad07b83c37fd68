package graft.checks

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Single-pass table profiler — the data-quality reconnaissance step every
  * large-scale pipeline runs before trusting a new source (the engine-side
  * sibling of the reference's pandera/dbt check layer,
  * `/root/reference/src/pudl/validate/dbt.py:145-189`, which validates
  * DECLARED expectations; the profiler DISCOVERS the distributions those
  * expectations are written against).
  *
  * Per column: row count, null count, distinct-count estimate (KMV sketch
  * — exact below the sketch size, bounded O(k) state above it), and
  * min/max (numeric columns in `min_num`/`max_num`, everything else
  * rendered to `min_str`/`max_str`).
  *
  * Scale shape: ONE scan + ONE aggregate for the whole profile — all
  * columns' statistics are aggregate expressions in the same
  * `agg(...)`, so the table is read once and the aggregation state is
  * (#cols × k) longs regardless of row count or key cardinality (never
  * a multi-`count(distinct)` Expand blowup). The per-column pivot to
  * output rows is a plan-time `explode(array(struct...))` over the
  * single aggregated row.
  *
  * The KMV sketch hashes each value's string form (the portable hash),
  * so float and double columns are normalized first: −0.0 becomes 0.0,
  * which `countDistinct` already counts as one value (every NaN renders
  * as "NaN" and needs nothing). The oracle twin cannot replay a floating
  * column's estimate, because double→string renderings differ across
  * engines. */
object Profile {

  def profileTable(df: DataFrame, cols: Seq[String],
                   k: Int = 256): DataFrame = {
    require(cols.nonEmpty, "need at least one column")
    val schema = df.schema
    def isNum(c: String): Boolean = schema(c).dataType match {
      case _: NumericType => true
      case _              => false
    }
    def sketched(c: String): Column = schema(c).dataType match {
      case t @ (FloatType | DoubleType) =>
        when(col(c) === lit(0.0), lit(0.0).cast(t)).otherwise(col(c))
      case _ => col(c)
    }
    val aggs: Seq[Column] = count(lit(1)).as("__n") +: cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"__nn_$c"),
        graft.functions.KmvSketch(sketched(c), k).as(s"__nd_$c"),
        (if (isNum(c)) min(col(c)).cast("double") else lit(null).cast("double"))
          .as(s"__mnn_$c"),
        (if (isNum(c)) max(col(c)).cast("double") else lit(null).cast("double"))
          .as(s"__mxn_$c"),
        (if (isNum(c)) lit(null).cast("string") else min(col(c)).cast("string"))
          .as(s"__mns_$c"),
        (if (isNum(c)) lit(null).cast("string") else max(col(c)).cast("string"))
          .as(s"__mxs_$c"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows = cols.map { c =>
      struct(lit(c).as("column"),
        col("__n").as("n_rows"),
        (col("__n") - col(s"__nn_$c")).as("n_nulls"),
        col(s"__nd_$c").as("n_distinct_est"),
        col(s"__mnn_$c").as("min_num"), col(s"__mxn_$c").as("max_num"),
        col(s"__mns_$c").as("min_str"), col(s"__mxs_$c").as("max_str"))
    }
    one.select(explode(array(rows: _*)).as("__p")).select(col("__p.*"))
  }

  /** Pairwise Pearson correlation matrix over numeric columns — exact
    * and engine-replayable: each column is integer-quantized
    * (`round(x·scale)`) and every moment (Σx, Σx², Σxy) is summed as
    * `decimal(38,0)` — EXACT integer addition, immune to float
    * summation order (the built-in `corr` aggregates doubles and drifts
    * in the last ulp across partitionings). The classical identity
    * `r = (nΣxy − ΣxΣy) / √((nΣx²−(Σx)²)(nΣy²−(Σy)²))` then runs as
    * ONE fixed sequence of double ops on identical integers, rounded at
    * the end. Pearson is scale-invariant, so per-column quantization
    * scales don't bias r — they only set the decimal grid the exact
    * sums live on.
    *
    * Scale shape: ONE scan + ONE aggregate for all
    * `#cols·(#cols+3)/2` moments (bounded state, no per-pair passes);
    * the pair pivot is an `explode` over the single aggregated row.
    * Output: (col_a, col_b, n_rows, corr) for each unordered pair,
    * `corr` rounded to `roundTo`. Rows with a NULL in either column are
    * the caller's concern (quantized NULLs poison the exact sums —
    * filter first); constant columns yield NULL corr (zero variance).
    *
    * `longMoments = true` computes the SAME exact integer moments with
    * long accumulators instead of decimal(38,0) — each product is split
    * into 32-bit halves (`p >> 32`, `p & 0xFFFFFFFF`) summed as two
    * longs (codegen'd primitive adds, no BigDecimal in the hot loop)
    * and recombined exactly into decimal on the one aggregated row, so
    * the output is bit-identical to the decimal path by construction.
    * Safety is RUNTIME-GUARDED from the same pass's count and per-column
    * max|q|: the split sums provably fit 63 bits when every |q| < 2³¹,
    * n ≤ 2³⁰, and n·max|qa|·max|qb| ≤ 2⁹³ for every moment — outside
    * those bounds (≳10⁹ rows or ≳10⁹-scale quantized values: the 100 TB
    * regime) the result row raises instead of emitting wrapped sums;
    * fall back to the decimal path there. Under ANSI mode (the default
    * on Spark 4 and in this library's sessions) an overflowing product
    * throws Spark's own ARITHMETIC_OVERFLOW even earlier — the guard is
    * the defense for non-ANSI deployments, where long arithmetic wraps
    * silently. */
  def correlationMatrix(df: DataFrame, cols: Seq[(String, Int)],
                        roundTo: Int = 6,
                        longMoments: Boolean = false): DataFrame = {
    require(cols.size >= 2, "need at least two columns")
    require(cols.forall(_._2 >= 1), "scales must be >= 1")
    val names = cols.map(_._1)
    val one = if (!longMoments) decimalMoments(df, cols)
      else longMomentsAgg(df, cols)
    val n = col("__n").cast("decimal(38,0)")
    val pairs = names.combinations(2).toSeq.map { case Seq(a, b) =>
      val num = (n * col(s"__p_${a}_$b") - col(s"__s_$a") * col(s"__s_$b"))
        .cast("double")
      val da = (n * col(s"__q_$a") - col(s"__s_$a") * col(s"__s_$a"))
        .cast("double")
      val db = (n * col(s"__q_$b") - col(s"__s_$b") * col(s"__s_$b"))
        .cast("double")
      struct(lit(a).as("col_a"), lit(b).as("col_b"),
        col("__n").as("n_rows"),
        when(da > 0 && db > 0,
          round(num / sqrt(da * db), roundTo)).as("corr"))
    }
    one.select(explode(array(pairs: _*)).as("__c")).select(col("__c.*"))
  }

  /** Decimal-sum moment aggregate: one row with __n, __s_c, __q_c,
    * __p_a_b as decimal(38,0) — exact at any row count. */
  private def decimalMoments(df: DataFrame, cols: Seq[(String, Int)]): DataFrame = {
    def q(c: String, s: Int): Column =
      round(col(c).cast("double") * s).cast("decimal(38,0)")
    val sums: Seq[Column] = count(lit(1)).as("__n") +:
      (cols.flatMap { case (c, s) =>
        Seq(sum(q(c, s)).as(s"__s_$c"),
          sum(q(c, s) * q(c, s)).as(s"__q_$c"))
      } ++
      cols.combinations(2).toSeq.map { case Seq((a, sa), (b, sb)) =>
        sum(q(a, sa) * q(b, sb)).as(s"__p_${a}_$b")
      })
    df.agg(sums.head, sums.tail: _*)
  }

  /** Long-accumulator moment aggregate: identical output schema and
    * VALUES to [[decimalMoments]] (the moments are the same integers,
    * recombined into decimal post-aggregation), with the hot loop on
    * primitive longs. Overflow-guarded at runtime — see the
    * `longMoments` paragraph on [[correlationMatrix]]. */
  private def longMomentsAgg(df: DataFrame, cols: Seq[(String, Int)]): DataFrame = {
    def ql(c: String, s: Int): Column =
      round(col(c).cast("double") * s).cast("long")
    val mask = lit(4294967295L)
    def hi(p: Column): Column = shiftright(p, 32)
    def lo(p: Column): Column = p.bitwiseAND(mask)
    val pairsSeq = cols.combinations(2).toSeq
    val sums: Seq[Column] = count(lit(1)).as("__n") +:
      (cols.flatMap { case (c, s) =>
        val p = ql(c, s) * ql(c, s)
        Seq(sum(ql(c, s)).as(s"__sl_$c"),
          max(abs(ql(c, s))).as(s"__m_$c"),
          sum(hi(p)).as(s"__qh_$c"), sum(lo(p)).as(s"__ql_$c"))
      } ++ pairsSeq.flatMap { case Seq((a, sa), (b, sb)) =>
        val p = ql(a, sa) * ql(b, sb)
        Seq(sum(hi(p)).as(s"__ph_${a}_$b"), sum(lo(p)).as(s"__pl_${a}_$b"))
      })
    val agg = df.agg(sums.head, sums.tail: _*)
    // recombination + guard: everything below runs on ONE row
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    def big(v: BigInt): Column = lit(new java.math.BigDecimal(v.bigInteger))
    val two32 = big(BigInt(2).pow(32))
    val nDec = dec(col("__n"))
    def comb(h: String, l: String): Column = dec(col(h)) * two32 + dec(col(l))
    // per-column: products fit a long (|q| < 2^31) and the plain sum
    // fits (n·max|q| ≤ 2^62); rows ≤ 2^30 bounds every lo-half sum;
    // n·max|qa|·max|qb| ≤ 2^93 bounds every hi-half sum (Σ|hi| ≤
    // n·maxp/2^32 + n ≤ 2^61 + 2^30). An empty/all-null column (max
    // NULL) degrades to NULL moments like the decimal path.
    val colOk = cols.map { case (c, _) =>
      col(s"__m_$c").isNull ||
        (col(s"__m_$c") < lit(2147483648L) &&
          nDec * dec(col(s"__m_$c")) <= big(BigInt(2).pow(62)))
    }.reduce(_ && _)
    val momentPairs = pairsSeq.map { case Seq((a, _), (b, _)) => (a, b) } ++
      cols.map { case (c, _) => (c, c) }
    val hiOk = momentPairs.map { case (a, b) =>
      col(s"__m_$a").isNull || col(s"__m_$b").isNull ||
        nDec * dec(col(s"__m_$a")) * dec(col(s"__m_$b")) <=
          big(BigInt(2).pow(93))
    }.reduce(_ && _)
    val ok = col("__n") <= lit(1073741824L) && colOk && hiOk
    val guardedN = when(ok, col("__n")).otherwise(
      raise_error(concat(lit("correlationMatrix longMoments overflow " +
        "guard tripped (n or quantized magnitudes too large) — use the " +
        "decimal path; n="), col("__n").cast("string"))).cast("long"))
    agg.select(guardedN.as("__n") +:
      (cols.map { case (c, _) => dec(col(s"__sl_$c")).as(s"__s_$c") } ++
        cols.map { case (c, _) => comb(s"__qh_$c", s"__ql_$c").as(s"__q_$c") } ++
        pairsSeq.map { case Seq((a, _), (b, _)) =>
          comb(s"__ph_${a}_$b", s"__pl_${a}_$b").as(s"__p_${a}_$b")
        }): _*)
  }

  /** Per-group ordinary-least-squares fit `y ≈ slope·x + intercept` with
    * the same exact-moment machinery as [[correlationMatrix]]: per group
    * ONE hash aggregation of integer-quantized decimal(38,0) sums (Σx,
    * Σy, Σx², Σy², Σxy), then the closed forms run once per group as a
    * fixed double sequence — partition-order independent, replayable.
    * `slope`/`intercept` are reported on the ORIGINAL units (the
    * quantization scales divide back out exactly — a power-of-ten ratio
    * of the exact integer expressions). Output: keys + (n_rows, slope,
    * intercept, r2), rounded; constant-x groups yield NULLs.
    *
    * Scale: one shuffle on the group key, O(1) state per group — the
    * trend-per-entity pass (degradation slopes, price curves) at any
    * group cardinality. */
  def olsByGroup(df: DataFrame, keys: Seq[String],
                 x: (String, Int), y: (String, Int),
                 roundTo: Int = 6, longMoments: Boolean = false): DataFrame = {
    require(keys.nonEmpty && x._2 >= 1 && y._2 >= 1,
      "need keys and scales >= 1")
    def qz(c: String, s: Int): Column =
      round(col(c).cast("double") * s).cast("decimal(38,0)")
    val (xc, xs) = x
    val (yc, ys) = y
    // `longMoments = true` swaps the per-row decimal(38,0) sums for the
    // [[correlationMatrix]] long split-accumulator form — identical
    // integer moments recombined into decimal PER GROUP, with the same
    // runtime overflow guard evaluated on each group's count and
    // max|q| (any group outside the envelope raises; fall back to the
    // decimal path there). The fold below this aggregate is shared.
    val g = if (!longMoments) df.groupBy(keys.map(col): _*).agg(
      count(lit(1)).as("n_rows"),
      sum(qz(xc, xs)).as("__sx"), sum(qz(yc, ys)).as("__sy"),
      sum(qz(xc, xs) * qz(xc, xs)).as("__sxx"),
      sum(qz(yc, ys) * qz(yc, ys)).as("__syy"),
      sum(qz(xc, xs) * qz(yc, ys)).as("__sxy"))
    else {
      def ql(c: String, s: Int): Column =
        round(col(c).cast("double") * s).cast("long")
      val mask = lit(4294967295L)
      def hi(p: Column): Column = shiftright(p, 32)
      def lo(p: Column): Column = p.bitwiseAND(mask)
      val px = ql(xc, xs) * ql(xc, xs)
      val py = ql(yc, ys) * ql(yc, ys)
      val pxy = ql(xc, xs) * ql(yc, ys)
      val agg = df.groupBy(keys.map(col): _*).agg(
        count(lit(1)).as("n_rows"),
        sum(ql(xc, xs)).as("__sxl"), sum(ql(yc, ys)).as("__syl"),
        max(abs(ql(xc, xs))).as("__mx"), max(abs(ql(yc, ys))).as("__my"),
        sum(hi(px)).as("__xxh"), sum(lo(px)).as("__xxl"),
        sum(hi(py)).as("__yyh"), sum(lo(py)).as("__yyl"),
        sum(hi(pxy)).as("__xyh"), sum(lo(pxy)).as("__xyl"))
      def dec(c: Column): Column = c.cast("decimal(38,0)")
      def big(v: BigInt): Column = lit(new java.math.BigDecimal(v.bigInteger))
      val two32 = big(BigInt(2).pow(32))
      val nDec = dec(col("n_rows"))
      def comb(h: String, l: String): Column =
        dec(col(h)) * two32 + dec(col(l))
      def mOk(m: String): Column = col(m).isNull ||
        (col(m) < lit(2147483648L) &&
          nDec * dec(col(m)) <= big(BigInt(2).pow(62)))
      def hiOk(a: String, b: String): Column =
        col(a).isNull || col(b).isNull ||
          nDec * dec(col(a)) * dec(col(b)) <= big(BigInt(2).pow(93))
      val ok = col("n_rows") <= lit(1073741824L) &&
        mOk("__mx") && mOk("__my") &&
        hiOk("__mx", "__mx") && hiOk("__my", "__my") && hiOk("__mx", "__my")
      agg.select(keys.map(col) ++ Seq(
        when(ok, col("n_rows")).otherwise(
          raise_error(concat(lit("olsByGroup longMoments overflow guard " +
            "tripped for a group — use the decimal path; n="),
            col("n_rows").cast("string"))).cast("long")).as("n_rows"),
        dec(col("__sxl")).as("__sx"), dec(col("__syl")).as("__sy"),
        comb("__xxh", "__xxl").as("__sxx"),
        comb("__yyh", "__yyl").as("__syy"),
        comb("__xyh", "__xyl").as("__sxy")): _*)
    }
    val n = col("n_rows").cast("decimal(38,0)")
    val dx = (n * col("__sxx") - col("__sx") * col("__sx")).cast("double")
    val dy = (n * col("__syy") - col("__sy") * col("__sy")).cast("double")
    val num = (n * col("__sxy") - col("__sx") * col("__sy")).cast("double")
    // slope on quantized units is num/dx; original units multiply by
    // xs/ys (exact power-of-ten ratio applied once)
    val slopeQ = num / dx
    val slope = slopeQ * (xs.toDouble / ys.toDouble)
    val interceptQ = (col("__sy").cast("double") -
      slopeQ * col("__sx").cast("double")) / col("n_rows").cast("double")
    val intercept = interceptQ / ys
    g.select(keys.map(col) ++ Seq(
      col("n_rows"),
      when(dx > 0, round(slope, roundTo)).as("slope"),
      when(dx > 0, round(intercept, roundTo)).as("intercept"),
      when(dx > 0 && dy > 0,
        round(num * num / (dx * dy), roundTo)).as("r2")): _*)
  }

  /** Chi-square test of independence + Cramér's V between two categorical
    * columns — the association audit behind "is source a proxy for
    * language" / feature-leakage checks. Observed counts are one hash
    * aggregation; the FULL R×C grid (including never-observed cells,
    * which still contribute E to the statistic) is the cross join of the
    * two margin frames — bucket-space-sized, never data-sized. Expected
    * counts and contributions are a fixed double sequence over exact
    * integer counts, rounded at the end.
    *
    * Output: one row per grid cell (a, b, observed, expected, contrib)
    * plus the same (chi2, dof, cramers_v, n_rows) totals on every row
    * (window over the grid). */
  def chiSquare(df: DataFrame, aCol: String, bCol: String,
                roundTo: Int = 6): DataFrame = {
    val obs = df.groupBy(col(aCol).as("a"), col(bCol).as("b"))
      .agg(count(lit(1)).as("observed"))
    val ra = obs.groupBy(col("a")).agg(sum(col("observed")).as("__ra"))
    val cb = obs.groupBy(col("b")).agg(sum(col("observed")).as("__cb"))
    val grid = ra.crossJoin(cb)
      .join(obs, Seq("a", "b"), "left")
      .na.fill(0L, Seq("observed"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    // staged: window results materialize as columns before the chi2
    // window reads them (window-over-window in one expression is illegal)
    val cells = grid
      .withColumn("__n", sum(col("observed")).over(w))
      .withColumn("__nA", size(collect_set(col("a")).over(w)).cast("long"))
      .withColumn("__nB", size(collect_set(col("b")).over(w)).cast("long"))
      .withColumn("__exp", col("__ra").cast("double") *
        col("__cb").cast("double") / col("__n").cast("double"))
      .withColumn("__ctr",
        (col("observed").cast("double") - col("__exp")) *
          (col("observed").cast("double") - col("__exp")) / col("__exp"))
    cells
      .withColumn("__chi2", sum(col("__ctr")).over(w))
      .select(col("a"), col("b"), col("observed"),
        round(col("__exp"), roundTo).as("expected"),
        round(col("__ctr"), roundTo).as("contrib"),
        round(col("__chi2"), roundTo).as("chi2"),
        ((col("__nA") - 1) * (col("__nB") - 1)).as("dof"),
        // a single-category column makes min(nA-1, nB-1) = 0: dof is 0,
        // the test is degenerate, and cramers_v is undefined — gate it
        // (NULL) instead of dividing by zero (the olsByGroup dx>0 pattern)
        when(least(col("__nA") - 1, col("__nB") - 1) > 0,
          round(sqrt(col("__chi2") / (col("__n").cast("double") *
            least(col("__nA") - 1, col("__nB") - 1).cast("double"))), roundTo))
          .as("cramers_v"),
        col("__n").as("n_rows"))
  }

  /** Population Stability Index drift report between a reference and a
    * current snapshot of the same bucketed column — the standard
    * distribution-shift monitor for features and corpus mixes
    * (PSI = Σ (pᵢ−qᵢ)·ln(pᵢ/qᵢ); < 0.1 stable, 0.1–0.25 moderate,
    * > 0.25 significant by the usual banking-scorecards convention).
    *
    * Determinism: proportions use add-one smoothing over the UNION of
    * observed buckets — `p = (cnt+1)/(total+B)` with B the bucket count
    * — so empty buckets never divide by zero or ln(0), and every value
    * is one fixed sequence of double ops on exact integers; the per-
    * bucket contribution and total are rounded to `roundTo`.
    *
    * Scale shape: one count aggregate per side (map-side partials,
    * bucket-cardinality output), a full-outer join on the bucket key,
    * and a bucket-count window for the total — all on frames the size
    * of the bucket space, never the data. */
  def psiDrift(ref: DataFrame, cur: DataFrame, bucketCol: String,
               roundTo: Int = 6): DataFrame = {
    def counts(df: DataFrame, out: String): DataFrame =
      df.groupBy(col(bucketCol).as("bucket"))
        .agg(count(lit(1)).as(out))
    val joined = counts(ref, "ref_cnt")
      .join(counts(cur, "cur_cnt"), Seq("bucket"), "full_outer")
      .na.fill(0L, Seq("ref_cnt", "cur_cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1))
    val b = count(lit(1)).over(w)
    val refTot = sum(col("ref_cnt")).over(w)
    val curTot = sum(col("cur_cnt")).over(w)
    val p = (col("ref_cnt") + 1).cast("double") / (refTot + b).cast("double")
    val q = (col("cur_cnt") + 1).cast("double") / (curTot + b).cast("double")
    val contrib = (p - q) * log(p / q)
    joined
      .withColumn("ref_p", round(p, roundTo))
      .withColumn("cur_p", round(q, roundTo))
      .withColumn("psi_contrib", round(contrib, roundTo))
      .withColumn("psi_total", round(sum(contrib).over(w), roundTo))
  }
}
