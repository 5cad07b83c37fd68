package graft.checks

import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.schema.Resource

/** Declarative data-quality check runner (SURVEY §5.3-5.4) — the engine's
  * analogue of the reference's dbt/DuckDB validation layer (920 data_tests
  * under `/root/reference/dbt/models`) and runtime asset checks
  * (`src/pudl/dagster/asset_checks.py:264-351`).
  *
  * Each check compiles to ONE aggregation over the table; `runAll` unions
  * the per-check single-row results — the whole suite is a handful of scans
  * that Catalyst can pipeline, not row-by-row assertions.
  */
object CheckRunner {

  sealed trait Check { def name: String }
  /** PK uniqueness (`pudl_check_fks` / enforce_schema PK check). */
  case class UniqueKey(name: String, keys: Seq[String]) extends Check
  /** No nulls in required column. */
  case class NotNull(name: String, column: String) extends Check
  /** All values within [lo, hi] (nulls pass). */
  case class InRange(name: String, column: String, lo: Double, hi: Double) extends Check
  /** All values in the enum (nulls pass). */
  case class InEnum(name: String, column: String, values: Seq[String]) extends Check
  /** Exact row count golden (dbt `etl_full_row_counts` pattern). */
  case class RowCount(name: String, expected: Long) extends Check
  /** Σa / Σb within [lo, hi] (`expect_columns_ratio` macro). */
  case class ColumnsRatio(name: String, num: String, den: String,
                          lo: Double, hi: Double) extends Check
  /** Per group, |Σ(child parts) - total| <= tol·|total| — the
    * `expect_subcomponents_sum_to_total` macro
    * (`/root/reference/dbt/macros/`): `totalCol` is reported once per
    * group (as max), `partCol` sums over the group's part rows. */
  case class SubcomponentsSum(name: String, groupKeys: Seq[String],
                              partCol: String, totalCol: String,
                              tol: Double) extends Check
  /** Weighted quantile qNum/qDen of `valueCol` (weights `weightCol`)
    * within [lo, hi] — the `weighted_quantile` distribution-bounds macro. */
  case class WeightedQuantileBound(name: String, valueCol: String,
                                   weightCol: String, qNum: Long, qDen: Long,
                                   lo: Double, hi: Double) extends Check
  /** Group totals change within [1-ratio, 1+ratio] between consecutive
    * periods — `expect_column_change_within_ratio` (year-over-year
    * continuity; `asset_checks.py:221-263` group-mean continuity twin). */
  case class ChangeWithinRatio(name: String, periodCol: String,
                               valueCol: String, ratio: Double) extends Check
  /** Row-level `a + b <= threshold · multiplier` with a failure budget —
    * `expect_summed_columns_not_exceed_threshold`
    * (`/root/reference/dbt/macros/expect_summed_columns_not_exceed_threshold.sql`):
    * rows where all three sides are non-null and the sum exceeds count as
    * failures; the check passes while failures <= errorThreshold. */
  case class SummedNotExceed(name: String, colA: String, colB: String,
                             thresholdCol: String, multiplier: Double = 1.0,
                             errorThreshold: Long = 0) extends Check
  /** Functional dependency key → value — `one_value_per_key`
    * (`/root/reference/dbt/macros/one_value_per_key.sql`): fails if any
    * non-null key maps to more than one distinct value. */
  case class OneValuePerKey(name: String, keyCol: String,
                            valueCol: String) extends Check
  /** Referential integrity (`pudl_check_fks`,
    * `/root/reference/src/pudl/validate/integrity.py:109-160`): child rows
    * whose key tuple is absent from the parent. SQL FK semantics — a tuple
    * containing a NULL passes. Cross-table, so the check carries its parent
    * frame; the anti-join broadcasts when the parent key set is small, and
    * at scale the distinct parent keys shuffle once per suite run. */
  case class ForeignKey(name: String, childCols: Seq[String],
                        parent: DataFrame,
                        parentCols: Seq[String]) extends Check

  /** One row per check: (check_name, passed, observed), in the order the
    * checks were given.
    *
    * Execution shape (the part that matters at 100 TB): all checks whose
    * result is a whole-table aggregate with no intermediate grouping —
    * NotNull / InRange / InEnum / RowCount / ColumnsRatio / SummedNotExceed
    * — are FUSED into one `agg` over the input, so a suite of N such checks
    * costs ONE scan, not N (round-11 verdict: q160 was recomputing a
    * lineitem⋈orders join once per check). That one-row aggregate feeds
    * one `inline` of per-check (check_name, passed, observed) structs, and
    * each fused check's row is picked from it by position: every pick
    * reads the whole struct array, so column pruning cannot split the
    * aggregate per check, and the picks share its exchange
    * (`ReusedExchange`) instead of re-scanning. Checks that need their own
    * grouping (UniqueKey, OneValuePerKey, SubcomponentsSum,
    * WeightedQuantileBound, ChangeWithinRatio, ForeignKey) keep their own
    * shapes; when the suite still needs more than one pass over a COMPUTED
    * input (joins, transforms), the input is projected down to exactly the
    * columns the suite references and `localCheckpoint`ed once, so the
    * upstream lineage is computed exactly once.
    *
    * Consequence: `run` is lazy over a bare file scan (the capstone
    * pattern: checks over freshly written parquet) and for any suite that
    * needs one pass; it is eager (one checkpoint job at call time) only
    * when a computed input is shared by several passes. */
  def run(df: DataFrame, checks: Seq[Check]): DataFrame = {
    // an empty suite would otherwise surface as reduce's opaque
    // UnsupportedOperationException at the very end of the method
    require(checks.nonEmpty,
      "CheckRunner.run: empty check list (a suite must declare >= 1 check)")
    val fused = checks.zipWithIndex.filter { case (c, _) => isFusible(c) }
    val scans = checks.size - fused.size + (if (fused.nonEmpty) 1 else 0)
    // Share the input across passes: prune to the referenced columns first
    // so the checkpoint materializes only what the suite reads (a full-width
    // join would otherwise be cached column-complete for a 3-column suite).
    // Round 18 (barrier diet): when the input is already a bare file scan
    // (the capstone pattern — checks run over the freshly-WRITTEN parquet),
    // the checkpoint trades one extra columnar scan for an eager
    // materialization barrier and buys nothing: scanning the files per
    // pass is the cheaper side, and under driver contention every removed
    // barrier stops amplifying. Computed lineages (joins, aggregations)
    // keep the checkpoint — for those, re-running the upstream per pass is
    // the expensive side.
    val in =
      if (scans > 1 && !isBareScan(df)) {
        val needed = checks.flatMap(referencedColumns).distinct
        (if (needed.nonEmpty) df.select(needed.map(col): _*) else df)
          .localCheckpoint()
      } else df
    // One aggregate computes every fused counter; one inline turns it into
    // a row per fused check, tagged with the check's position.
    lazy val fusedRows = {
      val aggs = fused.flatMap { case (c, i) => fusedAggs(c, i) }
      in.agg(aggs.head, aggs.tail: _*)
        .select(inline(array(fused.map { case (c, i) => fusedRow(c, i) }: _*)))
    }
    checks.zipWithIndex.map { case (c, i) =>
      if (isFusible(c)) fusedRows.where(col("__i") === i).drop("__i")
      else runOne(in, c)
    }.reduce(_ unionByName _)
  }

  /** True when the frame's optimized plan is just column/filter pruning
    * over a file-source relation — re-scanning it per pass costs less
    * than an eager checkpoint barrier. Anything with a join, aggregate,
    * generator or local data stays on the checkpoint path. */
  private def isBareScan(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    def bare(p: LogicalPlan): Boolean = p match {
      case Project(_, c)  => bare(c)
      case Filter(_, c)   => bare(c)
      case _: org.apache.spark.sql.execution.datasources.LogicalRelation => true
      case _: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation => true
      case _: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => true
      case _ => false
    }
    try bare(df.queryExecution.optimizedPlan) catch { case NonFatal(_) => false }
  }

  private def isFusible(c: Check): Boolean = c match {
    case _: NotNull | _: InRange | _: InEnum | _: RowCount |
         _: ColumnsRatio | _: SummedNotExceed => true
    case _ => false
  }

  /** Input columns a check reads — drives the pre-checkpoint projection. */
  private def referencedColumns(c: Check): Seq[String] = c match {
    case UniqueKey(_, keys)                     => keys
    case NotNull(_, c0)                         => Seq(c0)
    case InRange(_, c0, _, _)                   => Seq(c0)
    case InEnum(_, c0, _)                       => Seq(c0)
    case RowCount(_, _)                         => Nil
    case ColumnsRatio(_, num, den, _, _)        => Seq(num, den)
    case SubcomponentsSum(_, ks, p, t, _)       => ks ++ Seq(p, t)
    case WeightedQuantileBound(_, v, w, _, _, _, _) => Seq(v, w)
    case ChangeWithinRatio(_, p, v, _)          => Seq(p, v)
    case SummedNotExceed(_, a, b, t, _, _)      => Seq(a, b, t)
    case OneValuePerKey(_, k, v)                => Seq(k, v)
    case ForeignKey(_, cc, _, _)                => cc
  }

  /** Row-level failure predicate for the fusible badCount checks. */
  private def badPredicate(c: Check): Column = c match {
    case NotNull(_, c0) => col(c0).isNull
    case InRange(_, c0, lo, hi) =>
      col(c0).isNotNull && !col(c0).between(lo, hi)
    case InEnum(_, c0, vs) =>
      col(c0).isNotNull && !col(c0).isin(vs: _*)
    case SummedNotExceed(_, a, b, t, mult, _) =>
      // Exact decimal literal for the multiplier: decimal inputs then
      // compare in decimal on both engines (a Double literal forced the
      // comparison through binary floating point, which can classify
      // boundary rows differently from the DuckDB oracle's exact
      // decimal arithmetic). Double inputs are unaffected — the literal
      // widens to double exactly as before.
      col(a).isNotNull && col(b).isNotNull && col(t).isNotNull &&
        (col(a) + col(b)) > col(t) * lit(new java.math.BigDecimal(mult.toString))
    case other =>
      throw new IllegalArgumentException(s"not a row-predicate check: $other")
  }

  /** Aggregate expressions a fusible check contributes to the single fused
    * pass; names are suffixed with the check's position so duplicate
    * check shapes coexist. */
  private def fusedAggs(c: Check, i: Int): Seq[Column] = c match {
    case RowCount(_, _) =>
      Seq(count(lit(1)).as(s"__obs_$i"))
    case ColumnsRatio(_, num, den, _, _) =>
      Seq((sum(col(num)) / sum(col(den))).as(s"__r_$i"))
    case rowPred =>
      Seq(count(when(badPredicate(rowPred), 1)).as(s"__obs_$i"))
  }

  /** Per-check (__i, check_name, passed, observed) struct over the fused
    * one-row aggregate; `__i` is the check's position in the suite. */
  private def fusedRow(c: Check, i: Int): Column = {
    val (passed, observed) = c match {
      case RowCount(_, expected) =>
        (col(s"__obs_$i") === expected, col(s"__obs_$i"))
      case ColumnsRatio(_, _, _, lo, hi) =>
        (col(s"__r_$i").between(lo, hi),
          round(col(s"__r_$i") * 1e6).cast("long"))
      case SummedNotExceed(_, _, _, _, _, errT) =>
        (col(s"__obs_$i") <= errT, col(s"__obs_$i"))
      case _ =>
        (col(s"__obs_$i") === 0, col(s"__obs_$i"))
    }
    struct(lit(i).as("__i"), lit(c.name).as("check_name"),
      passed.as("passed"), observed.as("observed"))
  }

  /** Checks that need their own grouping/join — one pass each over the
    * (shared, column-pruned) input. */
  private def runOne(df: DataFrame, check: Check): DataFrame = check match {
    case UniqueKey(n, keys) =>
      df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__n"))
        .agg(count(when(col("__n") > 1, 1)).as("observed"))
        .select(lit(n).as("check_name"), (col("observed") === 0).as("passed"),
          col("observed"))
    case SubcomponentsSum(n, keys, part, total, tol) =>
      df.groupBy(keys.map(col): _*)
        .agg(sum(col(part)).as("__parts"), max(col(total)).as("__total"))
        .agg(count(when(
          abs(col("__parts") - col("__total")) > lit(tol) * abs(col("__total")),
          1)).as("observed"))
        .select(lit(n).as("check_name"), (col("observed") === 0).as("passed"),
          col("observed"))
    case WeightedQuantileBound(n, v, w, qNum, qDen, lo, hi) =>
      df.groupBy(col(v)).agg(sum(col(w)).as("__w"))
        .agg(graft.functions.WeightedQuantile(col(v), col("__w"), qNum, qDen)
          .as("__q"))
        .select(lit(n).as("check_name"),
          col("__q").between(lo, hi).as("passed"),
          round(col("__q") * 1e6).cast("long").as("observed"))
    case ForeignKey(n, cc, parent, pc) =>
      val child = df.select(cc.map(col): _*)
        .where(cc.map(col(_).isNotNull).reduce(_ && _))
      val par = parent
        .select(pc.zip(cc).map { case (p, c) => col(p).as(c) }: _*)
        .distinct()
      child.join(par, cc, "left_anti")
        .agg(count(lit(1)).as("observed"))
        .select(lit(n).as("check_name"), (col("observed") === 0).as("passed"),
          col("observed"))
    case OneValuePerKey(n, k, v) =>
      // ">1 distinct non-null value" ⟺ min(v) < max(v): min/max are
      // map-side-combinable partial aggs, unlike an exact count_distinct
      // (which expands to a two-phase distinct shuffle per key).
      df.where(col(k).isNotNull)
        .groupBy(col(k))
        .agg(min(col(v)).as("__lo"), max(col(v)).as("__hi"))
        .agg(count(when(col("__lo") =!= col("__hi"), 1)).as("observed"))
        .select(lit(n).as("check_name"),
          (col("observed") === 0).as("passed"), col("observed"))
    case ChangeWithinRatio(n, period, v, ratio) =>
      import org.apache.spark.sql.expressions.Window
      df.groupBy(col(period)).agg(sum(col(v)).as("__t"))
        .withColumn("__prev",
          lag(col("__t"), 1).over(Window.orderBy(col(period))))
        .agg(count(when(col("__prev").isNotNull &&
          !(col("__t") / col("__prev")).between(1 - ratio, 1 + ratio), 1))
          .as("observed"))
        .select(lit(n).as("check_name"), (col("observed") === 0).as("passed"),
          col("observed"))
    case fusible =>
      throw new IllegalArgumentException(s"fused, not run alone: $fusible")
  }

  /** Derive the standard check set from a declared Resource (PK unique +
    * required/enum/range per field) — schema metadata drives validation,
    * as in the reference's pandera-from-Resource factory. */
  def fromResource(r: Resource): Seq[Check] = {
    val pk = if (r.primaryKey.nonEmpty)
      Seq(UniqueKey(s"${r.name}:pk_unique", r.primaryKey)) else Nil
    val fieldChecks = r.fields.flatMap { f =>
      val req = if (f.required) Seq(NotNull(s"${r.name}:${f.name}:not_null", f.name)) else Nil
      val en = f.enum.map(v => InEnum(s"${r.name}:${f.name}:enum", f.name, v)).toSeq
      // one-sided bounds enforce with the missing side unbounded
      val rng = (f.min, f.max) match {
        case (None, None) => Nil
        case (lo, hi) =>
          Seq(InRange(s"${r.name}:${f.name}:range", f.name,
            lo.getOrElse(Double.NegativeInfinity),
            hi.getOrElse(Double.PositiveInfinity)))
      }
      req ++ en ++ rng
    }
    pk ++ fieldChecks
  }

}
