package graft
package lanes

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.AggFunctions._
import graft.functions.{Cleaning, WeightedQuantile}
import graft.multimodal.BinaryOps
import graft.operators.{Allocation, Dedup, Harvest, PlantParts, Reshape, TemporalOps}
import graft.checks.Profile
import OracleFragments.supplierMonthlyRevenue

/** ETL lanes: aggregation, joins, dedup, reshaping, cleaning, harvesting,
  * allocation, plant-parts grains, layout, sketches, change data capture
  * and the declarative checks. Reference paths are into the PUDL source
  * tree. */
object EtlLanes extends LaneFamily {

  // ---- §2.5 hash aggregation: TPC-H Q1-style pricing summary -------------
  // Reference pattern: time re-aggregation factory sum/avg rollups
  // (src/pudl/output/eia923.py:358-430).
  lane("q01_pricing_summary") { (s, dir) =>
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("sum_disc_price"),
        avg(col("l_quantity")).as("avg_qty"),
        (sum(round(col("l_discount") * 100, 0).cast("long")).cast("double")
          / (lit(100.0) * count(lit(1)))).as("avg_disc"),
        count(lit(1)).as("count_order"))
  }.oracle(
    """SELECT l_returnflag, l_linestatus,
      |  round(sum(l_quantity), 2) AS sum_qty,
      |  round(sum(l_extendedprice), 2) AS sum_base_price,
      |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
      |  avg(l_quantity) AS avg_qty,
      |  CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS DOUBLE)
      |    / (100.0 * count(*)) AS avg_disc,
      |  count(*) AS count_order
      |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin)

  // ---- §2.3 denormalization joins: revenue by region × year --------------
  // Reference pattern: entity denorm joins (src/pudl/output/eia.py:117-332).
  // Dims are broadcast — at 100 TB the fact table never shuffles for these.
  lane("q02_region_revenue") { (s, dir) =>
    t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), year(col("o_orderdate")).as("o_year"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"),
        count(lit(1)).as("n_items"))
  }.oracle(
    """SELECT r_name, CAST(year(o_orderdate) AS INTEGER) AS o_year,
      |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, CAST(year(o_orderdate) AS INTEGER)""".stripMargin)

  // ---- §2.2 filter + projection (pushdown must reach the scan) -----------
  // Reference: organize_cols + drop_invalid_rows
  // (src/pudl/helpers.py:807-828, transform/classes.py:835-903).
  lane("q03_filter_project") { (s, dir) =>
    t(s, dir, "lineitem")
      .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_quantity").isNotNull && col("l_quantity").between(0, 100))
      .select("l_orderkey", "l_linenumber", "l_shipdate", "l_quantity",
        "l_returnflag")
  }.oracle(
    """SELECT l_orderkey, l_linenumber, l_shipdate, l_quantity, l_returnflag
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |  AND l_shipdate < TIMESTAMP '1997-01-01'
      |  AND l_quantity IS NOT NULL AND l_quantity BETWEEN 0 AND 100""".stripMargin)

  // ---- §2.4 freshest-record dedup: latest order per customer -------------
  // Reference: filter_for_freshest_data_xbrl / dedupe_on_category
  // (src/pudl/transform/ferc.py:91-146, helpers.py:1594-1617).
  lane("q04_freshest_order") { (s, dir) =>
    Dedup.keepFirst(t(s, dir, "orders"), Seq("o_custkey"),
      Seq(col("o_orderdate").desc, col("o_orderkey").desc))
      .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
  }.oracle(
    """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice FROM (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY o_custkey
      |    ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |  FROM orders) WHERE rn = 1""".stripMargin)

  // ---- §2.5 weighted average -------------------------------------------
  // Reference: weighted_average (src/pudl/helpers.py:1771-1795).
  lane("q05_weighted_avg") { (s, dir) =>
    t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_nationkey"))
      .agg(
        weightedAvgExact(col("l_discount"), col("l_quantity"), 2).as("wavg_discount"),
        sum(col("l_quantity")).as("sum_qty"))
  }.oracle(
    """SELECT s_nationkey,
      |  CAST(sum(CAST(round(l_discount * 100) AS BIGINT)
      |         * CAST(l_quantity AS BIGINT)) AS DOUBLE)
      |    / (100 * sum(l_quantity)) AS wavg_discount,
      |  sum(l_quantity) AS sum_qty
      |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY s_nationkey""".stripMargin)

  // ---- §2.7 melt / wide_to_tidy -----------------------------------------
  // Reference: wide_to_tidy (src/pudl/transform/ferc1.py:279-395).
  lane("q07_melt") { (s, dir) =>
    Reshape.melt(t(s, dir, "lineitem"),
      idCols = Seq("l_orderkey", "l_linenumber"),
      valueCols = Seq(
        "quantity" -> "l_quantity",
        "extendedprice" -> "l_extendedprice",
        "discount" -> "l_discount"),
      varName = "measure", valueName = "value")
  }.oracle(
    """SELECT l_orderkey, l_linenumber, 'quantity' AS measure,
      |  CAST(l_quantity AS DOUBLE) AS value FROM lineitem
      |UNION ALL
      |SELECT l_orderkey, l_linenumber, 'extendedprice',
      |  CAST(l_extendedprice AS DOUBLE) FROM lineitem
      |UNION ALL
      |SELECT l_orderkey, l_linenumber, 'discount',
      |  CAST(l_discount AS DOUBLE) FROM lineitem""".stripMargin)

  // ---- §2.3 date_merge: temporal-granularity equi-join -------------------
  // Monthly supplier revenue joined to its yearly total at year grain;
  // reference: date_merge (src/pudl/helpers.py:612-718).
  lane("q09_date_merge") { (s, dir) =>
    val li = t(s, dir, "lineitem")
    val monthly = li.groupBy(col("l_suppkey"),
        date_trunc("month", col("l_shipdate")).as("ship_month"))
      .agg(round(sum(col("l_extendedprice")), 2).as("month_rev"))
    val yearly = li.groupBy(col("l_suppkey"),
        date_trunc("year", col("l_shipdate")).as("ship_year"))
      .agg(round(sum(col("l_extendedprice")), 2).as("year_rev"))
    TemporalOps.dateMerge(monthly, yearly, Seq("l_suppkey"),
        leftDate = "ship_month", rightDate = "ship_year", grain = "year")
      .withColumn("rev_share", round(col("month_rev") / col("year_rev"), 6))
  }.oracle(
    s"""WITH $supplierMonthlyRevenue,
      |yearly AS (
      |  SELECT l_suppkey, CAST(date_trunc('year', l_shipdate) AS TIMESTAMP) AS ship_year,
      |    round(sum(l_extendedprice), 2) AS year_rev
      |  FROM lineitem GROUP BY 1, 2)
      |SELECT m.l_suppkey, m.ship_month, m.month_rev, y.year_rev,
      |  round(m.month_rev / y.year_rev, 6) AS rev_share
      |FROM monthly m LEFT JOIN yearly y
      |  ON m.l_suppkey = y.l_suppkey
      |  AND CAST(date_trunc('year', m.ship_month) AS TIMESTAMP) = y.ship_year""".stripMargin)

  // ---- §2.1 changelog: drop consecutive duplicate snapshots --------------
  // Reference: make_changelog (src/pudl/helpers.py:2627-2659).
  lane("q11_changelog") { (s, dir) =>
    TemporalOps.changelog(t(s, dir, "events"),
        keys = Seq("user_id"), order = Seq(col("ts"), col("event_id")),
        tracked = Seq("event_type"))
      .select("user_id", "event_id", "ts", "event_type")
  }.oracle(
    """SELECT user_id, event_id, ts, event_type FROM (
      |  SELECT user_id, event_id, ts, event_type,
      |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |  FROM events)
      |WHERE rn = 1 OR event_type IS DISTINCT FROM prev_type""".stripMargin)

  // ---- §2.3 scale_by_ownership -------------------------------------------
  // Ownership fractions derived from per-order quantity shares; reference:
  // scale_by_ownership (src/pudl/helpers.py:2006-2104).
  lane("q12_scale_by_ownership") { (s, dir) =>
    Allocation.scaleByOwnership(
        t(s, dir, "orders").select("o_orderkey", "o_totalprice"),
        Allocation.quantityShares(t(s, dir, "lineitem")),
        keys = Seq("o_orderkey"), fracCol = "fraction_owned",
        dataCols = Seq("o_totalprice"))
      // no rounding: every operand is bit-identical on both engines (integral
      // quantity sums are exact), so the products match exactly — rounding
      // would *introduce* divergence at boundary-exact values.
      .select(col("o_orderkey"), col("l_suppkey"), col("ownership_record_type"),
        col("o_totalprice").as("totalprice_scaled"), col("fraction_owned"))
  }.oracle(
    """WITH own AS (
      |  SELECT l_orderkey AS o_orderkey, l_suppkey, sum(l_quantity) AS q
      |  FROM lineitem GROUP BY 1, 2),
      |own2 AS (
      |  SELECT o_orderkey, l_suppkey,
      |    q / sum(q) OVER (PARTITION BY o_orderkey) AS fraction_owned
      |  FROM own),
      |joined AS (
      |  SELECT o.o_orderkey, own2.l_suppkey,
      |    coalesce(own2.fraction_owned, 1.0) AS fraction_owned, o.o_totalprice
      |  FROM orders o LEFT JOIN own2 ON o.o_orderkey = own2.o_orderkey)
      |SELECT o_orderkey, l_suppkey, 'owned' AS ownership_record_type,
      |  o_totalprice * fraction_owned AS totalprice_scaled, fraction_owned
      |FROM joined
      |UNION ALL
      |SELECT o_orderkey, l_suppkey, 'total', o_totalprice, fraction_owned
      |FROM joined""".stripMargin)

  // ---- §2.5 sum_na: NULL-poisoning SUM -----------------------------------
  // Reference: sum_na (src/pudl/helpers.py:42-50).
  lane("q13_sum_na") { (s, dir) =>
    t(s, dir, "lineitem")
      .withColumn("v", when(col("l_quantity") > 45, lit(null))
        .otherwise(col("l_extendedprice")))
      .groupBy(col("l_suppkey"))
      .agg(
        round(sumNa(col("v")), 2).as("sum_price_na"),
        count(col("v")).as("n_nonnull"),
        count(lit(1)).as("n_rows"))
  }.oracle(
    """WITH x AS (
      |  SELECT l_suppkey,
      |    CASE WHEN l_quantity > 45 THEN NULL ELSE l_extendedprice END AS v
      |  FROM lineitem)
      |SELECT l_suppkey,
      |  CASE WHEN count(v) = count(*) THEN round(sum(v), 2) END AS sum_price_na,
      |  count(v) AS n_nonnull, count(*) AS n_rows
      |FROM x GROUP BY l_suppkey""".stripMargin)

  // ---- §2.5 harvesting: occurrence-consistency entity resolution ---------
  // Reference: occurrence_consistency (src/pudl/transform/eia.py:122-199).
  lane("q14_harvest_consistency") { (s, dir) =>
    Harvest.occurrenceConsistency(t(s, dir, "orders"),
      entityKeys = Seq("o_custkey"), valueCol = "o_orderpriority",
      strictness = 0.7)
  }.oracle(
    """WITH counts AS (
      |  SELECT o_custkey, o_orderpriority, count(*) AS value_count
      |  FROM orders WHERE o_orderpriority IS NOT NULL GROUP BY 1, 2),
      |ranked AS (
      |  SELECT *,
      |    CAST(sum(value_count) OVER (PARTITION BY o_custkey) AS BIGINT) AS total_count,
      |    row_number() OVER (PARTITION BY o_custkey
      |      ORDER BY value_count DESC, o_orderpriority ASC) AS rk
      |  FROM counts)
      |SELECT o_custkey,
      |  CASE WHEN CAST(value_count AS DOUBLE) / total_count > 0.7
      |    THEN o_orderpriority END AS o_orderpriority,
      |  value_count, total_count,
      |  CAST(value_count AS DOUBLE) / total_count AS rate
      |FROM ranked WHERE rk = 1""".stripMargin)

  // ---- §2.4 best-snapshot dedup (most non-nulls wins) --------------------
  // Reference: __best_snapshot (src/pudl/transform/ferc.py:21-34).
  private def withNullySnapshotCols(df: DataFrame): DataFrame =
    df.withColumn("price_n",
        when(col("o_orderstatus") === "O", lit(null)).otherwise(col("o_totalprice")))
      .withColumn("prio_n",
        when(col("o_orderpriority") === "3-MEDIUM", lit(null))
          .otherwise(col("o_orderpriority")))

  lane("q15_best_snapshot") { (s, dir) =>
    Dedup.bestSnapshot(withNullySnapshotCols(t(s, dir, "orders")),
        keys = Seq("o_custkey"), dataCols = Seq("price_n", "prio_n"),
        tiebreak = Seq(col("o_orderdate").desc, col("o_orderkey").desc))
      .select("o_custkey", "o_orderkey", "price_n", "prio_n")
  }.oracle(
    """WITH snaps AS (
      |  SELECT o_custkey, o_orderkey, o_orderdate,
      |    CASE WHEN o_orderstatus = 'O' THEN NULL ELSE o_totalprice END AS price_n,
      |    CASE WHEN o_orderpriority = '3-MEDIUM' THEN NULL ELSE o_orderpriority END AS prio_n
      |  FROM orders)
      |SELECT o_custkey, o_orderkey, price_n, prio_n FROM (
      |  SELECT *, row_number() OVER (PARTITION BY o_custkey
      |    ORDER BY (CASE WHEN price_n IS NOT NULL THEN 1 ELSE 0 END
      |            + CASE WHEN prio_n IS NOT NULL THEN 1 ELSE 0 END) DESC,
      |      o_orderdate DESC, o_orderkey DESC) AS rn
      |  FROM snaps) WHERE rn = 1""".stripMargin)

  // ---- §2.4 apply-diffs dedup (per-column last non-null) -----------------
  // Reference: __apply_diffs (src/pudl/transform/ferc.py:36-60).
  lane("q16_apply_diffs") { (s, dir) =>
    Dedup.applyDiffs(withNullySnapshotCols(t(s, dir, "orders")),
      keys = Seq("o_custkey"), orderCol = "o_orderkey",
      dataCols = Seq("price_n", "prio_n"))
  }.oracle(
    """WITH snaps AS (
      |  SELECT o_custkey, o_orderkey,
      |    CASE WHEN o_orderstatus = 'O' THEN NULL ELSE o_totalprice END AS price_n,
      |    CASE WHEN o_orderpriority = '3-MEDIUM' THEN NULL ELSE o_orderpriority END AS prio_n
      |  FROM orders)
      |SELECT o_custkey,
      |  arg_max(price_n, CASE WHEN price_n IS NOT NULL THEN o_orderkey END) AS price_n,
      |  arg_max(prio_n, CASE WHEN prio_n IS NOT NULL THEN o_orderkey END) AS prio_n
      |FROM snaps GROUP BY o_custkey""".stripMargin)

  // ---- §2.8 anti-join (get_missing_ids indicator-merge pattern) ----------
  // Reference: get_missing_ids (src/pudl/glue/ferc1_eia.py:356-376).
  lane("q17_anti_join") { (s, dir) =>
    t(s, dir, "customer")
      .join(t(s, dir, "orders").where(col("o_totalprice") > 300000),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name", "c_acctbal")
  }.oracle(
    """SELECT c_custkey, c_name, c_acctbal FROM customer
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_totalprice > 300000)""".stripMargin)

  // ---- §2.5 mixed agg in one pass: sum + weighted avg + unique-or-mixed --
  // Reference: sum_and_weighted_average_agg (src/pudl/helpers.py:1796-1834)
  // + groupby_agg_label_unique_source_or_mixed (:1461-1476).
  lane("q18_mixed_agg") { (s, dir) =>
    t(s, dir, "lineitem")
      .groupBy(col("l_partkey"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        weightedAvgExact(col("l_discount"), col("l_quantity"), 2).as("wavg_discount"),
        uniqueOrMixed(col("l_returnflag")).as("returnflag_label"))
  }.oracle(
    """SELECT l_partkey,
      |  sum(l_quantity) AS sum_qty,
      |  CAST(sum(CAST(round(l_discount * 100) AS BIGINT)
      |         * CAST(l_quantity AS BIGINT)) AS DOUBLE)
      |    / (100 * sum(l_quantity)) AS wavg_discount,
      |  CASE WHEN count(DISTINCT l_returnflag) = 1 THEN min(l_returnflag)
      |    ELSE 'mixed' END AS returnflag_label
      |FROM lineitem GROUP BY l_partkey""".stripMargin)

  // ---- §2.8 top-k per group ----------------------------------------------
  // Reference: get_best_matches top-1
  // (src/pudl/analysis/record_linkage/eia_ferc1_record_linkage.py:251-307).
  lane("q28_topk_per_group") { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    t(s, dir, "events")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("event_type"))
          .orderBy(col("value").desc, col("event_id").asc)))
      .where(col("rk") <= 3)
      .select("event_type", "rk", "event_id", "value")
  }.oracle(
    """SELECT event_type, rk, event_id, value FROM (
      |  SELECT event_type, event_id, value,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY value DESC, event_id ASC) AS rk
      |  FROM events)
      |WHERE rk <= 3""".stripMargin)

  // ---- §2.9 string simplification ----------------------------------------
  // Reference: simplify_strings (src/pudl/helpers.py:829-868).
  lane("q29_simplify_strings") { (s, dir) =>
    t(s, dir, "part")
      .withColumn("messy", concat(lit("  "), upper(col("p_name")), lit("   ")))
      .withColumn("clean", Cleaning.simplifyStrings(col("messy")))
      .select("p_partkey", "messy", "clean")
  }.oracle(
    """SELECT p_partkey, '  ' || upper(p_name) || '   ' AS messy,
      |  trim(regexp_replace(regexp_replace(
      |    lower('  ' || upper(p_name) || '   '),
      |    '[^\x20-\x7e]', '', 'g'), '\s+', ' ', 'g')) AS clean
      |FROM part""".stripMargin)

  // ---- §2.9 zero-pad / leading-zero strip roundtrip ----------------------
  // Reference: zero_pad_numeric_string + remove_leading_zeros_from_numeric_strings
  // (src/pudl/helpers.py:1518-1568,1142-1177).
  lane("q30_zero_pad") { (s, dir) =>
    t(s, dir, "supplier")
      .withColumn("padded", Cleaning.zeroPad(col("s_suppkey").cast("string"), 9))
      .withColumn("roundtrip", col("padded").cast("long").cast("string"))
      .select("s_suppkey", "padded", "roundtrip")
  }.oracle(
    """SELECT s_suppkey,
      |  CASE WHEN regexp_matches(CAST(s_suppkey AS VARCHAR), '^\d+$')
      |    THEN lpad(CAST(s_suppkey AS VARCHAR), 9, '0') END AS padded,
      |  CAST(CAST(lpad(CAST(s_suppkey AS VARCHAR), 9, '0') AS BIGINT) AS VARCHAR)
      |    AS roundtrip
      |FROM supplier""".stripMargin)

  // ---- §2.9 code-table encode (fix/ignore/validate) ----------------------
  // Reference: Encoder.encode (src/pudl/metadata/classes.py:410-634).
  lane("q31_encode") { (s, dir) =>
    Cleaning.encode(s,
        t(s, dir, "customer").withColumn("raw", col("c_mktsegment")),
        column = "c_mktsegment",
        valid = Seq("BUILDING", "AUTOMOBILE", "MACHINERY"),
        fixes = Map("HOUSEHOLD" -> "BUILDING"),
        ignored = Seq("FURNITURE"))
      .select(col("c_custkey"), col("raw"), col("c_mktsegment").as("segment_coded"))
  }.oracle(
    """SELECT c_custkey, c_mktsegment AS raw,
      |  CASE WHEN c_mktsegment IN ('FURNITURE') THEN NULL
      |       WHEN c_mktsegment = 'HOUSEHOLD' THEN 'BUILDING'
      |       WHEN c_mktsegment IN ('BUILDING','AUTOMOBILE','MACHINERY')
      |         THEN c_mktsegment
      |       ELSE NULL END AS segment_coded
      |FROM customer""".stripMargin)

  // ---- §2.9 unit conversion + out-of-range correction --------------------
  // Reference: convert_units + correct_units
  // (src/pudl/transform/classes.py:540-624,659-791).
  lane("q32_convert_units") { (s, dir) =>
    t(s, dir, "lineitem")
      .withColumn("qty_kg", Cleaning.convertUnits(col("l_quantity"), 0.45359237))
      .withColumn("price_corrected",
        Cleaning.correctUnits(col("l_extendedprice"), 0, 50000, 0.001))
      .select("l_orderkey", "l_linenumber", "qty_kg", "price_corrected")
  }.oracle(
    """SELECT l_orderkey, l_linenumber,
      |  l_quantity * 0.45359237 AS qty_kg,
      |  CASE WHEN (l_extendedprice BETWEEN 0 AND 50000)
      |         OR l_extendedprice IS NULL THEN l_extendedprice
      |       ELSE l_extendedprice * 0.001 END AS price_corrected
      |FROM lineitem""".stripMargin)

  // ---- §2.9 date composition / truncation --------------------------------
  // Reference: convert_to_date / month_year_to_date / PERIODS
  // (src/pudl/helpers.py:1082-1141, metadata/dtypes.py:114-123).
  lane("q33_date_compose") { (s, dir) =>
    t(s, dir, "orders")
      .withColumn("y", year(col("o_orderdate")))
      .withColumn("m", month(col("o_orderdate")))
      .withColumn("d", dayofmonth(col("o_orderdate")))
      .withColumn("composed_date", Cleaning.composeDate(col("y"), col("m"), col("d")))
      .withColumn("quarter_start", date_trunc("quarter", col("o_orderdate")))
      .select("o_orderkey", "y", "m", "d", "composed_date", "quarter_start")
  }.oracle(
    """SELECT o_orderkey,
      |  CAST(year(o_orderdate) AS INTEGER) AS y,
      |  CAST(month(o_orderdate) AS INTEGER) AS m,
      |  CAST(day(o_orderdate) AS INTEGER) AS d,
      |  make_date(CAST(year(o_orderdate) AS INTEGER),
      |            CAST(month(o_orderdate) AS INTEGER),
      |            CAST(day(o_orderdate) AS INTEGER)) AS composed_date,
      |  CAST(date_trunc('quarter', o_orderdate) AS TIMESTAMP) AS quarter_start
      |FROM orders""".stripMargin)

  // ---- §2.9 numeric extraction from messy strings ------------------------
  // Reference: strip_non_numeric_values (src/pudl/transform/classes.py:392-439).
  lane("q34_extract_numeric") { (s, dir) =>
    t(s, dir, "events")
      .withColumn("k_str", Cleaning.extractNumeric(col("props")))
      .withColumn("k_value",
        when(col("k_str") === "", lit(null)).otherwise(col("k_str")).cast("long"))
      .select("event_id", "k_value")
  }.oracle(
    """SELECT event_id,
      |  CAST(nullif(regexp_extract(props, '(-?\d+(\.\d+)?)', 1), '') AS BIGINT)
      |    AS k_value
      |FROM events""".stripMargin)

  // ---- §2.9 company-name normalization ------------------------------------
  // Reference: CompanyNameCleaner / enforce_snake_case
  // (src/pudl/analysis/record_linkage/name_cleaner.py:105-400,
  //  transform/classes.py:347-391).
  lane("q35_name_normalize") { (s, dir) =>
    t(s, dir, "supplier")
      .withColumn("name_snake", Cleaning.enforceSnakeCase(col("s_name")))
      .withColumn("name_words",
        trim(regexp_replace(lower(col("s_name")), "[^a-z0-9]+", " ")))
      .select("s_suppkey", "name_snake", "name_words")
  }.oracle(
    """SELECT s_suppkey,
      |  regexp_replace(regexp_replace(trim(lower(s_name)), '[^a-z0-9]+', '_', 'g'),
      |    '^_+|_+$', '', 'g') AS name_snake,
      |  trim(regexp_replace(lower(s_name), '[^a-z0-9]+', ' ', 'g')) AS name_words
      |FROM supplier""".stripMargin)

  // ---- multimodal: opaque binary columns + typed metadata -----------------
  lane("q44_multimodal_meta") { (s, dir) =>
    BinaryOps.withBlobMeta(
        t(s, dir, "documents").withColumn("blob", BinaryOps.toBlob(col("text"))),
        "blob")
      .select("doc_id", "n_bytes", "sha256")
  }.oracle(
    """SELECT doc_id,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |  sha256(text) AS sha256
      |FROM documents""".stripMargin)

  // ---- §2.5 fuel_by_plant pattern: pivot to fractions + primary pick ------
  // Reference: fuel_by_plant_ferc1 (src/pudl/analysis/fuel_by_plant.py:35-200).
  lane("q49_pivot_fractions") { (s, dir) =>
    val piv = Reshape.pivot(t(s, dir, "lineitem"), Seq("l_suppkey"),
        "l_returnflag", Seq("A", "N", "R"),
        round(sum(col("l_extendedprice")), 4))
      .withColumn("rev_a", coalesce(col("A"), lit(0.0)))
      .withColumn("rev_n", coalesce(col("N"), lit(0.0)))
      .withColumn("rev_r", coalesce(col("R"), lit(0.0)))
      .drop("A", "N", "R")
    val total = col("rev_a") + col("rev_n") + col("rev_r")
    piv
      .withColumn("frac_a", col("rev_a") / total)
      .withColumn("frac_n", col("rev_n") / total)
      .withColumn("frac_r", col("rev_r") / total)
      .withColumn("primary_flag",
        when(col("frac_a") > 0.5, "A").when(col("frac_n") > 0.5, "N")
          .when(col("frac_r") > 0.5, "R").otherwise("none"))
  }.oracle(
    """WITH piv AS (
      |  SELECT l_suppkey,
      |    round(sum(CASE WHEN l_returnflag = 'A' THEN l_extendedprice ELSE 0 END), 4) AS rev_a,
      |    round(sum(CASE WHEN l_returnflag = 'N' THEN l_extendedprice ELSE 0 END), 4) AS rev_n,
      |    round(sum(CASE WHEN l_returnflag = 'R' THEN l_extendedprice ELSE 0 END), 4) AS rev_r
      |  FROM lineitem GROUP BY l_suppkey)
      |SELECT l_suppkey, rev_a, rev_n, rev_r,
      |  rev_a / (rev_a + rev_n + rev_r) AS frac_a,
      |  rev_n / (rev_a + rev_n + rev_r) AS frac_n,
      |  rev_r / (rev_a + rev_n + rev_r) AS frac_r,
      |  CASE WHEN rev_a / (rev_a + rev_n + rev_r) > 0.5 THEN 'A'
      |       WHEN rev_n / (rev_a + rev_n + rev_r) > 0.5 THEN 'N'
      |       WHEN rev_r / (rev_a + rev_n + rev_r) > 0.5 THEN 'R'
      |       ELSE 'none' END AS primary_flag
      |FROM piv""".stripMargin)

  // ---- §2.5 MCOE-style ratio metrics over grouped joins ------------------
  // Reference: heat_rate/capacity_factor/mcoe
  // (src/pudl/analysis/mcoe.py:314-739).
  lane("q50_mcoe_ratios") { (s, dir) =>
    t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_suppkey"), year(col("l_shipdate")).as("ship_year"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"),
        sum(col("l_quantity")).as("qty"),
        min(col("s_acctbal")).as("capacity"))
      .withColumn("price_per_qty", col("revenue") / col("qty"))
      .withColumn("capacity_factor", col("revenue") / (col("capacity") * 8760.0))
      .drop("capacity")
  }.oracle(
    """WITH g AS (
      |  SELECT l_suppkey, CAST(year(l_shipdate) AS INTEGER) AS ship_year,
      |    round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
      |    sum(l_quantity) AS qty,
      |    min(s_acctbal) AS capacity
      |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |  GROUP BY 1, 2)
      |SELECT l_suppkey, ship_year, revenue, qty,
      |  revenue / qty AS price_per_qty,
      |  revenue / (capacity * 8760.0) AS capacity_factor
      |FROM g""".stripMargin)

  // ---- §2.5 plant-parts pattern: one fact at multiple entity grains ------
  // Reference: plant-parts aggregation
  // (src/pudl/analysis/plant_parts_eia.py:594-1102).
  lane("q51_multi_grain_agg") { (s, dir) =>
    PlantParts.grainRollup(supplierNationLines(s, dir), supplierGrains,
        Seq(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n_rows"),
          count_distinct(col("l_suppkey")).as("n_suppliers")))
      .select("grain", "part_key", "sum_qty", "n_rows", "n_suppliers")
  }.oracle(
    """WITH base AS (
      |  SELECT l.*, s.s_nationkey, n.n_regionkey
      |  FROM lineitem l
      |  JOIN supplier s ON l_suppkey = s_suppkey
      |  JOIN nation n ON s_nationkey = n_nationkey)
      |SELECT 'supplier' AS grain, CAST(l_suppkey AS VARCHAR) AS part_key,
      |  sum(l_quantity) AS sum_qty, count(*) AS n_rows,
      |  count(DISTINCT l_suppkey) AS n_suppliers
      |FROM base GROUP BY 2
      |UNION ALL
      |SELECT 'nation', CAST(s_nationkey AS VARCHAR), sum(l_quantity),
      |  count(*), count(DISTINCT l_suppkey)
      |FROM base GROUP BY 2
      |UNION ALL
      |SELECT 'region', CAST(n_regionkey AS VARCHAR), sum(l_quantity),
      |  count(*), count(DISTINCT l_suppkey)
      |FROM base GROUP BY 2""".stripMargin)

  /** q51/q89's base: every line item with its supplier's nation row. */
  private def supplierNationLines(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))

  /** q51/q89's grain family, finest first. */
  private val supplierGrains = Seq("supplier" -> col("l_suppkey"),
    "nation" -> col("s_nationkey"), "region" -> col("n_regionkey"))

  // ---- §2.15 custom Aggregator: weighted quantile ------------------------
  // Reference: weighted_quantile (src/pudl/validate/quality.py:67-110).
  lane("q52_weighted_quantile") { (s, dir) =>
    // pre-pool weights by distinct value first: the UDAF buffer then holds
    // |distinct values| pairs, not |rows| — same quantile (ties pool their
    // weights either way), hash-agg does the heavy lifting map-side.
    t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_nationkey"), col("l_discount"))
      .agg(sum(col("l_quantity")).as("w"))
      .groupBy(col("s_nationkey"))
      .agg(WeightedQuantile(col("l_discount"), col("w"), 1, 2)
        .as("wmedian_discount"))
  }.oracle(
    """WITH x AS (
      |  SELECT s_nationkey, l_discount AS v, l_quantity AS w
      |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey),
      |o AS (
      |  SELECT s_nationkey, v,
      |    sum(w) OVER (PARTITION BY s_nationkey ORDER BY v
      |      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
      |    sum(w) OVER (PARTITION BY s_nationkey) AS wtot
      |  FROM x)
      |SELECT s_nationkey, min(v) AS wmedian_discount
      |FROM o WHERE cumw * 2 >= wtot GROUP BY s_nationkey""".stripMargin)

  // ---- §2.2 spot fixes: keyed manual corrections -------------------------
  // Reference: spot_fix_values (src/pudl/transform/classes.py:930-991).
  lane("q53_spot_fix") { (s, dir) =>
    import s.implicits._
    val fixes = Seq((1L, "MACHINERY"), (5L, "BUILDING"), (42L, "AUTOMOBILE"))
      .toDF("c_custkey", "fix_segment")
    t(s, dir, "customer")
      .join(broadcast(fixes), Seq("c_custkey"), "left")
      .withColumn("c_mktsegment", coalesce(col("fix_segment"), col("c_mktsegment")))
      .select("c_custkey", "c_mktsegment")
  }.oracle(
    """SELECT c_custkey,
      |  CASE c_custkey WHEN 1 THEN 'MACHINERY' WHEN 5 THEN 'BUILDING'
      |    WHEN 42 THEN 'AUTOMOBILE' ELSE c_mktsegment END AS c_mktsegment
      |FROM customer""".stripMargin)

  // ---- §2.2 drop partial periods when rolling up to annual ---------------
  // Reference: drop_ytd_for_annual_tables (src/pudl/output/eia923.py:124-150).
  lane("q54_drop_ytd") { (s, dir) =>
    val monthly = t(s, dir, "lineitem")
      .groupBy(col("l_suppkey"), year(col("l_shipdate")).as("ship_year"),
        month(col("l_shipdate")).as("ship_month"))
      .agg(round(sum(col("l_extendedprice")), 2).as("month_rev"))
    monthly.groupBy(col("l_suppkey"), col("ship_year"))
      .agg(
        round(sum(col("month_rev")), 2).as("annual_rev"),
        count_distinct(col("ship_month")).as("n_months"))
      .where(col("n_months") === 12)
      .drop("n_months")
  }.oracle(
    """WITH monthly AS (
      |  SELECT l_suppkey, CAST(year(l_shipdate) AS INTEGER) AS ship_year,
      |    CAST(month(l_shipdate) AS INTEGER) AS ship_month,
      |    round(sum(l_extendedprice), 2) AS month_rev
      |  FROM lineitem GROUP BY 1, 2, 3)
      |SELECT l_suppkey, ship_year, round(sum(month_rev), 2) AS annual_rev
      |FROM monthly GROUP BY l_suppkey, ship_year
      |HAVING count(DISTINCT ship_month) = 12""".stripMargin)

  // ---- §1.3 declared-schema enforcement at the IO boundary ---------------
  // Reference: Resource.enforce_schema (src/pudl/metadata/classes.py:1868-1930).
  private val lineitemSlim = graft.schema.Resource("lineitem_slim", Seq(
    graft.schema.Field("shipdate", graft.schema.FieldType.Datetime),
    graft.schema.Field("l_orderkey", graft.schema.FieldType.Integer, required = true),
    graft.schema.Field("l_linenumber", graft.schema.FieldType.Integer),
    graft.schema.Field("qty", graft.schema.FieldType.Number),
    graft.schema.Field("returnflag", graft.schema.FieldType.Str,
      enum = Some(Seq("A", "R")))),
    primaryKey = Seq("l_orderkey", "l_linenumber"))

  lane("q56_schema_enforce") { (s, dir) =>
    lineitemSlim.enforceSchema(
      t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").as("qty"), col("l_returnflag").as("returnflag"),
        col("l_shipdate").as("shipdate"), col("l_tax")))
  }.oracle(
    """SELECT l_shipdate AS shipdate,
      |  CAST(l_orderkey AS BIGINT) AS l_orderkey,
      |  CAST(l_linenumber AS BIGINT) AS l_linenumber,
      |  CAST(l_quantity AS DOUBLE) AS qty,
      |  CASE WHEN l_returnflag IN ('A', 'R') THEN l_returnflag END AS returnflag
      |FROM lineitem""".stripMargin)

  // ---- §5 declarative check runner (dbt/asset-check analogue) ------------
  lane("q57_check_runner") { (s, dir) =>
    import graft.checks.CheckRunner._
    run(t(s, dir, "orders"), Seq(
      UniqueKey("orders:pk_unique", Seq("o_orderkey")),
      NotNull("orders:custkey_not_null", "o_custkey"),
      InRange("orders:totalprice_range", "o_totalprice", 0, 1000000),
      InEnum("orders:status_enum", "o_orderstatus", Seq("O", "F", "P")),
      ColumnsRatio("orders:price_self_ratio", "o_totalprice", "o_totalprice",
        0.999, 1.001),
      ForeignKey("orders:custkey_fk", Seq("o_custkey"),
        t(s, dir, "customer"), Seq("c_custkey"))))
  }.oracle(
    """SELECT 'orders:pk_unique' AS check_name,
      |  count(*) = 0 AS passed, count(*) AS observed
      |FROM (SELECT o_orderkey FROM orders GROUP BY 1 HAVING count(*) > 1)
      |UNION ALL
      |SELECT 'orders:custkey_not_null',
      |  count(CASE WHEN o_custkey IS NULL THEN 1 END) = 0,
      |  count(CASE WHEN o_custkey IS NULL THEN 1 END) FROM orders
      |UNION ALL
      |SELECT 'orders:totalprice_range',
      |  count(CASE WHEN o_totalprice IS NOT NULL
      |    AND o_totalprice NOT BETWEEN 0 AND 1000000 THEN 1 END) = 0,
      |  count(CASE WHEN o_totalprice IS NOT NULL
      |    AND o_totalprice NOT BETWEEN 0 AND 1000000 THEN 1 END) FROM orders
      |UNION ALL
      |SELECT 'orders:status_enum',
      |  count(CASE WHEN o_orderstatus IS NOT NULL
      |    AND o_orderstatus NOT IN ('O','F','P') THEN 1 END) = 0,
      |  count(CASE WHEN o_orderstatus IS NOT NULL
      |    AND o_orderstatus NOT IN ('O','F','P') THEN 1 END) FROM orders
      |UNION ALL
      |SELECT 'orders:price_self_ratio',
      |  (sum(o_totalprice) / sum(o_totalprice)) BETWEEN 0.999 AND 1.001,
      |  CAST(round(sum(o_totalprice) / sum(o_totalprice) * 1e6) AS BIGINT)
      |FROM orders
      |UNION ALL
      |SELECT 'orders:custkey_fk', count(*) = 0, count(*)
      |FROM orders o
      |WHERE o.o_custkey IS NOT NULL
      |  AND NOT EXISTS (SELECT 1 FROM customer c
      |                  WHERE c.c_custkey = o.o_custkey)""".stripMargin)

  // ---- §2.8 global sort + limit (top-k driver pattern) -------------------
  lane("q59_sort_limit") { (s, dir) =>
    t(s, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(100)
      .select("o_orderkey", "o_totalprice")
  }.oracle(
    """SELECT o_orderkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100""".stripMargin)

  // ---- §2.8 era-union with missing columns -------------------------------
  // Reference: CSV+XBRL era concat (src/pudl/transform/ferc714.py:800-810).
  lane("q60_era_union") { (s, dir) =>
    val orders = t(s, dir, "orders")
    val cut = lit("1998-01-01").cast("timestamp")
    val legacy = orders.where(col("o_orderdate") < cut)
      .select(col("o_orderkey"), col("o_totalprice"))
      .withColumn("era", lit("legacy"))
    val modern = orders.where(col("o_orderdate") >= cut)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      .withColumn("era", lit("modern"))
    legacy.unionByName(modern, allowMissingColumns = true)
  }.oracle(
    """SELECT o_orderkey, o_totalprice, 'legacy' AS era,
      |  NULL AS o_orderpriority
      |FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
      |UNION ALL
      |SELECT o_orderkey, o_totalprice, 'modern', o_orderpriority
      |FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'""".stripMargin)

  // ---- §2.9 boolean recode + int-na fix ----------------------------------
  // Reference: convert_col_to_bool + fix_int_na
  // (src/pudl/helpers.py:1928-2005,964-1008).
  lane("q64_bool_recode") { (s, dir) =>
    t(s, dir, "orders")
      .withColumn("is_finished",
        Cleaning.convertToBool(col("o_orderstatus"), Seq("F"), Seq("O", "P")))
      .withColumn("price_str", Cleaning.fixIntNa(col("o_totalprice")))
      .select("o_orderkey", "is_finished", "price_str")
  }.oracle(
    """SELECT o_orderkey,
      |  CASE WHEN o_orderstatus = 'F' THEN true
      |       WHEN o_orderstatus IN ('O', 'P') THEN false END AS is_finished,
      |  CAST(CAST(round(o_totalprice) AS BIGINT) AS VARCHAR) AS price_str
      |FROM orders""".stripMargin)

  // ---- §2.1 semi-structured source: JSON column parsing ------------------
  lane("q65_json_parse") { (s, dir) =>
    t(s, dir, "events")
      .withColumn("j", from_json(col("props"),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.LongType)))))
      .select(col("event_id"), col("j.k").as("k_value"),
        get_json_object(col("props"), "$.k").as("k_str"))
  }.oracle(
    """SELECT event_id,
      |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value,
      |  json_extract_string(props, '$.k') AS k_str
      |FROM events""".stripMargin)

  // ---- §2.7 stack_generators: explode multi-valued columns with rank -----
  // Reference: stack_generators (src/pudl/analysis/allocate_gen_fuel.py:615-663)
  // — multi-valued attribute columns become ranked rows via posexplode.
  lane("q67_stack_explode") { (s, dir) =>
    t(s, dir, "customer")
      .select(col("c_custkey"),
        posexplode(array(col("c_mktsegment"), upper(col("c_mktsegment")),
          col("c_name"))))
      .withColumnRenamed("pos", "attr_rank")
      .withColumnRenamed("col", "attr_value")
  }.oracle(
    """SELECT c_custkey, 0 AS attr_rank, c_mktsegment AS attr_value FROM customer
      |UNION ALL
      |SELECT c_custkey, 1, upper(c_mktsegment) FROM customer
      |UNION ALL
      |SELECT c_custkey, 2, c_name FROM customer""".stripMargin)

  // ---- §2.2/§2.9 cleaning chain: sentinels → NULL, % → ratio, range NULL -
  // Reference: standardize_na_values + standardize_percentages_ratio +
  // oob_to_nan (src/pudl/transform/classes.py:905-928,
  // helpers.py:1671-1710,429-492) composed the way TableTransformer chains
  // ColumnTransformFuncs.
  lane("q70_cleaning_chain") { (s, dir) =>
    t(s, dir, "customer")
      .withColumn("segment_clean",
        Cleaning.naSentinelsToNull(col("c_mktsegment"), Seq("FURNITURE", "N/A")))
      .withColumn("disc_pct", round(col("c_acctbal") / 100.0, 4))
      .withColumn("disc_ratio", Cleaning.percentToRatio(col("disc_pct")))
      .withColumn("acctbal_pos", Cleaning.oobToNan(col("c_acctbal"), 0, 1e9))
      .select("c_custkey", "segment_clean", "disc_pct", "disc_ratio",
        "acctbal_pos")
  }.oracle(
    """SELECT c_custkey,
      |  CASE WHEN c_mktsegment IN ('FURNITURE', 'N/A') THEN NULL
      |       ELSE c_mktsegment END AS segment_clean,
      |  round(c_acctbal / 100.0, 4) AS disc_pct,
      |  CASE WHEN round(c_acctbal / 100.0, 4) BETWEEN 0 AND 100
      |       THEN round(c_acctbal / 100.0, 4) / 100.0 END AS disc_ratio,
      |  CASE WHEN c_acctbal BETWEEN 0 AND 1e9 THEN c_acctbal END AS acctbal_pos
      |FROM customer""".stripMargin)

  // ---- §2.3 date_merge at quarter grain + reconstructed finest date ------
  // The reconstruction half of date_merge (src/pudl/helpers.py:612-718):
  // after joining at the coarse grain, the output date is the finest of the
  // two sides (greatest/least).
  lane("q72_date_merge_quarter") { (s, dir) =>
    val li = t(s, dir, "lineitem")
    val monthly = li.groupBy(col("l_suppkey"),
        date_trunc("month", col("l_shipdate")).as("ship_month"))
      .agg(round(sum(col("l_extendedprice")), 2).as("month_rev"))
    val quarterly = li.groupBy(col("l_suppkey"),
        date_trunc("quarter", col("l_shipdate")).as("ship_quarter"))
      .agg(round(sum(col("l_extendedprice")), 2).as("quarter_rev"))
    TemporalOps.dateMerge(monthly, quarterly, Seq("l_suppkey"),
        leftDate = "ship_month", rightDate = "ship_quarter", grain = "quarter")
      .withColumn("date_out",
        greatest(col("ship_month"), date_trunc("quarter", col("ship_month"))))
      .withColumn("rev_share_q", round(col("month_rev") / col("quarter_rev"), 6))
  }.oracle(
    s"""WITH $supplierMonthlyRevenue,
      |quarterly AS (
      |  SELECT l_suppkey, CAST(date_trunc('quarter', l_shipdate) AS TIMESTAMP) AS ship_quarter,
      |    round(sum(l_extendedprice), 2) AS quarter_rev
      |  FROM lineitem GROUP BY 1, 2)
      |SELECT m.l_suppkey, m.ship_month, m.month_rev, q.quarter_rev,
      |  greatest(m.ship_month,
      |    CAST(date_trunc('quarter', m.ship_month) AS TIMESTAMP)) AS date_out,
      |  round(m.month_rev / q.quarter_rev, 6) AS rev_share_q
      |FROM monthly m LEFT JOIN quarterly q
      |  ON m.l_suppkey = q.l_suppkey
      |  AND CAST(date_trunc('quarter', m.ship_month) AS TIMESTAMP) = q.ship_quarter""".stripMargin)

  // ---- §2.5 multi-grain aggregation in ONE shuffle: rollup ---------------
  // The one-pass twin of q51's unioned grain groupBys (plant-parts
  // aggregation, src/pudl/analysis/plant_parts_eia.py:594-1102):
  // ROLLUP computes every hierarchy level in a single partial+final
  // aggregation instead of re-scanning the base per grain — at 100 TB, one
  // shuffle instead of |grains|. grouping() disambiguates subtotal rows
  // from genuine NULL keys.
  lane("q73_rollup_grains") { (s, dir) =>
    val base = t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
    base.rollup(col("n_regionkey"), col("n_name"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
          .as("revenue"),
        count(lit(1)).as("n_rows"),
        (grouping(col("n_regionkey")) * 2 + grouping(col("n_name")))
          .cast("long").as("gid"))
      .select("n_regionkey", "n_name", "gid", "revenue", "n_rows")
  }.oracle(
    """SELECT n_regionkey, n_name,
      |  CAST(GROUPING(n_regionkey) * 2 + GROUPING(n_name) AS BIGINT) AS gid,
      |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
      |  count(*) AS n_rows
      |FROM lineitem
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |GROUP BY ROLLUP (n_regionkey, n_name)""".stripMargin)

  // ---- §2.3 multi-way outer association with indicator columns -----------
  // Reference: associate_generator_tables outer-merge chain
  // (src/pudl/analysis/allocate_gen_fuel.py:664-790) +
  // indicator merges (eia_ferc1_record_linkage.py:501-593). Entities missing
  // from either side survive with coalesced keys and a provenance label.
  lane("q79_outer_assoc") { (s, dir) =>
    val cust = t(s, dir, "customer")
      .where(col("c_custkey") % 3 =!= 0)
      .select(col("c_custkey"), col("c_mktsegment"))
    val ords = t(s, dir, "orders")
      .where(col("o_custkey") % 2 === 0) // order side misses odd customers
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("sum_totalprice"))
    val rets = t(s, dir, "orders")
      .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .where(col("l_returnflag") === "R")
      .groupBy(col("o_custkey").as("r_custkey"))
      .agg(count(lit(1)).as("n_returns"))
    cust.join(ords, col("c_custkey") === col("o_custkey"), "full_outer")
      .withColumn("custkey", coalesce(col("c_custkey"), col("o_custkey")))
      .withColumn("source",
        when(col("c_custkey").isNotNull && col("o_custkey").isNotNull, "both")
          .when(col("c_custkey").isNotNull, "left_only")
          .otherwise("right_only"))
      .join(rets, col("custkey") === col("r_custkey"), "left")
      .select(col("custkey"), col("c_mktsegment"), col("source"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("sum_totalprice"), lit(0.0)).as("sum_totalprice"),
        coalesce(col("n_returns"), lit(0L)).as("n_returns"))
  }.oracle(
    """WITH cust AS (
      |  SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey % 3 <> 0),
      |ords AS (
      |  SELECT o_custkey, count(*) AS n_orders,
      |    round(sum(o_totalprice), 2) AS sum_totalprice
      |  FROM orders WHERE o_custkey % 2 = 0 GROUP BY 1),
      |rets AS (
      |  SELECT o_custkey AS r_custkey, count(*) AS n_returns
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |  WHERE l_returnflag = 'R' GROUP BY 1),
      |fo AS (
      |  SELECT coalesce(c_custkey, o_custkey) AS custkey, c_mktsegment,
      |    CASE WHEN c_custkey IS NOT NULL AND o_custkey IS NOT NULL THEN 'both'
      |         WHEN c_custkey IS NOT NULL THEN 'left_only'
      |         ELSE 'right_only' END AS source,
      |    n_orders, sum_totalprice
      |  FROM cust FULL OUTER JOIN ords ON c_custkey = o_custkey)
      |SELECT f.custkey, f.c_mktsegment, f.source,
      |  coalesce(f.n_orders, 0) AS n_orders,
      |  coalesce(f.sum_totalprice, 0.0) AS sum_totalprice,
      |  coalesce(r.n_returns, 0) AS n_returns
      |FROM fo f LEFT JOIN rets r ON f.custkey = r.r_custkey""".stripMargin)

  // ---- §2.9 phone standardization + rolling-century year repair ----------
  // Reference: standardize_phone_column + normalize_year_fragments
  // (src/pudl/helpers.py:2326-2381,2553-2626). Messy inputs
  // are synthesized deterministically from customer keys, covering every
  // branch: punctuation formats, extensions, short numbers, all-zero, and
  // 2-digit years on both sides of the century pivot.
  lane("q80_phone_year") { (s, dir) =>
    val base = t(s, dir, "customer")
      .withColumn("area", (col("c_custkey") % 800 + 200).cast("string"))
      .withColumn("mid", lpad((col("c_custkey") % 900 + 100).cast("string"), 3, "0"))
      .withColumn("last4", lpad((col("c_custkey") % 10000).cast("string"), 4, "0"))
      .withColumn("phone_raw",
        when(col("c_custkey") % 5 === 0,
          concat(lit("("), col("area"), lit(") "), col("mid"), lit(" "), col("last4")))
          .when(col("c_custkey") % 5 === 1,
            concat(col("area"), lit("."), col("mid"), lit("."), col("last4"), lit("x"),
              (col("c_custkey") % 9 + 1).cast("string")))
          .when(col("c_custkey") % 5 === 2, concat(col("mid"), col("last4")))
          .when(col("c_custkey") % 5 === 3, lit("0000000000"))
          .otherwise(concat(col("area"), lit("-"), col("mid"), lit("-"), col("last4"))))
      .withColumn("year_raw",
        when(col("c_custkey") % 4 === 0,
          lpad((col("c_custkey") % 100).cast("string"), 2, "0"))
          .when(col("c_custkey") % 4 === 1,
            (col("c_custkey") % 60 + 1960).cast("string"))
          .when(col("c_custkey") % 4 === 2, lit("7"))
          .otherwise(lpad((col("c_custkey") % 30).cast("string"), 2, "0")))
    base.select(col("c_custkey"), col("phone_raw"), col("year_raw"),
      Cleaning.standardizePhone(col("phone_raw")).as("phone_std"),
      Cleaning.normalizeYearFragments(col("year_raw"), 1960, 2026)
        .as("year_fixed"))
  }.oracle(
    """WITH base AS (
      |  SELECT c_custkey,
      |    CAST(c_custkey % 800 + 200 AS VARCHAR) AS area,
      |    lpad(CAST(c_custkey % 900 + 100 AS VARCHAR), 3, '0') AS mid,
      |    lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') AS last4
      |  FROM customer),
      |raw AS (
      |  SELECT c_custkey,
      |    CASE WHEN c_custkey % 5 = 0
      |           THEN '(' || area || ') ' || mid || ' ' || last4
      |         WHEN c_custkey % 5 = 1
      |           THEN area || '.' || mid || '.' || last4 || 'x' ||
      |                CAST(c_custkey % 9 + 1 AS VARCHAR)
      |         WHEN c_custkey % 5 = 2 THEN mid || last4
      |         WHEN c_custkey % 5 = 3 THEN '0000000000'
      |         ELSE area || '-' || mid || '-' || last4 END AS phone_raw,
      |    CASE WHEN c_custkey % 4 = 0
      |           THEN lpad(CAST(c_custkey % 100 AS VARCHAR), 2, '0')
      |         WHEN c_custkey % 4 = 1
      |           THEN CAST(c_custkey % 60 + 1960 AS VARCHAR)
      |         WHEN c_custkey % 4 = 2 THEN '7'
      |         ELSE lpad(CAST(c_custkey % 30 AS VARCHAR), 2, '0')
      |    END AS year_raw
      |  FROM base),
      |parsed AS (
      |  SELECT c_custkey, phone_raw, year_raw,
      |    regexp_extract(regexp_replace(phone_raw, '\.0$', ''),
      |      '^([^xX]*)', 1) AS main_raw,
      |    regexp_extract(regexp_replace(phone_raw, '\.0$', ''),
      |      '[xX](\d+)$', 1) AS ext
      |  FROM raw),
      |dig AS (
      |  SELECT *, regexp_replace(main_raw, '[^0-9]', '', 'g') AS digits
      |  FROM parsed),
      |fmt AS (
      |  SELECT *,
      |    CASE WHEN length(digits) = 10
      |      THEN substring(digits,1,3) || '-' || substring(digits,4,3) ||
      |           '-' || substring(digits,7,4)
      |      ELSE digits END AS formatted
      |  FROM dig),
      |yr AS (
      |  SELECT *,
      |    CASE WHEN length(year_raw) = 2 THEN
      |      CASE WHEN 2000 + TRY_CAST(year_raw AS INT) > 2026
      |        THEN 2000 + TRY_CAST(year_raw AS INT) - 100
      |        ELSE 2000 + TRY_CAST(year_raw AS INT) END
      |      ELSE TRY_CAST(year_raw AS INT) END AS mapped
      |  FROM fmt)
      |SELECT c_custkey, phone_raw, year_raw,
      |  CASE WHEN digits = '' OR regexp_full_match(digits, '0+') THEN NULL
      |       WHEN ext <> '' THEN formatted || 'x' || ext
      |       ELSE formatted END AS phone_std,
      |  CASE WHEN regexp_full_match(year_raw, '\d{2}|\d{4}')
      |         AND mapped BETWEEN 1960 AND 2026 THEN mapped
      |  END AS year_fixed
      |FROM yr""".stripMargin)

  // ---- §2.2 row-map driven filtering/labeling of positional rows ---------
  // Reference: select_dbf_rows_by_category + align_row_numbers_dbf
  // (src/pudl/transform/ferc1.py:547-631): positional
  // report rows join a per-era row map (a small curated dimension, like the
  // reference's CSV row maps) to gain a category, then filter on it.
  lane("q87_row_map") { (s, dir) =>
    import s.implicits._
    val rowMap = (for {
      y <- 1990 to 2000
      ln <- 1 to 7
    } yield (y, ln, (y + ln) % 3 match {
      case 0 => "revenue"; case 1 => "expense"; case _ => "skip"
    })).toDF("map_year", "map_line", "row_category")
    t(s, dir, "lineitem")
      .withColumn("ship_year", year(col("l_shipdate")))
      .join(broadcast(rowMap),
        col("ship_year") === col("map_year") &&
          col("l_linenumber") === col("map_line"), "left")
      .where(col("row_category") =!= "skip")
      .select("l_orderkey", "l_linenumber", "ship_year", "row_category")
  }.oracle(
    """SELECT l_orderkey, l_linenumber,
      |  CAST(year(l_shipdate) AS INT) AS ship_year,
      |  CASE (year(l_shipdate) + l_linenumber) % 3
      |    WHEN 0 THEN 'revenue' WHEN 1 THEN 'expense' END AS row_category
      |FROM lineitem
      |WHERE year(l_shipdate) BETWEEN 1990 AND 2000
      |  AND l_linenumber BETWEEN 1 AND 7
      |  AND (year(l_shipdate) + l_linenumber) % 3 <> 2""".stripMargin)

  // ---- §2.5 full multi-table harvest with strictness + rounding ----------
  // Reference: harvest_entity_tables (src/pudl/transform/eia.py:396-700).
  // Two "reporting tables" disagree on a customer's segment and balance:
  // the direct table is clean; the order-grain table injects noise on
  // ~1/11 of reports and ±1 balance jitter that the round(-1) special case
  // (the lat/long pattern) absorbs before the consistency vote.
  lane("q88_harvest_full") { (s, dir) =>
    val direct = t(s, dir, "customer")
      .select(col("c_custkey").as("custkey"),
        col("c_mktsegment").as("segment"),
        // +0.007 keeps every quantized balance off the X5.0 half-boundary,
        // where Spark (half-up) and DuckDB (half-even on doubles) disagree
        (col("c_acctbal") + 0.007).as("balance"))
    val reported = t(s, dir, "orders")
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey").as("custkey"),
        when(col("o_orderkey") % 11 === 0, lit("NOISY"))
          .otherwise(col("c_mktsegment")).as("segment"),
        (col("c_acctbal") + (col("o_orderkey") % 3) - 1 + 0.007).as("balance"))
    Harvest.harvestEntityTables(Seq(direct, reported), Seq("custkey"),
        attrs = Seq("segment", "balance"),
        strictness = Map("segment" -> 0.7, "balance" -> 0.5),
        roundScale = Map("balance" -> -1))
  }.oracle(
    """WITH direct AS (
      |  SELECT c_custkey AS custkey, c_mktsegment AS segment,
      |    c_acctbal + 0.007e0 AS balance
      |  FROM customer),
      |reported AS (
      |  SELECT c_custkey AS custkey,
      |    CASE WHEN o_orderkey % 11 = 0 THEN 'NOISY'
      |         ELSE c_mktsegment END AS segment,
      |    c_acctbal + (o_orderkey % 3) - 1 + 0.007e0 AS balance
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |seg_cand AS (
      |  SELECT custkey, segment FROM direct
      |  UNION ALL SELECT custkey, segment FROM reported),
      |seg_counts AS (
      |  SELECT custkey, segment, count(*) AS vc FROM seg_cand
      |  WHERE segment IS NOT NULL GROUP BY 1, 2),
      |seg_rank AS (
      |  SELECT *, sum(vc) OVER (PARTITION BY custkey) AS tc,
      |    row_number() OVER (PARTITION BY custkey
      |      ORDER BY vc DESC, segment ASC) AS rk
      |  FROM seg_counts),
      |seg AS (
      |  SELECT custkey,
      |    CASE WHEN CAST(vc AS DOUBLE)/tc > 0.7e0 THEN segment END AS segment,
      |    CAST(vc AS DOUBLE)/tc AS segment_rate
      |  FROM seg_rank WHERE rk = 1),
      |bal_cand AS (
      |  SELECT custkey, round(balance, -1) + 0.0e0 AS balance FROM direct
      |  UNION ALL SELECT custkey, round(balance, -1) + 0.0e0 FROM reported),
      |bal_counts AS (
      |  SELECT custkey, balance, count(*) AS vc FROM bal_cand
      |  WHERE balance IS NOT NULL GROUP BY 1, 2),
      |bal_rank AS (
      |  SELECT *, sum(vc) OVER (PARTITION BY custkey) AS tc,
      |    row_number() OVER (PARTITION BY custkey
      |      ORDER BY vc DESC, balance ASC) AS rk
      |  FROM bal_counts),
      |bal AS (
      |  SELECT custkey,
      |    CASE WHEN CAST(vc AS DOUBLE)/tc > 0.5e0 THEN balance END AS balance,
      |    CAST(vc AS DOUBLE)/tc AS balance_rate
      |  FROM bal_rank WHERE rk = 1)
      |SELECT coalesce(s.custkey, b.custkey) AS custkey, s.segment,
      |  s.segment_rate, b.balance, b.balance_rate
      |FROM seg s FULL OUTER JOIN bal b ON s.custkey = b.custkey""".stripMargin)

  // ---- §2.11 true-granularity labeling across aggregation grains ---------
  // Reference: TrueGranLabeler (src/pudl/analysis/plant_parts_eia.py:1103-1182)
  // — a record is the TRUE grain when no finer part produced an identical
  // aggregate; duplicates across grains keep only the finest (priority
  // order supplier > nation > region), via one window over the aggregate
  // signature.
  lane("q89_true_gran") { (s, dir) =>
    PlantParts.trueGranularity(
        PlantParts.grainRollup(supplierNationLines(s, dir), supplierGrains,
          Seq(round(sum(col("l_quantity")), 2).as("sum_qty"),
            count(lit(1)).as("n_rows"),
            count_distinct(col("l_suppkey")).as("n_suppliers"))),
        Seq("sum_qty", "n_rows", "n_suppliers"))
      .select("grain", "part_key", "sum_qty", "n_rows", "n_suppliers",
        "true_gran")
  }.oracle(
    """WITH base AS (
      |  SELECT l.*, s.s_nationkey, n.n_regionkey
      |  FROM lineitem l
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  JOIN nation n ON s.s_nationkey = n.n_nationkey),
      |parts AS (
      |  SELECT CAST(l_suppkey AS VARCHAR) AS part_key,
      |    round(sum(l_quantity), 2) AS sum_qty, count(*) AS n_rows,
      |    count(DISTINCT l_suppkey) AS n_suppliers,
      |    'supplier' AS grain, 1 AS priority
      |  FROM base GROUP BY 1
      |  UNION ALL
      |  SELECT CAST(s_nationkey AS VARCHAR), round(sum(l_quantity), 2),
      |    count(*), count(DISTINCT l_suppkey), 'nation', 2
      |  FROM base GROUP BY 1
      |  UNION ALL
      |  SELECT CAST(n_regionkey AS VARCHAR), round(sum(l_quantity), 2),
      |    count(*), count(DISTINCT l_suppkey), 'region', 3
      |  FROM base GROUP BY 1)
      |SELECT grain, part_key, sum_qty, n_rows, n_suppliers,
      |  row_number() OVER (
      |    PARTITION BY sum_qty, n_rows, n_suppliers
      |    ORDER BY priority ASC, part_key ASC) = 1 AS true_gran
      |FROM parts""".stripMargin)

  // ---- §2.9 heuristic address parsing ------------------------------------
  // Reference: parse_address (src/pudl/helpers.py:2660-2701);
  // regex-heuristic stand-in for the usaddress CRF tag set (documented
  // deviation). Addresses synthesized deterministically over 7 shapes:
  // bare PO box (unparseable → CRF failure contract: raw addr as street),
  // located PO box (street NULL, city/state/zip parse), pre-directional,
  // post-directional, comma'd suite, apartment + zip+4, and plain.
  lane("q90_parse_address") { (s, dir) =>
    val num = (col("c_custkey") % 900 + 1).cast("string")
    val stname = element_at(array(lit("Main St"), lit("Oak Ave"), lit("Elm Dr")),
      (col("c_custkey") % 3 + 1).cast("int"))
    val st2 = element_at(array(lit("IL"), lit("CA"), lit("TX"), lit("NY")),
      (col("c_custkey") % 4 + 1).cast("int"))
    val zip5 = lpad((col("c_custkey") % 100000).cast("string"), 5, "0")
    val boxn = (col("c_custkey") % 1000).cast("string")
    val m9 = col("c_custkey") % 9
    val base = t(s, dir, "customer").withColumn("addr_raw",
      when(m9 === 0, concat(lit("PO Box "), boxn))
        .when(m9 === 1, concat(lit("PO Box "), boxn, lit(", Springfield, "),
          st2, lit(" "), zip5))
        .when(m9 === 2, concat(num, lit(" N "), stname,
          lit(", Springfield, "), st2, lit(" "), zip5))
        .when(m9 === 3, concat(num, lit(" "), stname, lit(" NW"),
          lit(", Springfield, "), st2, lit(" "), zip5))
        .when(m9 === 4, concat(num, lit(" "), stname, lit(", Ste "),
          (col("c_custkey") % 50 + 1).cast("string"),
          lit(", Springfield, "), st2, lit(" "), zip5))
        .when(m9 === 5, concat(num, lit(" "), stname, lit(" Apt "),
          (col("c_custkey") % 20 + 1).cast("string"),
          lit(", Springfield, "), st2, lit(" "), zip5, lit("-"),
          lpad((col("c_custkey") % 10000).cast("string"), 4, "0")))
        // spelled-out directionals (usaddress surface forms)
        .when(m9 === 6, concat(num, lit(" North "), stname,
          lit(", Springfield, "), st2, lit(" "), zip5))
        .when(m9 === 7, concat(num, lit(" "),
          (col("c_custkey") % 90 + 1).cast("string"), lit("th St West"),
          lit(", Springfield, "), st2, lit(" "), zip5))
        .otherwise(concat(num, lit(" "), stname,
          lit(", Springfield, "), st2, lit(" "), zip5)))
    Cleaning.parseAddress(col("addr_raw"))
      .foldLeft(base) { case (acc, (name, expr)) => acc.withColumn(name, expr) }
      .select("c_custkey", "addr_raw", "addr_number", "addr_street",
        "addr_city", "addr_state", "addr_zip")
  }.oracle {
    // The regexes interpolate the SAME Scala constants the Spark path
    // compiles (both RE2-safe), so the two engines cannot drift.
    val sp = graft.functions.Cleaning.streetAddrPattern
    val bp = graft.functions.Cleaning.poBoxPattern
    // each generated line carries its own stripMargin '|' — the regex
    // itself contains '|' alternations that must survive the strip
    def sg(i: Int) =
      s"|    nullif(regexp_extract(addr_raw, '$sp', $i), '') AS g$i,"
    def bg(i: Int) =
      s"|    nullif(regexp_extract(addr_raw, '$bp', $i), '') AS b$i"
    s"""WITH parts AS (
      |  SELECT c_custkey,
      |    CAST(c_custkey % 900 + 1 AS VARCHAR) AS num,
      |    (['Main St', 'Oak Ave', 'Elm Dr'])[c_custkey % 3 + 1] AS stname,
      |    (['IL', 'CA', 'TX', 'NY'])[c_custkey % 4 + 1] AS st,
      |    lpad(CAST(c_custkey % 100000 AS VARCHAR), 5, '0') AS zip5,
      |    CAST(c_custkey % 1000 AS VARCHAR) AS boxn,
      |    CAST(c_custkey % 50 + 1 AS VARCHAR) AS ste,
      |    CAST(c_custkey % 20 + 1 AS VARCHAR) AS apt,
      |    CAST(c_custkey % 90 + 1 AS VARCHAR) AS ordn,
      |    lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') AS zip4,
      |    c_custkey % 9 AS m9
      |  FROM customer),
      |base AS (
      |  SELECT c_custkey,
      |    CASE m9
      |      WHEN 0 THEN 'PO Box ' || boxn
      |      WHEN 1 THEN 'PO Box ' || boxn || ', Springfield, ' || st || ' ' || zip5
      |      WHEN 2 THEN num || ' N ' || stname || ', Springfield, ' || st || ' ' || zip5
      |      WHEN 3 THEN num || ' ' || stname || ' NW, Springfield, ' || st || ' ' || zip5
      |      WHEN 4 THEN num || ' ' || stname || ', Ste ' || ste || ', Springfield, ' || st || ' ' || zip5
      |      WHEN 5 THEN num || ' ' || stname || ' Apt ' || apt || ', Springfield, ' || st || ' ' || zip5 || '-' || zip4
      |      WHEN 6 THEN num || ' North ' || stname || ', Springfield, ' || st || ' ' || zip5
      |      WHEN 7 THEN num || ' ' || ordn || 'th St West, Springfield, ' || st || ' ' || zip5
      |      ELSE num || ' ' || stname || ', Springfield, ' || st || ' ' || zip5
      |    END AS addr_raw
      |  FROM parts),
      |ex AS (
      |  SELECT c_custkey, addr_raw,
${(1 to 8).map(sg).mkString("\n")}
${Seq(2, 3, 4).map(bg).mkString(",\n")}
      |  FROM base)
      |SELECT c_custkey, addr_raw,
      |  g1 AS addr_number,
      |  CASE WHEN g1 IS NOT NULL THEN trim(concat_ws(' ', g2, g3, g4, g5))
      |       WHEN b4 IS NOT NULL THEN NULL
      |       ELSE addr_raw END AS addr_street,
      |  coalesce(g6, b2) AS addr_city,
      |  coalesce(g7, b3) AS addr_state,
      |  coalesce(g8, b4) AS addr_zip
      |FROM ex""".stripMargin
  }

  // ---- §5 dbt-macro checks: subcomponent totals, weighted-quantile
  // bounds, period-over-period continuity ----------------------------------
  // Reference: expect_subcomponents_sum_to_total / weighted_quantile /
  // expect_column_change_within_ratio (dbt/macros/) +
  // group-mean continuity (src/pudl/dagster/asset_checks.py:221-263).
  lane("q92_dbt_checks") { (s, dir) =>
    import graft.checks.CheckRunner._
    val j = t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .withColumn("o_year", year(col("o_orderdate")))
    run(j, Seq(
      SubcomponentsSum("orders:parts_vs_total", Seq("o_orderkey"),
        "l_extendedprice", "o_totalprice", tol = 0.25),
      WeightedQuantileBound("lineitem:wq_discount_bound", "l_discount",
        "l_quantity", qNum = 1, qDen = 2, lo = 0.0, hi = 0.06),
      ChangeWithinRatio("orders:yearly_revenue_continuity", "o_year",
        "l_extendedprice", ratio = 0.9)))
  }.oracle(
    """WITH j AS (
      |  SELECT l.*, o.o_totalprice, o.o_orderdate,
      |    CAST(year(o.o_orderdate) AS INT) AS o_year
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
      |c1 AS (
      |  SELECT 'orders:parts_vs_total' AS check_name,
      |    count(CASE WHEN abs(p - t) > 0.25 * abs(t) THEN 1 END) AS observed
      |  FROM (SELECT l_orderkey, sum(l_extendedprice) AS p,
      |          max(o_totalprice) AS t
      |        FROM j GROUP BY 1)),
      |pool AS (
      |  SELECT l_discount AS v, sum(l_quantity) AS w FROM j GROUP BY 1),
      |wq AS (
      |  SELECT min(v) AS q FROM (
      |    SELECT v,
      |      sum(w) OVER (ORDER BY v
      |        RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
      |      sum(w) OVER () AS wtot
      |    FROM pool)
      |  WHERE cumw * 2 >= wtot),
      |c2 AS (
      |  SELECT 'lineitem:wq_discount_bound' AS check_name, q,
      |    CAST(round(q * 1e6) AS BIGINT) AS observed
      |  FROM wq),
      |yearly AS (
      |  SELECT o_year, sum(l_extendedprice) AS t FROM j GROUP BY 1),
      |c3 AS (
      |  SELECT 'orders:yearly_revenue_continuity' AS check_name,
      |    count(CASE WHEN prev IS NOT NULL
      |      AND NOT (t / prev BETWEEN 0.1e0 AND 1.9e0) THEN 1 END) AS observed
      |  FROM (SELECT t, lag(t) OVER (ORDER BY o_year) AS prev FROM yearly))
      |SELECT check_name, observed = 0 AS passed, observed FROM c1
      |UNION ALL
      |SELECT check_name, q >= 0.0e0 AND q <= 0.06e0 AS passed, observed FROM c2
      |UNION ALL
      |SELECT check_name, observed = 0 AS passed, observed FROM c3""".stripMargin)

  // ---- Z-order layout key (write-time clustering for data skipping) ------
  // Morton interleave of two bucketed dimensions as plain long arithmetic
  // (operators.Layout.zorderValue) — the key behind `clusterByZOrder`,
  // which range-partitions writes so multi-dimensional predicates prune
  // files at 100 TB. Every bit position is a plan-time constant, so the
  // oracle replays the interleave with the same mask-and-shift sum.
  lane("q114_zorder_key") { (s, dir) =>
    t(s, dir, "lineitem").select(
      col("l_orderkey"), col("l_linenumber"),
      graft.operators.Layout.zorderValue(
        Seq(pmod(col("l_partkey"), lit(1024)),
          pmod(col("l_suppkey"), lit(1024))), bits = 10).as("zval"))
  }.oracle(
    // Morton interleave replay: bit i of dim d lands at i*2+d; the masked
    // bit (x & 1<<i) carries 2^i, so the remaining factor is 2^(i*(n-1)+d)
    """SELECT l_orderkey, l_linenumber,
      |  CAST(list_sum(list_transform(generate_series(0, 9), i ->
      |      ((l_partkey % 1024) & (1::BIGINT << i)) * (1::BIGINT << i)
      |    + ((l_suppkey % 1024) & (1::BIGINT << i)) * (1::BIGINT << (i + 1))
      |  )) AS BIGINT) AS zval
      |FROM lineitem""".stripMargin)

  // ---- KMV distinct-count sketch (mergeable approx COUNT DISTINCT) -------
  // k=256 sketches beside the exact counts: l_partkey (distinct ≫ k →
  // estimator path) and l_suppkey (distinct < k → the sketch IS the exact
  // count). The portable hash lets the oracle replay hash values,
  // the k-th minimum and the (k−1)·2⁶⁰/h_k estimate bit-for-bit.
  lane("q115_kmv_distinct") { (s, dir) =>
    t(s, dir, "lineitem").groupBy(col("l_returnflag"))
      .agg(
        graft.functions.KmvSketch(col("l_partkey"), 256).as("est_parts"),
        graft.functions.KmvSketch(col("l_suppkey"), 256).as("est_supps"),
        countDistinct(col("l_partkey")).as("exact_parts"),
        countDistinct(col("l_suppkey")).as("exact_supps"))
  }.oracle(
    // KMV replay: distinct portable hashes per group, rank ascending; the
    // sketch holds ranks <= k, the estimate is (k-1)*2^60/h_k once full,
    // or the exact below-k distinct count
    """WITH hp AS (
      |  SELECT DISTINCT l_returnflag AS g,
      |    ('0x' || substr(md5(l_partkey::VARCHAR), 1, 15))::BIGINT AS hv
      |  FROM lineitem),
      |rp AS (SELECT g, hv,
      |         row_number() OVER (PARTITION BY g ORDER BY hv) AS rn
      |       FROM hp),
      |sp AS (SELECT g, count(*) FILTER (WHERE rn <= 256) AS n,
      |         max(hv) FILTER (WHERE rn = 256) AS kth
      |       FROM rp GROUP BY g),
      |hs AS (
      |  SELECT DISTINCT l_returnflag AS g,
      |    ('0x' || substr(md5(l_suppkey::VARCHAR), 1, 15))::BIGINT AS hv
      |  FROM lineitem),
      |rs AS (SELECT g, hv,
      |         row_number() OVER (PARTITION BY g ORDER BY hv) AS rn
      |       FROM hs),
      |ss AS (SELECT g, count(*) FILTER (WHERE rn <= 256) AS n,
      |         max(hv) FILTER (WHERE rn = 256) AS kth
      |       FROM rs GROUP BY g),
      |ex AS (SELECT l_returnflag AS g,
      |         count(DISTINCT l_partkey) AS exact_parts,
      |         count(DISTINCT l_suppkey) AS exact_supps
      |       FROM lineitem GROUP BY g)
      |SELECT ex.g AS l_returnflag,
      |  CASE WHEN sp.n < 256 THEN CAST(sp.n AS DOUBLE)
      |       ELSE 255.0 * 1152921504606846976.0 / CAST(sp.kth AS DOUBLE)
      |  END AS est_parts,
      |  CASE WHEN ss.n < 256 THEN CAST(ss.n AS DOUBLE)
      |       ELSE 255.0 * 1152921504606846976.0 / CAST(ss.kth AS DOUBLE)
      |  END AS est_supps,
      |  ex.exact_parts, ex.exact_supps
      |FROM ex JOIN sp ON ex.g = sp.g JOIN ss ON ex.g = ss.g""".stripMargin)

  // ---- KMV two-level rollup: persisted sketches re-combine exactly ------
  // Sketch l_partkey per (flag, order-year) — the "one sketch per
  // partition/day" persistable form — then merge the materialized states
  // per flag. The ORACLE is the single-pass global formula: KMV
  // union-truncate is lossless (every global k-minimum hash is inside its
  // part's k-minimum set), so the two-level estimate must equal the
  // one-pass estimate bit-for-bit — the mergeability proof, oracle-graded.
  lane("q116_kmv_two_level") { (s, dir) =>
    val states = t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), year(col("l_shipdate")).as("yr"))
      .agg(graft.functions.KmvSketch.state(col("l_partkey"), 256).as("sk"))
    states.groupBy(col("l_returnflag"))
      .agg(graft.functions.KmvSketch.merged(col("sk"), 256).as("est_parts"),
        count(lit(1)).as("n_sketches"))
  }.oracle(
    // two-level rollup replays as the ONE-PASS formula (union-truncate is
    // lossless), plus the per-(flag, year) sketch count
    """WITH hp AS (
      |  SELECT DISTINCT l_returnflag AS g,
      |    ('0x' || substr(md5(l_partkey::VARCHAR), 1, 15))::BIGINT AS hv
      |  FROM lineitem),
      |rp AS (SELECT g, hv,
      |         row_number() OVER (PARTITION BY g ORDER BY hv) AS rn
      |       FROM hp),
      |sp AS (SELECT g, count(*) FILTER (WHERE rn <= 256) AS n,
      |         max(hv) FILTER (WHERE rn = 256) AS kth
      |       FROM rp GROUP BY g),
      |ns AS (SELECT l_returnflag AS g,
      |         count(DISTINCT year(l_shipdate)) AS n_sketches
      |       FROM lineitem GROUP BY g)
      |SELECT ns.g AS l_returnflag,
      |  CASE WHEN sp.n < 256 THEN CAST(sp.n AS DOUBLE)
      |       ELSE 255.0 * 1152921504606846976.0 / CAST(sp.kth AS DOUBLE)
      |  END AS est_parts,
      |  ns.n_sketches
      |FROM ns JOIN sp ON ns.g = sp.g""".stripMargin)

  // ---- SCD2 validity intervals (warehouse dimension-history build) -------
  // The interval form of the changelog family — q11's change rows closed
  // into [effective_from, effective_to) with version numbers and a
  // current flag — one hash exchange, both windows share the clustering.
  lane("q117_scd2_intervals") { (s, dir) =>
    TemporalOps.scd2Intervals(t(s, dir, "events"),
        keys = Seq("user_id"), order = Seq(col("ts"), col("event_id")),
        tsCol = "ts", tracked = Seq("event_type"))
      .select("user_id", "event_id", "event_type", "effective_from",
        "effective_to", "version", "is_current")
  }.oracle(
    // q11's changelog closed into [from, to) intervals with version
    // numbers — the lead/row_number run over the CHANGE rows only
    """WITH chg AS (
      |  SELECT user_id, event_id, ts, event_type FROM (
      |    SELECT user_id, event_id, ts, event_type,
      |      lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
      |      row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |    FROM events)
      |  WHERE rn = 1 OR event_type IS DISTINCT FROM prev_type)
      |SELECT user_id, event_id, event_type,
      |  ts AS effective_from,
      |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |    AS effective_to,
      |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |    AS INT) AS version,
      |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |    AS is_current
      |FROM chg""".stripMargin)

  // ---- §2.7 multi_index_stack (regex-driven melt), oracle-graded ---------
  // meltRegex builds the stack projection at PLAN TIME from the column
  // names matching the pattern; capture groups become key columns
  // (helpers.py:88-164). The oracle replays the same melt as a UNION ALL
  // of typed projections — one branch per matched column.
  lane("q120_multi_index_stack") { (s, dir) =>
    val wide = t(s, dir, "orders").select(col("o_orderkey"),
      col("o_totalprice").cast("double").as("balance_2020_q1"),
      (col("o_totalprice").cast("double") * 2.0).as("balance_2020_q2"),
      (col("o_totalprice").cast("double") * 3.0).as("balance_2021_q1"),
      col("o_custkey").cast("double").as("count_2021_q2"))
    operators.Reshape.meltRegex(wide, Seq("o_orderkey"),
      "^([a-z]+)_(\\d{4})_(q\\d)$", Seq("metric", "year", "quarter"), "value")
  }.oracle(
    """SELECT o_orderkey, 'balance' AS metric, '2020' AS year,
      |  'q1' AS quarter, o_totalprice AS value FROM orders
      |UNION ALL
      |SELECT o_orderkey, 'balance', '2020', 'q2', o_totalprice * 2.0
      |FROM orders
      |UNION ALL
      |SELECT o_orderkey, 'balance', '2021', 'q1', o_totalprice * 3.0
      |FROM orders
      |UNION ALL
      |SELECT o_orderkey, 'count', '2021', 'q2', CAST(o_custkey AS DOUBLE)
      |FROM orders""".stripMargin)

  // ---- layout: Bloom-filter file-skipping manifest + probe ---------------
  // The predicate class min/max stats can't prune: point lookups on a
  // high-cardinality key interleaved across files. Per-shard Bloom bits
  // (portable seeded hashes, m=1024, k=3) + a count-match probe; each
  // probe's true shard always qualifies (no false negatives), extra rows
  // are the measured false-positive cost of the filter's saturation.
  lane("q131_bloom_manifest") { (s, dir) =>
    val docs = t(s, dir, "documents")
    val bits = operators.Layout.bloomBits(docs,
      pmod(col("doc_id"), lit(8L)).as("file"), col("doc_id"),
      mBits = 1024, kHashes = 3)
    val probes = docs.where(col("doc_id") % 101 === 0)
      .select(col("doc_id").as("probe_id"))
    operators.Layout.bloomProbe(bits, probes, "probe_id",
        mBits = 1024, kHashes = 3)
      .withColumn("is_true_shard", pmod(col("probe_id"), lit(8L)) === col("file"))
      .select(col("probe_id"), col("file").as("shard"), col("is_true_shard"))
  }.oracle(
    """WITH bits AS (
      |  SELECT DISTINCT doc_id % 8 AS shard,
      |    ('0x' || substr(md5(i::VARCHAR || '_' || doc_id::VARCHAR), 1, 15))
      |      ::BIGINT % 1024 AS bit
      |  FROM documents, unnest(range(0, 3)) t(i)),
      |ppos AS (
      |  SELECT DISTINCT doc_id AS probe_id,
      |    ('0x' || substr(md5(i::VARCHAR || '_' || doc_id::VARCHAR), 1, 15))
      |      ::BIGINT % 1024 AS bit
      |  FROM documents, unnest(range(0, 3)) t(i)
      |  WHERE doc_id % 101 = 0),
      |np AS (SELECT probe_id, count(*) AS n FROM ppos GROUP BY 1),
      |cand AS (
      |  SELECT p.probe_id, b.shard, count(*) AS hits
      |  FROM ppos p JOIN bits b ON p.bit = b.bit
      |  GROUP BY 1, 2)
      |SELECT c.probe_id, c.shard,
      |  (c.probe_id % 8 = c.shard) AS is_true_shard
      |FROM cand c JOIN np ON np.probe_id = c.probe_id
      |WHERE c.hits = np.n""".stripMargin)

  // ---- CDC: apply a changelog to a base snapshot (MERGE/upsert) ----------
  // lineitem rows play the change stream against the orders snapshot:
  // l_linenumber is the per-key sequence, every 5th supplier's change is
  // a delete, negative keys exercise the insert lane (never in base).
  // Last change per key wins; upserts replace payload wholesale.
  lane("q141_apply_changelog") { (s, dir) =>
    val base = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
    // -k-1 keeps the insert lane strictly negative (l_orderkey starts at
    // 0, so plain -k would collide key 0 with itself)
    val ch = t(s, dir, "lineitem").select(
      when(col("l_partkey") % 13 === 0, -col("l_orderkey") - 1)
        .otherwise(col("l_orderkey")).as("o_orderkey"),
      col("l_linenumber").cast("long").as("seq"),
      when(col("l_suppkey") % 5 === 0, lit("D")).otherwise(lit("U")).as("op"),
      col("l_extendedprice").as("o_totalprice"),
      col("l_returnflag").as("o_orderstatus"))
    // l_linenumber repeats within an order in this fixture, so the order
    // is totalized over the carried columns — rows still tied after all
    // four keys are identical in every output-relevant field
    TemporalOps.applyChangelog(base, ch, keys = Seq("o_orderkey"),
      order = Seq(col("seq").desc, col("op").asc,
        col("o_totalprice").desc, col("o_orderstatus").desc),
      opCol = "op", dataCols = Seq("o_totalprice", "o_orderstatus"))
  }.oracle(
    // CDC apply: last change per key wins (row_number over seq desc),
    // upserts replace payload, deletes drop, unmatched base passes through.
    """WITH ch AS (
      |  SELECT CASE WHEN l_partkey % 13 = 0 THEN -l_orderkey - 1
      |              ELSE l_orderkey END AS o_orderkey,
      |    CAST(l_linenumber AS BIGINT) AS seq,
      |    CASE WHEN l_suppkey % 5 = 0 THEN 'D' ELSE 'U' END AS op,
      |    l_extendedprice AS p, l_returnflag AS st
      |  FROM lineitem),
      |latest AS (
      |  SELECT * FROM (
      |    SELECT *, row_number() OVER (PARTITION BY o_orderkey
      |      ORDER BY seq DESC, op ASC, p DESC, st DESC) AS rn
      |    FROM ch) WHERE rn = 1),
      |j AS (
      |  SELECT coalesce(b.o_orderkey, l.o_orderkey) AS o_orderkey, l.op,
      |    CASE WHEN l.op IS NOT NULL THEN l.p
      |         ELSE b.o_totalprice END AS o_totalprice,
      |    CASE WHEN l.op IS NOT NULL THEN l.st
      |         ELSE b.o_orderstatus END AS o_orderstatus
      |  FROM orders b FULL JOIN latest l ON b.o_orderkey = l.o_orderkey)
      |SELECT o_orderkey, o_totalprice, o_orderstatus FROM j
      |WHERE op IS NULL OR op <> 'D'""".stripMargin)

  // ---- SCD2 time-travel: snapshot at an instant --------------------------
  // The q117 dimension history read back "as of" mid-January: one narrow
  // interval filter over the compressed history (row-group prunable at
  // scale), no shuffle beyond the history build itself.
  lane("q142_snapshot_at") { (s, dir) =>
    TemporalOps.snapshotAt(
      TemporalOps.scd2Intervals(t(s, dir, "events"),
        keys = Seq("user_id"), order = Seq(col("ts"), col("event_id")),
        tsCol = "ts", tracked = Seq("event_type")),
      at = lit("2024-01-15 00:00:00").cast("timestamp"))
      .select("user_id", "event_id", "event_type", "effective_from",
        "effective_to", "version")
  }.oracle(
    // Time travel: the q117 history filtered to intervals containing the
    // instant (from <= at < to, NULL to = current).
    """WITH chg AS (
      |  SELECT user_id, event_id, ts, event_type FROM (
      |    SELECT user_id, event_id, ts, event_type,
      |      lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
      |      row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |    FROM events)
      |  WHERE rn = 1 OR event_type IS DISTINCT FROM prev_type),
      |hist AS (
      |  SELECT user_id, event_id, event_type,
      |    ts AS effective_from,
      |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS effective_to,
      |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS INT) AS version
      |  FROM chg)
      |SELECT * FROM hist
      |WHERE effective_from <= TIMESTAMP '2024-01-15 00:00:00'
      |  AND (effective_to IS NULL
      |       OR TIMESTAMP '2024-01-15 00:00:00' < effective_to)""".stripMargin)

  // ---- checks: single-pass table profile ---------------------------------
  // One scan + one aggregate profiles five orders columns: nulls, KMV
  // distinct estimates (portable hash -> oracle-replayable; the double
  // column is excluded because double->string renderings differ across
  // engines), typed min/max. Never a multi-count(distinct) Expand.
  lane("q147_profile") { (s, dir) =>
    Profile.profileTable(t(s, dir, "orders"),
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate",
        "o_orderpriority"),
      k = 256)
  }.oracle {
    // Profile replay: per column, null counts + the q115 KMV estimate
    // formula + typed min/max, one UNION ALL branch per column.
    val kmv = (c: String) =>
      s"""h_$c AS (
         |  SELECT DISTINCT ('0x' || substr(md5($c::VARCHAR), 1, 15))::BIGINT AS hv
         |  FROM orders WHERE $c IS NOT NULL),
         |r_$c AS (SELECT hv, row_number() OVER (ORDER BY hv) AS rn FROM h_$c),
         |s_$c AS (SELECT count(*) FILTER (WHERE rn <= 256) AS n,
         |           max(hv) FILTER (WHERE rn = 256) AS kth FROM r_$c)""".stripMargin
    val branch = (c: String, num: Boolean) =>
      s"""SELECT '$c' AS "column",
         |  (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_rows,
         |  (SELECT CAST(count(*) - count($c) AS BIGINT) FROM orders) AS n_nulls,
         |  (SELECT CASE WHEN n < 256 THEN CAST(n AS DOUBLE)
         |     ELSE 255.0 * 1152921504606846976.0 / CAST(kth AS DOUBLE) END
         |   FROM s_$c) AS n_distinct_est,
         |  ${if (num) s"(SELECT CAST(min($c) AS DOUBLE) FROM orders)"
              else "CAST(NULL AS DOUBLE)"} AS min_num,
         |  ${if (num) s"(SELECT CAST(max($c) AS DOUBLE) FROM orders)"
              else "CAST(NULL AS DOUBLE)"} AS max_num,
         |  ${if (num) "CAST(NULL AS VARCHAR)"
              else s"(SELECT CAST(min($c) AS VARCHAR) FROM orders)"} AS min_str,
         |  ${if (num) "CAST(NULL AS VARCHAR)"
              else s"(SELECT CAST(max($c) AS VARCHAR) FROM orders)"} AS max_str""".stripMargin
    val cols = Seq("o_orderkey" -> true, "o_custkey" -> true,
      "o_orderstatus" -> false, "o_orderdate" -> false,
      "o_orderpriority" -> false)
    ("WITH " + cols.map(c => kmv(c._1)).mkString(",\n") + "\n"
      + cols.map(c => branch(c._1, c._2)).mkString("\nUNION ALL\n"))
  }

  // ---- checks: exact Pearson correlation matrix --------------------------
  // All 6 pairs over 4 lineitem measures in one scan/one aggregate;
  // moments are exact integer sums of quantized values, so the result is
  // partition-order independent and SQL-replayable (unlike the built-in
  // float corr). Long split-accumulator path (overflow-guarded, bit-
  // identical to the decimal twin — ProfileSpec pins it): primitive adds
  // in the hot loop instead of BigDecimal, ~2× faster at sf0.1.
  lane("q149_corr_matrix") { (s, dir) =>
    Profile.correlationMatrix(t(s, dir, "lineitem"),
      Seq("l_quantity" -> 1, "l_extendedprice" -> 100,
        "l_discount" -> 100, "l_tax" -> 100), longMoments = true)
  }.oracle {
    // Correlation replay: HUGEINT exact moment sums (the decimal(38,0)
    // twin), then the same fixed double sequence per pair.
    val cols = Seq("l_quantity" -> 1, "l_extendedprice" -> 100,
      "l_discount" -> 100, "l_tax" -> 100)
    val qz = cols.map { case (c, s) =>
      c -> s"CAST(round(CAST($c AS DOUBLE) * $s) AS HUGEINT)"
    }.toMap
    val moments = Seq("CAST(count(*) AS HUGEINT) AS n") ++
      cols.flatMap { case (c, _) =>
        Seq(s"sum(${qz(c)}) AS s_$c", s"sum(${qz(c)} * ${qz(c)}) AS q_$c")
      } ++
      cols.map(_._1).combinations(2).toSeq.map { case Seq(a, b) =>
        s"sum(${qz(a)} * ${qz(b)}) AS p_${a}_$b"
      }
    val pair = (a: String, b: String) =>
      s"""SELECT '$a' AS col_a, '$b' AS col_b,
         |  CAST(n AS BIGINT) AS n_rows,
         |  CASE WHEN CAST(n*q_$a - s_$a*s_$a AS DOUBLE) > 0
         |        AND CAST(n*q_$b - s_$b*s_$b AS DOUBLE) > 0
         |       THEN round(CAST(n*p_${a}_$b - s_$a*s_$b AS DOUBLE)
         |         / sqrt(CAST(n*q_$a - s_$a*s_$a AS DOUBLE)
         |              * CAST(n*q_$b - s_$b*s_$b AS DOUBLE)), 6)
         |  END AS corr FROM m""".stripMargin
    ("WITH m AS (SELECT " + moments.mkString(", ") + " FROM lineitem)\n"
      + cols.map(_._1).combinations(2).toSeq
        .map { case Seq(a, b) => pair(a, b) }.mkString("\nUNION ALL\n"))
  }

  // ---- checks: PSI distribution-drift report -----------------------------
  // Reference = first half of January, current = second half with half of
  // its error events dropped (planted drift); PSI per event_type bucket
  // + total, add-one smoothed, exact integer counts.
  lane("q150_psi_drift") { (s, dir) =>
    val ev = t(s, dir, "events")
    val ref = ev.where(col("ts") < lit("2024-01-16").cast("timestamp"))
    val cur = ev.where(col("ts") >= lit("2024-01-16").cast("timestamp"))
      .where(!(col("event_type") === "error" && col("event_id") % 2 === 0))
    Profile.psiDrift(ref, cur, "event_type")
  }.oracle(
    // PSI replay: per-side counts, full-outer bucket join, add-one
    // smoothing over the union bucket count, same double sequence.
    """WITH ref AS (
      |  SELECT event_type AS bucket, CAST(count(*) AS BIGINT) AS ref_cnt
      |  FROM events WHERE ts < TIMESTAMP '2024-01-16'
      |  GROUP BY 1),
      |cur AS (
      |  SELECT event_type AS bucket, CAST(count(*) AS BIGINT) AS cur_cnt
      |  FROM events WHERE ts >= TIMESTAMP '2024-01-16'
      |    AND NOT (event_type = 'error' AND event_id % 2 = 0)
      |  GROUP BY 1),
      |j AS (
      |  SELECT coalesce(ref.bucket, cur.bucket) AS bucket,
      |    coalesce(ref_cnt, 0) AS ref_cnt, coalesce(cur_cnt, 0) AS cur_cnt
      |  FROM ref FULL JOIN cur ON ref.bucket = cur.bucket),
      |t AS (
      |  SELECT CAST(count(*) AS BIGINT) AS b,
      |    CAST(sum(ref_cnt) AS BIGINT) AS rt,
      |    CAST(sum(cur_cnt) AS BIGINT) AS ct
      |  FROM j),
      |c AS (
      |  SELECT bucket, ref_cnt, cur_cnt,
      |    CAST(ref_cnt + 1 AS DOUBLE) / CAST(rt + b AS DOUBLE) AS p,
      |    CAST(cur_cnt + 1 AS DOUBLE) / CAST(ct + b AS DOUBLE) AS q
      |  FROM j, t)
      |SELECT bucket, ref_cnt, cur_cnt,
      |  round(p, 6) AS ref_p, round(q, 6) AS cur_p,
      |  round((p - q) * ln(p / q), 6) AS psi_contrib,
      |  round(sum((p - q) * ln(p / q)) OVER (), 6) AS psi_total
      |FROM c""".stripMargin)

  // ---- checks: per-group OLS trend fit -----------------------------------
  // extendedprice ~ quantity per returnflag: one hash aggregation of
  // exact integer moments per group, closed-form slope/intercept/r².
  // Long split-accumulator path (per-group overflow guard, bit-identical
  // to the decimal twin — spec-pinned), like q149.
  lane("q151_group_ols") { (s, dir) =>
    Profile.olsByGroup(t(s, dir, "lineitem"), Seq("l_returnflag"),
      x = "l_quantity" -> 1, y = "l_extendedprice" -> 100,
      longMoments = true)
  }.oracle(
    // OLS replay: HUGEINT moments per group, closed forms in the same
    // double order; slope rescaled to original units by xs/ys = 1/100.
    """WITH m AS (
      |  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
      |    sum(CAST(round(CAST(l_quantity AS DOUBLE) * 1) AS HUGEINT)) AS sx,
      |    sum(CAST(round(CAST(l_extendedprice AS DOUBLE) * 100) AS HUGEINT)) AS sy,
      |    sum(CAST(round(CAST(l_quantity AS DOUBLE) * 1) AS HUGEINT)
      |      * CAST(round(CAST(l_quantity AS DOUBLE) * 1) AS HUGEINT)) AS sxx,
      |    sum(CAST(round(CAST(l_extendedprice AS DOUBLE) * 100) AS HUGEINT)
      |      * CAST(round(CAST(l_extendedprice AS DOUBLE) * 100) AS HUGEINT)) AS syy,
      |    sum(CAST(round(CAST(l_quantity AS DOUBLE) * 1) AS HUGEINT)
      |      * CAST(round(CAST(l_extendedprice AS DOUBLE) * 100) AS HUGEINT)) AS sxy
      |  FROM lineitem GROUP BY 1),
      |f AS (
      |  SELECT l_returnflag, n_rows,
      |    CAST(n_rows*sxx - sx*sx AS DOUBLE) AS dx,
      |    CAST(n_rows*syy - sy*sy AS DOUBLE) AS dy,
      |    CAST(n_rows*sxy - sx*sy AS DOUBLE) AS num,
      |    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
      |  FROM m)
      |SELECT l_returnflag, n_rows,
      |  CASE WHEN dx > 0
      |    THEN round((num / dx) * (CAST(1 AS DOUBLE) / CAST(100 AS DOUBLE)), 6)
      |  END AS slope,
      |  CASE WHEN dx > 0
      |    THEN round(((syd - (num / dx) * sxd) / CAST(n_rows AS DOUBLE))
      |      / 100, 6)
      |  END AS intercept,
      |  CASE WHEN dx > 0 AND dy > 0
      |    THEN round(num * num / (dx * dy), 6)
      |  END AS r2
      |FROM f""".stripMargin)

  // ---- checks: chi-square independence + Cramér's V ----------------------
  // lang × source association over documents: full R×C grid including
  // never-observed cells (they still contribute E), bucket-space joins.
  lane("q153_chi_square") { (s, dir) =>
    Profile.chiSquare(t(s, dir, "documents"), "lang", "source")
  }.oracle(
    // Chi-square replay: margins cross-joined to the full grid, same
    // double sequence over exact counts.
    """WITH obs AS (
      |  SELECT lang AS a, source AS b, CAST(count(*) AS BIGINT) AS observed
      |  FROM documents GROUP BY 1, 2),
      |ra AS (SELECT a, CAST(sum(observed) AS BIGINT) AS ra FROM obs GROUP BY 1),
      |cb AS (SELECT b, CAST(sum(observed) AS BIGINT) AS cb FROM obs GROUP BY 1),
      |grid AS (
      |  SELECT ra.a, cb.b, ra.ra, cb.cb, coalesce(obs.observed, 0) AS observed
      |  FROM ra CROSS JOIN cb LEFT JOIN obs USING (a, b)),
      |t AS (
      |  SELECT CAST(sum(observed) AS BIGINT) AS n,
      |    CAST(count(DISTINCT a) AS BIGINT) AS na,
      |    CAST(count(DISTINCT b) AS BIGINT) AS nb
      |  FROM grid),
      |c AS (
      |  SELECT a, b, observed, ra, cb, n, na, nb,
      |    CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(n AS DOUBLE) AS exp,
      |    (CAST(observed AS DOUBLE)
      |      - CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(n AS DOUBLE))
      |    * (CAST(observed AS DOUBLE)
      |      - CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(n AS DOUBLE))
      |    / (CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(n AS DOUBLE))
      |      AS ctr
      |  FROM grid, t)
      |SELECT a, b, observed, round(exp, 6) AS expected,
      |  round(ctr, 6) AS contrib,
      |  round(sum(ctr) OVER (), 6) AS chi2,
      |  (na - 1) * (nb - 1) AS dof,
      |  round(sqrt(sum(ctr) OVER ()
      |    / (CAST(n AS DOUBLE) * CAST(least(na - 1, nb - 1) AS DOUBLE))), 6)
      |    AS cramers_v,
      |  n AS n_rows
      |FROM c""".stripMargin)

  // ---- checks: snapshot diff report --------------------------------------
  // "Yesterday's" orders vs a deterministically mutated "today": every
  // 11th key removed, every 7th repriced (changed), negative-key inserts;
  // row-level added/removed/changed/unchanged with changed-column lists.
  lane("q155_snapshot_diff") { (s, dir) =>
    val base = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
    val today = base
      .where(col("o_orderkey") % 11 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 7 === 0, col("o_totalprice") + 1.0)
          .otherwise(col("o_totalprice")))
      .unionByName(base.where(col("o_orderkey") % 13 === 0)
        .select((-col("o_orderkey") - 1).as("o_orderkey"),
          col("o_totalprice"), col("o_orderstatus")))
    TemporalOps.diffSnapshots(base, today, keys = Seq("o_orderkey"),
      compareCols = Seq("o_totalprice", "o_orderstatus"))
  }.oracle(
    // Snapshot diff: the same mutation replayed, full-outer classified.
    """WITH base AS (
      |  SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders),
      |today AS (
      |  SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0
      |         ELSE o_totalprice END AS o_totalprice,
      |    o_orderstatus
      |  FROM base WHERE o_orderkey % 11 <> 0
      |  UNION ALL
      |  SELECT -o_orderkey - 1, o_totalprice, o_orderstatus
      |  FROM base WHERE o_orderkey % 13 = 0),
      |j AS (
      |  SELECT coalesce(b.o_orderkey, t.o_orderkey) AS o_orderkey,
      |    b.o_orderkey IS NOT NULL AS in_old,
      |    t.o_orderkey IS NOT NULL AS in_new,
      |    (b.o_totalprice IS DISTINCT FROM t.o_totalprice) AS chg_p,
      |    (b.o_orderstatus IS DISTINCT FROM t.o_orderstatus) AS chg_s
      |  FROM base b FULL JOIN today t ON b.o_orderkey = t.o_orderkey)
      |SELECT o_orderkey,
      |  CASE WHEN NOT in_old THEN 'added'
      |       WHEN NOT in_new THEN 'removed'
      |       WHEN chg_p OR chg_s THEN 'changed'
      |       ELSE 'unchanged' END AS status,
      |  CASE WHEN in_old AND in_new THEN
      |    concat_ws(',',
      |      CASE WHEN chg_p THEN 'o_totalprice' END,
      |      CASE WHEN chg_s THEN 'o_orderstatus' END)
      |  END AS changed_cols,
      |  CASE WHEN in_old AND in_new THEN
      |    CAST((CASE WHEN chg_p THEN 1 ELSE 0 END)
      |       + (CASE WHEN chg_s THEN 1 ELSE 0 END) AS BIGINT)
      |  ELSE 0 END AS n_changed
      |FROM j""".stripMargin)

  // ---- capstone chain: harvest → allocation → mcoe, oracle-replayable ----
  // The Etl.buildWide chain's metric stage as a graded query: supplier
  // nationkey is HARVESTED (occurrence-consistency vote over a clean
  // master + a noisy order-grain feed, q88's shape), order totals are
  // allocated by quantity-share ownership, and the per-(supplier, year)
  // rollup ratios come out of the allocated revenue. Allocation here is
  // EXACT INTEGER cents — (tp_cents · qty) DIV qty_total per
  // (order, supplier), truncated like the SQL's integer division — so
  // the revenue sums are partition-order independent and the oracle
  // hash-matches without tolerance (the production Etl path keeps the
  // reference's float scale_by_ownership; this is its exact twin, the
  // same twin discipline as q140/q148/q152).
  private val capstoneMetrics = lane("q156_capstone_metrics") { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val li = t(s, dir, "lineitem")
    val sup = t(s, dir, "supplier")
    val direct = sup.select(col("s_suppkey").as("suppkey"),
      col("s_nationkey").cast("long").as("nationkey"))
    val reported = li
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey").as("suppkey"),
        when(col("l_orderkey") % 13 === 0, col("s_nationkey") + 1)
          .otherwise(col("s_nationkey")).cast("long").as("nationkey"))
    val entities = Harvest.occurrenceConsistency(
        direct.unionByName(reported), Seq("suppkey"), "nationkey", 0.7)
      .select(col("suppkey").as("s_suppkey"), col("nationkey"))
    // one hash(l_orderkey) exchange serves both the (order, supplier)
    // agg and the ownership-total window (the q12 shape)
    val own = li.repartition(col("l_orderkey"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity")).cast("long").as("qty"))
      .withColumn("__tot",
        sum(col("qty")).over(Window.partitionBy(col("l_orderkey"))))
    val alloc = t(s, dir, "orders")
      .select(col("o_orderkey"), year(col("o_orderdate")).as("order_year"),
        round(col("o_totalprice") * 100).cast("long").as("__tp_cents"))
      .join(own, col("o_orderkey") === col("l_orderkey"))
      .select(col("l_suppkey"), col("order_year"), col("qty"),
        expr("(__tp_cents * qty) DIV __tot").as("__alloc_cents"))
    alloc.groupBy(col("l_suppkey").as("s_suppkey"), col("order_year"))
      .agg((sum(col("__alloc_cents")) / 100.0).as("alloc_revenue"),
        sum(col("qty")).as("qty"))
      .join(broadcast(entities), Seq("s_suppkey"), "left")
      .withColumn("price_per_qty",
        round(col("alloc_revenue") / col("qty"), 4))
      .select("s_suppkey", "order_year", "nationkey", "alloc_revenue",
        "qty", "price_per_qty")
  }.oracle(
    // Capstone chain replay: harvest vote (q88 shape) + integer-cent
    // ownership allocation + per-(supplier, year) rollup. Every revenue
    // cell is a sum of exact integer cents, so no tolerance is needed.
    """WITH cand AS (
      |  SELECT s_suppkey AS suppkey, CAST(s_nationkey AS BIGINT) AS nationkey
      |  FROM supplier
      |  UNION ALL
      |  SELECT s_suppkey,
      |    CAST(CASE WHEN l_orderkey % 13 = 0 THEN s_nationkey + 1
      |         ELSE s_nationkey END AS BIGINT)
      |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey),
      |vc AS (
      |  SELECT suppkey, nationkey, count(*) AS n FROM cand
      |  WHERE nationkey IS NOT NULL GROUP BY 1, 2),
      |vr AS (
      |  SELECT *, sum(n) OVER (PARTITION BY suppkey) AS tc,
      |    row_number() OVER (PARTITION BY suppkey
      |      ORDER BY n DESC, nationkey ASC) AS rk
      |  FROM vc),
      |ent AS (
      |  SELECT suppkey AS s_suppkey,
      |    CASE WHEN CAST(n AS DOUBLE)/tc > 0.7e0 THEN nationkey END
      |      AS nationkey
      |  FROM vr WHERE rk = 1),
      |own AS (
      |  SELECT l_orderkey, l_suppkey,
      |    CAST(sum(l_quantity) AS BIGINT) AS qty
      |  FROM lineitem GROUP BY 1, 2),
      |ownt AS (
      |  SELECT *, sum(qty) OVER (PARTITION BY l_orderkey) AS tot
      |  FROM own),
      |alloc AS (
      |  SELECT f.l_suppkey, year(o.o_orderdate) AS order_year, f.qty,
      |    (CAST(round(o.o_totalprice * 100) AS BIGINT) * f.qty) // f.tot
      |      AS alloc_cents
      |  FROM orders o JOIN ownt f ON o.o_orderkey = f.l_orderkey)
      |SELECT a.l_suppkey AS s_suppkey, a.order_year, e.nationkey,
      |  sum(a.alloc_cents) / 100.0 AS alloc_revenue,
      |  CAST(sum(a.qty) AS BIGINT) AS qty,
      |  round((sum(a.alloc_cents) / 100.0) / sum(a.qty), 4)
      |    AS price_per_qty
      |FROM alloc a LEFT JOIN ent e ON a.l_suppkey = e.s_suppkey
      |GROUP BY 1, 2, 3""".stripMargin)

  // ---- capstone chain: plant-parts grains over the q156 metrics ----------
  // Stage 4 of the Etl.buildWide chain as a graded query: the
  // supplier/nation/region grain family (q51) + true-grain labeling
  // (q89) computed over the CHAINED metrics frame — nation comes from
  // the harvested nationkey, region through the broadcast nation dim.
  // Revenue re-aggregates as exact integer cents (the q156 cells are
  // cents/100, so ·100 recovers them losslessly), keeping every sum
  // partition-order independent and the oracle hash-exact.
  lane("q157_capstone_parts") { (s, dir) =>
    val withRegion = capstoneMetrics.build(s, dir).join(
      broadcast(t(s, dir, "nation").select(
        col("n_nationkey").cast("long").as("nationkey"),
        col("n_regionkey"))),
      Seq("nationkey"), "left")
      .withColumn("__cents",
        round(col("alloc_revenue") * 100).cast("long"))
    val parts = PlantParts.grainRollup(withRegion,
      Seq("supplier" -> col("s_suppkey"), "nation" -> col("nationkey"),
        "region" -> col("n_regionkey")),
      Seq((sum(col("__cents")) / 100.0).as("sum_revenue"),
        count(lit(1)).as("n_rows"),
        count_distinct(col("s_suppkey")).as("n_suppliers")))
    PlantParts.trueGranularity(parts, Seq("sum_revenue", "n_rows", "n_suppliers"))
      .select("grain", "part_key", "sum_revenue", "n_rows", "n_suppliers",
        "true_gran")
  }.oracle(
    // Capstone plant-parts replay: the q156 chain re-aggregated at three
    // grains with the q89 true-grain signature window; revenue stays in
    // exact integer cents until the final /100.
    """WITH cand AS (
      |  SELECT s_suppkey AS suppkey, CAST(s_nationkey AS BIGINT) AS nationkey
      |  FROM supplier
      |  UNION ALL
      |  SELECT s_suppkey,
      |    CAST(CASE WHEN l_orderkey % 13 = 0 THEN s_nationkey + 1
      |         ELSE s_nationkey END AS BIGINT)
      |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey),
      |vc AS (
      |  SELECT suppkey, nationkey, count(*) AS n FROM cand
      |  WHERE nationkey IS NOT NULL GROUP BY 1, 2),
      |vr AS (
      |  SELECT *, sum(n) OVER (PARTITION BY suppkey) AS tc,
      |    row_number() OVER (PARTITION BY suppkey
      |      ORDER BY n DESC, nationkey ASC) AS rk
      |  FROM vc),
      |ent AS (
      |  SELECT suppkey AS s_suppkey,
      |    CASE WHEN CAST(n AS DOUBLE)/tc > 0.7e0 THEN nationkey END
      |      AS nationkey
      |  FROM vr WHERE rk = 1),
      |own AS (
      |  SELECT l_orderkey, l_suppkey,
      |    CAST(sum(l_quantity) AS BIGINT) AS qty
      |  FROM lineitem GROUP BY 1, 2),
      |ownt AS (
      |  SELECT *, sum(qty) OVER (PARTITION BY l_orderkey) AS tot
      |  FROM own),
      |alloc AS (
      |  SELECT f.l_suppkey, year(o.o_orderdate) AS order_year,
      |    f.qty,
      |    (CAST(round(o.o_totalprice * 100) AS BIGINT) * f.qty) // f.tot
      |      AS alloc_cents
      |  FROM orders o JOIN ownt f ON o.o_orderkey = f.l_orderkey),
      |metrics AS (
      |  SELECT a.l_suppkey AS s_suppkey, a.order_year, e.nationkey,
      |    CAST(sum(a.alloc_cents) AS BIGINT) AS cents,
      |    CAST(sum(a.qty) AS BIGINT) AS qty
      |  FROM alloc a LEFT JOIN ent e ON a.l_suppkey = e.s_suppkey
      |  GROUP BY 1, 2, 3),
      |wr AS (
      |  SELECT m.*, n.n_regionkey FROM metrics m
      |  LEFT JOIN nation n ON m.nationkey = n.n_nationkey),
      |parts AS (
      |  SELECT CAST(s_suppkey AS VARCHAR) AS part_key,
      |    sum(cents) / 100.0 AS sum_revenue, count(*) AS n_rows,
      |    count(DISTINCT s_suppkey) AS n_suppliers,
      |    'supplier' AS grain, 1 AS priority
      |  FROM wr GROUP BY 1
      |  UNION ALL
      |  SELECT CAST(nationkey AS VARCHAR), sum(cents) / 100.0,
      |    count(*), count(DISTINCT s_suppkey), 'nation', 2
      |  FROM wr GROUP BY 1
      |  UNION ALL
      |  SELECT CAST(n_regionkey AS VARCHAR), sum(cents) / 100.0,
      |    count(*), count(DISTINCT s_suppkey), 'region', 3
      |  FROM wr GROUP BY 1)
      |SELECT grain, part_key, sum_revenue, n_rows, n_suppliers,
      |  row_number() OVER (
      |    PARTITION BY sum_revenue, n_rows, n_suppliers
      |    ORDER BY priority ASC, part_key ASC) = 1 AS true_gran
      |FROM parts""".stripMargin)

  // ---- dbt checks, part 2: the remaining two macros --------------------
  // expect_summed_columns_not_exceed_threshold + one_value_per_key
  // (dbt/macros/) over the lineitem⋈orders frame — one
  // exceed check that trips and one that holds, one functional
  // dependency that holds (order → customer) and one that trips
  // (customer → order status). Same lazy one-row-aggregation-per-check
  // shape as q92.
  lane("q160_dbt_checks2") { (s, dir) =>
    import graft.checks.CheckRunner._
    val j = t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
    run(j, Seq(
      SummedNotExceed("lineitem:tax_discount_vs_qty_cents", "l_tax",
        "l_discount", "l_quantity", multiplier = 0.01),
      SummedNotExceed("lineitem:tax_discount_le_total", "l_tax",
        "l_discount", "o_totalprice"),
      OneValuePerKey("orders:order_to_cust", "l_orderkey", "o_custkey"),
      OneValuePerKey("orders:cust_to_status", "o_custkey", "o_orderstatus")))
  }.oracle(
    // dbt macros part 2 replay: the exceed counts and functional-
    // dependency violation counts recomputed directly.
    """WITH j AS (
      |  SELECT l.l_tax, l.l_discount, l.l_quantity, l.l_orderkey,
      |    o.o_totalprice, o.o_custkey, o.o_orderstatus
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
      |c1 AS (
      |  SELECT 'lineitem:tax_discount_vs_qty_cents' AS check_name,
      |    count(CASE WHEN l_tax IS NOT NULL AND l_discount IS NOT NULL
      |      AND l_quantity IS NOT NULL
      |      AND (l_tax + l_discount) > l_quantity * 0.01 THEN 1 END)
      |      AS observed
      |  FROM j),
      |c2 AS (
      |  SELECT 'lineitem:tax_discount_le_total' AS check_name,
      |    count(CASE WHEN l_tax IS NOT NULL AND l_discount IS NOT NULL
      |      AND o_totalprice IS NOT NULL
      |      AND (l_tax + l_discount) > o_totalprice * 1.0 THEN 1 END)
      |      AS observed
      |  FROM j),
      |c3 AS (
      |  SELECT 'orders:order_to_cust' AS check_name,
      |    count(CASE WHEN n > 1 THEN 1 END) AS observed
      |  FROM (SELECT l_orderkey, count(DISTINCT o_custkey) AS n
      |        FROM j WHERE l_orderkey IS NOT NULL GROUP BY 1)),
      |c4 AS (
      |  SELECT 'orders:cust_to_status' AS check_name,
      |    count(CASE WHEN n > 1 THEN 1 END) AS observed
      |  FROM (SELECT o_custkey, count(DISTINCT o_orderstatus) AS n
      |        FROM j WHERE o_custkey IS NOT NULL GROUP BY 1))
      |SELECT check_name, observed = 0 AS passed, observed FROM c1
      |UNION ALL
      |SELECT check_name, observed = 0 AS passed, observed FROM c2
      |UNION ALL
      |SELECT check_name, observed = 0 AS passed, observed FROM c3
      |UNION ALL
      |SELECT check_name, observed = 0 AS passed, observed FROM c4"""
      .stripMargin)

  // ---- harvest: last-reported-date rescue ---------------------------------
  // The second harvest special case (reference `_last_operating_date`,
  // eia.py:253-328): a date-like attribute whose modal vote fails
  // strictness falls back to the LAST reported non-null value; the
  // reference's re-vote then trivially passes, so rescued rows carry
  // rate 1.0. Customers with one order pass the vote (rate 1.0 modal),
  // multi-year customers fail it and get rescued with their latest year;
  // o_orderpriority rides along as a plain modal attribute, so the
  // assembly join mixes both lanes.
  lane("q164_harvest_lastdate") { (s, dir) =>
    val orders = t(s, dir, "orders")
    def half(parity: Int) = orders
      .where(pmod(col("o_orderkey"), lit(2)) === parity)
      .select(col("o_custkey"),
        // long: DuckDB year() is BIGINT and the driver hash is type-aware
        year(col("o_orderdate")).cast("long").as("op_year"),
        col("o_orderdate"), col("o_orderpriority"))
    graft.operators.Harvest.harvestEntityTables(
        Seq(half(0), half(1)), Seq("o_custkey"),
        attrs = Seq("op_year", "o_orderpriority"),
        lastReported = Map("op_year" -> "o_orderdate"))
      .orderBy("o_custkey")
  }.oracle(
    // Harvest last-reported rescue replay: the same modal vote, plus the
    // last-by-date fallback for op_year with rate pinned to 1.0 on rescue.
    // The two parity halves union back to all of orders, so the oracle
    // votes over orders directly.
    """WITH cand AS (
      |  SELECT o_custkey, year(o_orderdate) AS op_year, o_orderdate,
      |    o_orderpriority
      |  FROM orders),
      |yr_counts AS (
      |  SELECT o_custkey, op_year, count(*) AS vc FROM cand
      |  WHERE op_year IS NOT NULL GROUP BY 1, 2),
      |yr_rank AS (
      |  SELECT *, sum(vc) OVER (PARTITION BY o_custkey) AS tc,
      |    row_number() OVER (PARTITION BY o_custkey
      |      ORDER BY vc DESC, op_year ASC) AS rk
      |  FROM yr_counts),
      |yr_modal AS (
      |  SELECT o_custkey,
      |    CASE WHEN CAST(vc AS DOUBLE)/tc > 0.7e0 THEN op_year END AS op_year,
      |    CAST(vc AS DOUBLE)/tc AS rate
      |  FROM yr_rank WHERE rk = 1),
      |yr_last AS (
      |  SELECT o_custkey, op_year AS lastv FROM (
      |    SELECT o_custkey, op_year,
      |      row_number() OVER (PARTITION BY o_custkey
      |        ORDER BY o_orderdate DESC, op_year DESC) AS rn
      |    FROM cand WHERE op_year IS NOT NULL) WHERE rn = 1),
      |yr AS (
      |  SELECT m.o_custkey,
      |    coalesce(m.op_year, l.lastv) AS op_year,
      |    CASE WHEN m.op_year IS NULL AND l.lastv IS NOT NULL THEN 1.0e0
      |         ELSE m.rate END AS op_year_rate
      |  FROM yr_modal m LEFT JOIN yr_last l USING (o_custkey)),
      |pr_counts AS (
      |  SELECT o_custkey, o_orderpriority, count(*) AS vc FROM cand
      |  WHERE o_orderpriority IS NOT NULL GROUP BY 1, 2),
      |pr_rank AS (
      |  SELECT *, sum(vc) OVER (PARTITION BY o_custkey) AS tc,
      |    row_number() OVER (PARTITION BY o_custkey
      |      ORDER BY vc DESC, o_orderpriority ASC) AS rk
      |  FROM pr_counts),
      |pr AS (
      |  SELECT o_custkey,
      |    CASE WHEN CAST(vc AS DOUBLE)/tc > 0.7e0
      |         THEN o_orderpriority END AS o_orderpriority,
      |    CAST(vc AS DOUBLE)/tc AS o_orderpriority_rate
      |  FROM pr_rank WHERE rk = 1)
      |SELECT coalesce(y.o_custkey, p.o_custkey) AS o_custkey,
      |  y.op_year, y.op_year_rate, p.o_orderpriority, p.o_orderpriority_rate
      |FROM yr y FULL OUTER JOIN pr p ON y.o_custkey = p.o_custkey
      |ORDER BY o_custkey""".stripMargin)
}
