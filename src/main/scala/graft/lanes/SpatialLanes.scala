package graft
package lanes

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.operators.Allocation

/** Spatial lanes: polygon overlay, clipping, dissolve, point-in-region,
  * territory compilation, geometry bridges and geo codes. Reference paths
  * are into the PUDL source tree. */
object SpatialLanes extends LaneFamily {

  // ---- §2.13 planar overlay with area-weighted apportionment -------------
  // Reference: overlay / self_union ratio semantics
  // (src/pudl/analysis/spatial.py:118-288). Supplier
  // "territories" × customer "counties" as boxes derived from keys; pairs
  // come from the grid-bucketed spatial equi-join (cell = 8) with
  // reference-point dedup — the oracle reproduces the same pairs with a
  // plain range join, proving the blocking is lossless.
  lane("q82_overlay_alloc") { (s, dir) =>
    val terr = t(s, dir, "supplier")
      .select(col("s_suppkey"),
        ((col("s_suppkey") % 50) * 2.0).as("x1"),
        ((col("s_suppkey") % 30) * 2.0).as("y1"),
        ((col("s_suppkey") % 50) * 2.0 + 3.0 + (col("s_suppkey") % 4)).as("x2"),
        ((col("s_suppkey") % 30) * 2.0 + 2.0 + (col("s_suppkey") % 5)).as("y2"))
    val county = t(s, dir, "customer")
      .select(col("c_custkey"),
        ((col("c_custkey") % 40) * 2.5).as("x1"),
        ((col("c_custkey") % 24) * 2.5).as("y1"),
        // 4x4 counties: right_area = 16, so area_fraction is exactly dyadic
        // (m/64) and the prorated product is bit-identical across engines —
        // a /3 denominator would put round() on a repeating-decimal boundary
        ((col("c_custkey") % 40) * 2.5 + 4.0).as("x2"),
        ((col("c_custkey") % 24) * 2.5 + 4.0).as("y2"),
        col("c_acctbal"))
    graft.spatial.SpatialOps.overlayBoxes(terr, county, "s_suppkey",
        "c_custkey", Seq("c_acctbal"), cell = 8.0)
      // no rounding: inter_area is an exact multiple of 0.25, the fraction
      // is exactly m/64, and the allocation is one IEEE multiply — all
      // bit-identical across engines (rounding could only hurt)
      .select(col("s_suppkey"), col("c_custkey"), col("inter_area"),
        col("area_fraction"), col("c_acctbal_alloc").as("acctbal_alloc"))
  }.oracle(
    """WITH terr AS (
      |  SELECT s_suppkey,
      |    (s_suppkey % 50) * 2.0e0 AS ax1,
      |    (s_suppkey % 30) * 2.0e0 AS ay1,
      |    (s_suppkey % 50) * 2.0e0 + 3.0e0 + (s_suppkey % 4) AS ax2,
      |    (s_suppkey % 30) * 2.0e0 + 2.0e0 + (s_suppkey % 5) AS ay2
      |  FROM supplier),
      |county AS (
      |  SELECT c_custkey,
      |    (c_custkey % 40) * 2.5e0 AS bx1,
      |    (c_custkey % 24) * 2.5e0 AS by1,
      |    (c_custkey % 40) * 2.5e0 + 4.0e0 AS bx2,
      |    (c_custkey % 24) * 2.5e0 + 4.0e0 AS by2,
      |    c_acctbal
      |  FROM customer),
      |pairs AS (
      |  SELECT s_suppkey, c_custkey,
      |    (least(ax2, bx2) - greatest(ax1, bx1)) *
      |      (least(ay2, by2) - greatest(ay1, by1)) AS inter_area,
      |    (bx2 - bx1) * (by2 - by1) AS right_area, c_acctbal
      |  FROM terr JOIN county
      |    ON least(ax2, bx2) > greatest(ax1, bx1)
      |   AND least(ay2, by2) > greatest(ay1, by1))
      |SELECT s_suppkey, c_custkey, inter_area,
      |  inter_area / right_area AS area_fraction,
      |  c_acctbal * (inter_area / right_area) AS acctbal_alloc
      |FROM pairs""".stripMargin)

  // ---- §2.13 group-wise dissolve: exact union area per nation ------------
  // Reference: dissolve (src/pudl/analysis/spatial.py:173-206).
  // Integer-coordinate boxes make the oracle exact: union area == number of
  // covered unit cells, which SQL counts directly — the sweep-line result
  // must equal it cell for cell.
  lane("q83_dissolve_area") { (s, dir) =>
    val boxes = t(s, dir, "supplier")
      .select(col("s_nationkey"),
        (col("s_suppkey") % 40).cast("double").as("x1"),
        ((col("s_suppkey") * 7) % 30).cast("double").as("y1"),
        ((col("s_suppkey") % 40) + 1 + (col("s_suppkey") % 5)).cast("double").as("x2"),
        (((col("s_suppkey") * 7) % 30) + 1 + (col("s_suppkey") % 4)).cast("double").as("y2"))
    graft.spatial.SpatialOps.unionAreaByGroup(boxes, "s_nationkey")
  }.oracle(
    """WITH boxes AS (
      |  SELECT s_nationkey,
      |    CAST(s_suppkey % 40 AS INT) AS x1,
      |    CAST((s_suppkey * 7) % 30 AS INT) AS y1,
      |    CAST((s_suppkey % 40) + 1 + (s_suppkey % 5) AS INT) AS x2,
      |    CAST(((s_suppkey * 7) % 30) + 1 + (s_suppkey % 4) AS INT) AS y2
      |  FROM supplier),
      |cellsx AS (
      |  SELECT s_nationkey, y1, y2, unnest(range(x1, x2)) AS cx FROM boxes),
      |cellsy AS (
      |  SELECT s_nationkey, cx, unnest(range(y1, y2)) AS cy FROM cellsx),
      |cells AS (SELECT DISTINCT s_nationkey, cx, cy FROM cellsy),
      |agg AS (
      |  SELECT s_nationkey, CAST(count(*) AS DOUBLE) AS union_area
      |  FROM cells GROUP BY 1),
      |nb AS (SELECT s_nationkey, count(*) AS n_boxes FROM boxes GROUP BY 1)
      |SELECT a.s_nationkey, a.union_area, nb.n_boxes
      |FROM agg a JOIN nb ON a.s_nationkey = nb.s_nationkey""".stripMargin)

  // ---- §2.13 point-in-region spatial join + ring area ---------------------
  // Reference: georeferenced FIPS->geometry joins + add_geometries
  // (src/pudl/output/ferc714.py:884-946,
  // analysis/service_territory.py:65-374). Nations tile the plane as 20x20
  // cells; each customer point lands in exactly one region (half-open
  // containment). The region's ring area comes from the shoelace
  // expression over its polygon ring.
  lane("q84_point_in_region") { (s, dir) =>
    val regions = t(s, dir, "nation")
      .select(col("n_nationkey"), col("n_name"),
        ((col("n_nationkey") % 5) * 20.0).as("x1"),
        (floor(col("n_nationkey") / 5) * 20.0).as("y1"),
        ((col("n_nationkey") % 5) * 20.0 + 20.0).as("x2"),
        (floor(col("n_nationkey") / 5) * 20.0 + 20.0).as("y2"))
      .withColumn("ring_area", graft.spatial.SpatialOps.shoelaceArea(
        array(
          struct(col("x1").as("x"), col("y1").as("y")),
          struct(col("x2").as("x"), col("y1").as("y")),
          struct(col("x2").as("x"), col("y2").as("y")),
          struct(col("x1").as("x"), col("y2").as("y")))))
    val points = t(s, dir, "customer")
      .select(col("c_custkey"),
        ((col("c_custkey") % 97) * 1.03).as("px"),
        ((col("c_custkey") % 89) * 1.1).as("py"))
    points.join(broadcast(regions),
        col("px") >= col("x1") && col("px") < col("x2") &&
          col("py") >= col("y1") && col("py") < col("y2"), "left")
      .select(col("c_custkey"), col("px"), col("py"), col("n_nationkey"),
        col("n_name"), col("ring_area"))
  }.oracle(
    """WITH regions AS (
      |  SELECT n_nationkey, n_name,
      |    (n_nationkey % 5) * 20.0e0 AS x1,
      |    floor(n_nationkey / 5) * 20.0e0 AS y1,
      |    (n_nationkey % 5) * 20.0e0 + 20.0e0 AS x2,
      |    floor(n_nationkey / 5) * 20.0e0 + 20.0e0 AS y2
      |  FROM nation),
      |r2 AS (
      |  SELECT *,
      |    abs((x1*y1 - x2*y1) + (x2*y2 - x2*y1) + (x2*y2 - x1*y2) +
      |        (x1*y1 - x1*y2)) / 2.0e0 AS ring_area
      |  FROM regions),
      |points AS (
      |  SELECT c_custkey,
      |    (c_custkey % 97) * 1.03e0 AS px,
      |    (c_custkey % 89) * 1.1e0 AS py
      |  FROM customer)
      |SELECT p.c_custkey, p.px, p.py, r.n_nationkey, r.n_name, r.ring_area
      |FROM points p LEFT JOIN r2 r
      |  ON p.px >= r.x1 AND p.px < r.x2 AND p.py >= r.y1 AND p.py < r.y2""".stripMargin)

  // ---- §2.13 polygon clipping (self_union core): ring ∩ convex window ----
  // The native ConvexClip expression (Sutherland–Hodgman) computes the
  // intersection ring; the oracle recomputes the area with independent
  // rectangle arithmetic — the two must agree exactly (integer coords).
  lane("q86_convex_clip") { (s, dir) =>
    def corner(x: Column, y: Column) = struct(x.as("x"), y.as("y"))
    val win = array(
      corner(lit(15.0), lit(15.0)), corner(lit(75.0), lit(15.0)),
      corner(lit(75.0), lit(75.0)), corner(lit(15.0), lit(75.0)))
    t(s, dir, "nation")
      .select(col("n_nationkey"),
        ((col("n_nationkey") % 5) * 20.0).as("x1"),
        (floor(col("n_nationkey") / 5) * 20.0).as("y1"),
        ((col("n_nationkey") % 5) * 20.0 + 20.0).as("x2"),
        (floor(col("n_nationkey") / 5) * 20.0 + 20.0).as("y2"))
      .withColumn("clipped_area", graft.spatial.SpatialOps.shoelaceArea(
        graft.plans.ConvexClip(array(
          corner(col("x1"), col("y1")), corner(col("x2"), col("y1")),
          corner(col("x2"), col("y2")), corner(col("x1"), col("y2"))), win)))
      .select("n_nationkey", "x1", "y1", "x2", "y2", "clipped_area")
  }.oracle(
    """SELECT n_nationkey,
      |  (n_nationkey % 5) * 20.0e0 AS x1,
      |  floor(n_nationkey / 5) * 20.0e0 AS y1,
      |  (n_nationkey % 5) * 20.0e0 + 20.0e0 AS x2,
      |  floor(n_nationkey / 5) * 20.0e0 + 20.0e0 AS y2,
      |  greatest(0.0e0, least((n_nationkey % 5) * 20.0e0 + 20.0e0, 75.0e0) -
      |           greatest((n_nationkey % 5) * 20.0e0, 15.0e0)) *
      |  greatest(0.0e0, least(floor(n_nationkey / 5) * 20.0e0 + 20.0e0, 75.0e0) -
      |           greatest(floor(n_nationkey / 5) * 20.0e0, 15.0e0))
      |    AS clipped_area
      |FROM nation""".stripMargin)

  // ---- §2.13 capstone: territory compilation + weighted demand allocation
  // Reference: get_territory_fips/compile_geoms + the state-demand
  // population weighting (src/pudl/analysis/service_territory.py:65-374,
  // analysis/state_demand.py:159-380): a utility's territory is the
  // dissolved union of its county boxes; utility-level demand allocates to
  // counties by population fraction (conservation by construction).
  lane("q91_territory_demand") { (s, dir) =>
    val county = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"),
        (col("c_custkey") % 40).cast("double").as("x1"),
        (col("c_custkey") % 24).cast("double").as("y1"),
        (col("c_custkey") % 40 + 2).cast("double").as("x2"),
        (col("c_custkey") % 24 + 2).cast("double").as("y2"),
        (floor(abs(col("c_acctbal"))) + 1).as("population"))
    val demand = t(s, dir, "orders")
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey"))
      .agg(round(sum(col("o_totalprice")), 2).as("demand_total"))
    val terr = graft.spatial.SpatialOps.unionAreaByGroup(
        county.select(col("c_nationkey"), col("x1"), col("y1"), col("x2"), col("y2")),
        "c_nationkey")
      .select(col("c_nationkey"), col("union_area"))
    Allocation.allocateProportionally(demand, county, Seq("c_nationkey"),
        totalCol = "demand_total", weightCol = "population",
        out = "alloc_demand")
      .join(terr, Seq("c_nationkey"))
      .select("c_custkey", "c_nationkey", "population", "alloc_demand",
        "union_area")
  }.oracle(
    """WITH county AS (
      |  SELECT c_custkey, c_nationkey,
      |    CAST(c_custkey % 40 AS INT) AS x1,
      |    CAST(c_custkey % 24 AS INT) AS y1,
      |    CAST(c_custkey % 40 + 2 AS INT) AS x2,
      |    CAST(c_custkey % 24 + 2 AS INT) AS y2,
      |    CAST(floor(abs(c_acctbal)) + 1 AS BIGINT) AS population
      |  FROM customer),
      |demand AS (
      |  SELECT c_nationkey, round(sum(o_totalprice), 2) AS demand_total
      |  FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1),
      |wsum AS (
      |  SELECT c_nationkey, CAST(sum(population) AS DOUBLE) AS tot,
      |    count(*) AS n
      |  FROM county GROUP BY 1),
      |cellsx AS (
      |  SELECT c_nationkey, y1, y2, unnest(range(x1, x2)) AS cx FROM county),
      |cellsy AS (
      |  SELECT c_nationkey, cx, unnest(range(y1, y2)) AS cy FROM cellsx),
      |terr AS (
      |  SELECT c_nationkey, CAST(count(*) AS DOUBLE) AS union_area
      |  FROM (SELECT DISTINCT c_nationkey, cx, cy FROM cellsy) GROUP BY 1)
      |SELECT c.c_custkey, c.c_nationkey, c.population,
      |  (CASE WHEN w.tot <> 0.0e0 THEN c.population / w.tot
      |        ELSE 1.0e0 / w.n END) * d.demand_total AS alloc_demand,
      |  t.union_area
      |FROM county c
      |JOIN wsum w ON c.c_nationkey = w.c_nationkey
      |JOIN demand d ON c.c_nationkey = d.c_nationkey
      |JOIN terr t ON c.c_nationkey = t.c_nationkey""".stripMargin)

  // ---- §2.9 add_fips_ids / clean_eia_counties + find_timezone: messy name
  // → simplify → manual-fix map → broadcast code dim (zero-padded), plus
  // static tz lookup with deterministic Etc/GMT longitude fallback (the
  // timezonefinder stand-in). Dim = 25 TPC-H nations → ISO 3166-1 numeric.
  lane("q94_fips_tz") { (s, dir) =>
    import graft.functions.GeoCodes
    val dim = GeoCodes.nationDim(s)
    val fixes = Map("untied states" -> "united states")
    val raw = t(s, dir, "customer")
      .join(broadcast(t(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .withColumn("raw_state",
        when(col("c_custkey") % 7 === 0,
          concat(lit("  "), lower(col("n_name")), lit("  ")))
          .when(col("c_custkey") % 13 === 0 && col("n_name") === "UNITED STATES",
            lit("UNTIED STATES"))
          .otherwise(col("n_name")))
      .withColumn("lon", (col("c_custkey") % 360 - 180).cast("double"))
    // tz dim deliberately partial (codes < '500') so the longitude fallback
    // path is exercised on real rows, like plants with no state in the ref.
    val withFips = GeoCodes.addFipsIds(raw, "raw_state", dim,
      outCol = "country_fips", width = 3, fixes = fixes)
    GeoCodes.findTimezone(withFips, "raw_state", Some("lon"),
        dim.where(col("code") < "500"), outCol = "timezone", fixes = fixes)
      .select(col("c_custkey"), col("__name_clean").as("state_clean"),
        col("country_fips"), col("timezone"))
  }.oracle(
    """WITH dim(state_name, code, tz) AS (VALUES
      |  ('algeria','012','Africa/Algiers'),
      |  ('argentina','032','America/Argentina/Buenos_Aires'),
      |  ('brazil','076','America/Sao_Paulo'),
      |  ('canada','124','America/Toronto'),
      |  ('egypt','818','Africa/Cairo'),
      |  ('ethiopia','231','Africa/Addis_Ababa'),
      |  ('france','250','Europe/Paris'),
      |  ('germany','276','Europe/Berlin'),
      |  ('india','356','Asia/Kolkata'),
      |  ('indonesia','360','Asia/Jakarta'),
      |  ('iran','364','Asia/Tehran'),
      |  ('iraq','368','Asia/Baghdad'),
      |  ('japan','392','Asia/Tokyo'),
      |  ('jordan','400','Asia/Amman'),
      |  ('kenya','404','Africa/Nairobi'),
      |  ('morocco','504','Africa/Casablanca'),
      |  ('mozambique','508','Africa/Maputo'),
      |  ('peru','604','America/Lima'),
      |  ('china','156','Asia/Shanghai'),
      |  ('romania','642','Europe/Bucharest'),
      |  ('saudi arabia','682','Asia/Riyadh'),
      |  ('vietnam','704','Asia/Ho_Chi_Minh'),
      |  ('russia','643','Europe/Moscow'),
      |  ('united kingdom','826','Europe/London'),
      |  ('united states','840','America/New_York')),
      |base AS (
      |  SELECT c_custkey,
      |    CASE WHEN c_custkey % 7 = 0 THEN '  ' || lower(n_name) || '  '
      |         WHEN c_custkey % 13 = 0 AND n_name = 'UNITED STATES'
      |           THEN 'UNTIED STATES'
      |         ELSE n_name END AS raw_state,
      |    CAST(c_custkey % 360 - 180 AS DOUBLE) AS lon
      |  FROM customer JOIN nation ON c_nationkey = n_nationkey),
      |clean AS (
      |  SELECT c_custkey, lon,
      |    CASE WHEN s = 'untied states' THEN 'united states' ELSE s END AS s
      |  FROM (SELECT c_custkey, lon,
      |          trim(regexp_replace(regexp_replace(lower(raw_state),
      |            '[^\x20-\x7e]', '', 'g'), '\s+', ' ', 'g')) AS s
      |        FROM base)),
      |off AS (SELECT *, CAST(round(lon / 15.0) AS INTEGER) AS o FROM clean)
      |SELECT c_custkey, s AS state_clean,
      |  lpad(d.code, 3, '0') AS country_fips,
      |  coalesce(tz.tz, 'Etc/GMT' ||
      |    CASE WHEN o >= 0 THEN '-' || o::VARCHAR
      |         ELSE '+' || (-o)::VARCHAR END) AS timezone
      |FROM off
      |LEFT JOIN dim d ON off.s = d.state_name
      |LEFT JOIN (SELECT state_name, tz FROM dim WHERE code < '500') tz
      |  ON off.s = tz.state_name""".stripMargin)

  // ---- §2.13 GENERAL-polygon overlay: concave L-territories × counties ---
  // Reference: overlay/self_union on arbitrary polygons (spatial.py:118-288).
  // Concave L-shaped supplier territories (6-vertex rings) overlay 4×4
  // county boxes through the grid-bucketed join; the exact area comes from
  // the native triangulate-and-clip expression (PolygonIntersectArea). The
  // oracle replays each L as its two disjoint boxes with plain rectangle
  // arithmetic — the general path must agree with the decomposition on
  // every pair, including bbox-overlaps-but-notch-misses pairs (area 0).
  lane("q108_polygon_overlay") { (s, dir) =>
    def pt(x: Column, y: Column) = struct(x.as("x"), y.as("y"))
    // L-outline (CCW): full w×h box minus the top-right notch; equals the
    // union of the bottom w×2 strip and the left 2×(h-2) upper strip
    val terr = t(s, dir, "supplier").select(col("s_suppkey"),
        ((col("s_suppkey") % 50) * 2.0).as("ax"),
        ((col("s_suppkey") % 30) * 2.0).as("ay"),
        (lit(4.0) + col("s_suppkey") % 3).as("w"),
        (lit(4.0) + col("s_suppkey") % 2).as("h"))
      .select(col("s_suppkey"), array(
        pt(col("ax"), col("ay")),
        pt(col("ax") + col("w"), col("ay")),
        pt(col("ax") + col("w"), col("ay") + 2.0),
        pt(col("ax") + 2.0, col("ay") + 2.0),
        pt(col("ax") + 2.0, col("ay") + col("h")),
        pt(col("ax"), col("ay") + col("h"))).as("ring"))
    val county = t(s, dir, "customer").select(col("c_custkey"), col("c_acctbal"),
        ((col("c_custkey") % 40) * 2.0).as("bx"),
        ((col("c_custkey") % 24) * 2.0).as("by0"))
      .select(col("c_custkey"), col("c_acctbal"), array(
        pt(col("bx"), col("by0")), pt(col("bx") + 4.0, col("by0")),
        pt(col("bx") + 4.0, col("by0") + 4.0),
        pt(col("bx"), col("by0") + 4.0)).as("ring"))
    // integer-grid true areas are ≥ 1, so round(·,6) lands exactly on the
    // oracle's rectangle arithmetic; right_area is shoelace-exact 16.0
    val ia = round(col("inter_area"), 6)
    graft.spatial.SpatialOps.overlayPolygons(terr, county, "s_suppkey",
        "c_custkey", Seq("c_acctbal"), cell = 8.0)
      .select(col("s_suppkey"), col("c_custkey"), ia.as("inter_area"),
        (ia / col("right_area")).as("area_fraction"),
        (col("c_acctbal") * (ia / col("right_area"))).as("acctbal_alloc"))
  }.oracle(
    // L-territory ∩ county replayed by decomposing each L into its two
    // disjoint boxes (bottom w×2 strip + left 2×(h-2) upper strip):
    // area(L ∩ B) = area(box1 ∩ B) + area(box2 ∩ B) — plain rectangle
    // arithmetic, independent of the triangulate-and-clip path under test.
    """WITH terr AS (
      |  SELECT s_suppkey,
      |    (s_suppkey % 50) * 2.0e0 AS ax,
      |    (s_suppkey % 30) * 2.0e0 AS ay,
      |    4.0e0 + (s_suppkey % 3) AS w,
      |    4.0e0 + (s_suppkey % 2) AS h
      |  FROM supplier),
      |county AS (
      |  SELECT c_custkey, c_acctbal,
      |    (c_custkey % 40) * 2.0e0 AS bx,
      |    (c_custkey % 24) * 2.0e0 AS by0
      |  FROM customer),
      |pairs AS (
      |  SELECT s_suppkey, c_custkey, c_acctbal,
      |    greatest(0.0e0, least(ax + w, bx + 4.0e0) - greatest(ax, bx)) *
      |      greatest(0.0e0, least(ay + 2.0e0, by0 + 4.0e0) - greatest(ay, by0))
      |    + greatest(0.0e0, least(ax + 2.0e0, bx + 4.0e0) - greatest(ax, bx)) *
      |      greatest(0.0e0, least(ay + h, by0 + 4.0e0) - greatest(ay + 2.0e0, by0))
      |      AS inter
      |  FROM terr, county)
      |SELECT s_suppkey, c_custkey, round(inter, 6) AS inter_area,
      |  round(inter, 6) / 16.0e0 AS area_fraction,
      |  c_acctbal * (round(inter, 6) / 16.0e0) AS acctbal_alloc
      |FROM pairs WHERE inter > 0""".stripMargin)

  // ---- §2.13 MultiPolygon explode + ratio split ---------------------------
  // Reference: explode/polygonize with area-fraction rescaling
  // (spatial.py:52-117). Each supplier's territory is a 3-part
  // multipolygon (array of rings); part areas, the total, and the rescaled
  // value are all within-row higher-order-function arithmetic — no shuffle.
  lane("q109_multipolygon_split") { (s, dir) =>
    def box(ox: Column, oy: Column, w: Column, h: Column) = array(
      struct(ox.as("x"), oy.as("y")),
      struct((ox + w).as("x"), oy.as("y")),
      struct((ox + w).as("x"), (oy + h).as("y")),
      struct(ox.as("x"), (oy + h).as("y")))
    val sup = t(s, dir, "supplier").select(col("s_suppkey"), col("s_acctbal"),
      (col("s_suppkey") % 20).cast("double").as("ox"),
      (col("s_suppkey") % 10).cast("double").as("oy"),
      (lit(1) + col("s_suppkey") % 3).cast("double").as("w0"),
      (lit(1) + col("s_suppkey") % 2).cast("double").as("h0"),
      (lit(1) + col("s_suppkey") % 4).cast("double").as("h1"),
      (lit(1) + col("s_suppkey") % 5).cast("double").as("h2"))
    val multi = sup.withColumn("rings", array(
        box(col("ox"), col("oy"), col("w0"), col("h0")),
        box(col("ox") + 30.0, col("oy"), lit(2.0), col("h1")),
        box(col("ox"), col("oy") + 30.0, lit(3.0), col("h2"))))
      .select("s_suppkey", "s_acctbal", "rings")
    graft.spatial.SpatialOps.explodeMultiPolygon(multi, "s_suppkey",
        Seq("s_acctbal"))
      .select(col("s_suppkey"), col("part_index"), col("ring_area"),
        col("area_fraction"), col("s_acctbal_part").as("acctbal_part"))
  }.oracle(
    // part areas from the box dimensions directly; fractions and rescaled
    // values are the same IEEE divisions/multiplies the Spark side performs
    // on its shoelace-exact integer areas
    """WITH m AS (
      |  SELECT s_suppkey, s_acctbal,
      |    CAST((1 + s_suppkey % 3) * (1 + s_suppkey % 2) AS DOUBLE) AS a0,
      |    CAST(2 * (1 + s_suppkey % 4) AS DOUBLE) AS a1,
      |    CAST(3 * (1 + s_suppkey % 5) AS DOUBLE) AS a2
      |  FROM supplier),
      |p AS (
      |  SELECT s_suppkey, s_acctbal, 0 AS part_index, a0 AS ring_area,
      |    a0 + a1 + a2 AS total FROM m
      |  UNION ALL SELECT s_suppkey, s_acctbal, 1, a1, a0 + a1 + a2 FROM m
      |  UNION ALL SELECT s_suppkey, s_acctbal, 2, a2, a0 + a1 + a2 FROM m)
      |SELECT s_suppkey, part_index, ring_area,
      |  ring_area / total AS area_fraction,
      |  s_acctbal * (ring_area / total) AS acctbal_part
      |FROM p""".stripMargin)

  // ---- §2.13 general-polygon dissolve: union area per nation -------------
  // Reference: dissolve how='union' on concave shapes (spatial.py:173-206).
  // The q108 L-territories (overlapping within a nation) dissolve per
  // nation via the vertical-slab sweep; the oracle counts distinct covered
  // unit cells of each L's two-box decomposition — the sweep must match
  // cell for cell on the integer grid.
  lane("q110_polygon_dissolve") { (s, dir) =>
    def pt(x: Column, y: Column) = struct(x.as("x"), y.as("y"))
    val terr = t(s, dir, "supplier").select(col("s_nationkey"),
        ((col("s_suppkey") % 50) * 2.0).as("ax"),
        ((col("s_suppkey") % 30) * 2.0).as("ay"),
        (lit(4.0) + col("s_suppkey") % 3).as("w"),
        (lit(4.0) + col("s_suppkey") % 2).as("h"))
      .select(col("s_nationkey"), array(
        pt(col("ax"), col("ay")),
        pt(col("ax") + col("w"), col("ay")),
        pt(col("ax") + col("w"), col("ay") + 2.0),
        pt(col("ax") + 2.0, col("ay") + 2.0),
        pt(col("ax") + 2.0, col("ay") + col("h")),
        pt(col("ax"), col("ay") + col("h"))).as("ring"))
    graft.spatial.SpatialOps.unionAreaPolygonsByGroup(terr, "s_nationkey")
  }.oracle(
    // each L decomposed into its two disjoint boxes; union area on the
    // integer grid == count of distinct covered unit cells per nation
    """WITH t AS (
      |  SELECT s_nationkey,
      |    CAST((s_suppkey % 50) * 2 AS INT) AS ax,
      |    CAST((s_suppkey % 30) * 2 AS INT) AS ay,
      |    CAST(4 + (s_suppkey % 3) AS INT) AS w,
      |    CAST(4 + (s_suppkey % 2) AS INT) AS h
      |  FROM supplier),
      |boxes AS (
      |  SELECT s_nationkey, ax AS x1, ay AS y1, ax + w AS x2, ay + 2 AS y2 FROM t
      |  UNION ALL
      |  SELECT s_nationkey, ax, ay + 2, ax + 2, ay + h FROM t),
      |cellsx AS (
      |  SELECT s_nationkey, y1, y2, unnest(range(x1, x2)) AS cx FROM boxes),
      |cellsy AS (
      |  SELECT s_nationkey, cx, unnest(range(y1, y2)) AS cy FROM cellsx),
      |cells AS (SELECT DISTINCT s_nationkey, cx, cy FROM cellsy),
      |agg AS (
      |  SELECT s_nationkey, CAST(count(*) AS DOUBLE) AS union_area
      |  FROM cells GROUP BY 1),
      |np AS (SELECT s_nationkey, count(*) AS n_polys FROM supplier GROUP BY 1)
      |SELECT a.s_nationkey, a.union_area, np.n_polys
      |FROM agg a JOIN np ON a.s_nationkey = np.s_nationkey""".stripMargin)

  // ---- §2.13 service-territory compilation on GENERAL geometry -----------
  // Reference: compile_geoms + territory dissolve + demand weighting
  // (analysis/service_territory.py:65-374). Counties are concave L rings;
  // each belongs to a utility; the utility's territory is the exact UNION
  // of its (possibly overlapping) counties (vertical-slab sweep); county
  // demand allocates by countyArea / territoryArea. The q91 capstone keeps
  // the reference's precomputed-weight state-demand path; this one runs
  // the geometry end to end.
  lane("q111_territory_compile") { (s, dir) =>
    def pt(x: Column, y: Column) = struct(x.as("x"), y.as("y"))
    val counties = t(s, dir, "customer").select(col("c_custkey"), col("c_acctbal"),
        (col("c_custkey") % 25).as("utility_id"),
        ((col("c_custkey") % 40) * 2.0).as("ax"),
        ((col("c_custkey") % 24) * 2.0).as("ay"),
        (lit(4.0) + col("c_custkey") % 3).as("w"),
        (lit(4.0) + col("c_custkey") % 2).as("h"))
      .withColumn("ring", array(
        pt(col("ax"), col("ay")),
        pt(col("ax") + col("w"), col("ay")),
        pt(col("ax") + col("w"), col("ay") + 2.0),
        pt(col("ax") + 2.0, col("ay") + 2.0),
        pt(col("ax") + 2.0, col("ay") + col("h")),
        pt(col("ax"), col("ay") + col("h"))))
    val territory = graft.spatial.SpatialOps.unionAreaPolygonsByGroup(
        counties.select(col("utility_id"), col("ring")), "utility_id")
      .select(col("utility_id"), col("union_area").as("territory_area"))
    val frac = col("county_area") / col("territory_area")
    counties
      .withColumn("county_area", graft.spatial.SpatialOps.shoelaceArea(col("ring")))
      .join(territory, Seq("utility_id"))
      .select(col("utility_id"), col("c_custkey"), col("county_area"),
        col("territory_area"), frac.as("area_fraction"),
        (col("c_acctbal") * frac).as("demand_alloc"))
  }.oracle(
    // counties as L-shapes (area 2w+2h−4 in closed form); territory area
    // by distinct-covered-cell counting of the two-box decompositions —
    // the sweep union must agree, and the fractions/allocations are the
    // same IEEE ops on both engines
    """WITH c AS (
      |  SELECT c_custkey, c_acctbal, c_custkey % 25 AS utility_id,
      |    CAST((c_custkey % 40) * 2 AS INT) AS ax,
      |    CAST((c_custkey % 24) * 2 AS INT) AS ay,
      |    CAST(4 + (c_custkey % 3) AS INT) AS w,
      |    CAST(4 + (c_custkey % 2) AS INT) AS h
      |  FROM customer),
      |boxes AS (
      |  SELECT utility_id, ax AS x1, ay AS y1, ax + w AS x2, ay + 2 AS y2 FROM c
      |  UNION ALL
      |  SELECT utility_id, ax, ay + 2, ax + 2, ay + h FROM c),
      |cellsx AS (
      |  SELECT utility_id, y1, y2, unnest(range(x1, x2)) AS cx FROM boxes),
      |cellsy AS (
      |  SELECT utility_id, cx, unnest(range(y1, y2)) AS cy FROM cellsx),
      |cells AS (SELECT DISTINCT utility_id, cx, cy FROM cellsy),
      |terr AS (
      |  SELECT utility_id, CAST(count(*) AS DOUBLE) AS territory_area
      |  FROM cells GROUP BY 1)
      |SELECT c.utility_id, c.c_custkey,
      |  CAST(2*w + 2*h - 4 AS DOUBLE) AS county_area,
      |  t.territory_area,
      |  CAST(2*w + 2*h - 4 AS DOUBLE) / t.territory_area AS area_fraction,
      |  c_acctbal * (CAST(2*w + 2*h - 4 AS DOUBLE) / t.territory_area)
      |    AS demand_alloc
      |FROM c JOIN terr t ON c.utility_id = t.utility_id""".stripMargin)

  // ---- §2.13 self_union with ratio split ---------------------------------
  // Reference: self_union(gdf, ratios) (spatial.py:118-172) — overlay a
  // layer with ITSELF: overlapping polygons split into atomic pieces, each
  // piece owned by every source polygon covering it, values prorated by
  // pieceArea / ownerArea. Composed from the implemented primitives
  // (overlayPolygons self-join for the shared pieces, shoelace totals for
  // the exclusive remainders). The fixture pairs L-territories so overlaps
  // are pairwise-only (the reference's common case); the oracle replays
  // every piece with two-box rectangle arithmetic.
  lane("q112_self_union_ratio") { (s, dir) =>
    def pt(x: Column, y: Column) = struct(x.as("x"), y.as("y"))
    def ringOf(ox: Column, oy: Column) = array(
      pt(ox, oy), pt(ox + 5.0, oy), pt(ox + 5.0, oy + 2.0),
      pt(ox + 2.0, oy + 2.0), pt(ox + 2.0, oy + 5.0), pt(ox, oy + 5.0))
    val geo = t(s, dir, "supplier").select(col("s_suppkey").as("pid"),
        col("s_acctbal"),
        (col("s_suppkey") / 2).cast("long").as("pr"),
        (col("s_suppkey") % 2).cast("long").as("side"))
      .select(col("pid"), col("s_acctbal"),
        ((col("pr") % 30) * 12.0 + col("side") * (lit(1.0) + col("pr") % 3)).as("ox"),
        ((col("pr") % 20) * 10.0 + col("side") * (col("pr") % 3)).as("oy"))
      .withColumn("ring", ringOf(col("ox"), col("oy")))
    val polysA = geo.select(col("pid").as("pid_a"), col("ring"))
    val polysB = geo.select(col("pid").as("pid_b"), col("ring"))
    val shared = graft.spatial.SpatialOps.overlayPolygons(polysA, polysB,
        "pid_a", "pid_b", Seq.empty, cell = 16.0)
      .where(col("pid_a") < col("pid_b"))
      .select(col("pid_a"), col("pid_b"),
        round(col("inter_area"), 6).as("piece_area"))
    // every L has area 5·2 + 2·3 = 16 (shoelace-exact)
    val ownArea = lit(16.0)
    val sharedRows = shared
      .select(col("pid_a").as("pid"), col("pid_b").as("piece_partner"),
        col("piece_area"))
      .unionByName(shared.select(col("pid_b").as("pid"),
        col("pid_a").as("piece_partner"), col("piece_area")))
    val sharedTotal = sharedRows.groupBy(col("pid"))
      .agg(sum(col("piece_area")).as("__shared"))
    val exclusive = geo.select(col("pid"))
      .join(sharedTotal, Seq("pid"), "left")
      .select(col("pid"), lit(-1L).as("piece_partner"),
        (ownArea - coalesce(col("__shared"), lit(0.0))).as("piece_area"))
    exclusive.unionByName(sharedRows)
      .join(geo.select(col("pid"), col("s_acctbal")), Seq("pid"))
      .select(col("pid"), col("piece_partner"), col("piece_area"),
        (col("piece_area") / ownArea).as("area_fraction"),
        (col("s_acctbal") * (col("piece_area") / ownArea)).as("acctbal_part"))
  }.oracle(
    // self-overlay replay: each L is its two disjoint boxes; a pair's
    // shared piece is the sum of the 2×2 box-pair rectangle intersections;
    // the exclusive remainder is 16 − Σ shared
    """WITH p AS (
      |  SELECT s_suppkey AS pid, s_acctbal,
      |    CAST(floor(s_suppkey / 2) AS BIGINT) AS pr,
      |    s_suppkey % 2 AS side
      |  FROM supplier),
      |geo AS (
      |  SELECT pid, s_acctbal,
      |    (pr % 30) * 12.0e0 + side * (1.0e0 + (pr % 3)) AS ox,
      |    (pr % 20) * 10.0e0 + side * (pr % 3) AS oy
      |  FROM p),
      |boxes AS (
      |  SELECT pid, ox AS x1, oy AS y1, ox + 5 AS x2, oy + 2 AS y2 FROM geo
      |  UNION ALL
      |  SELECT pid, ox, oy + 2, ox + 2, oy + 5 FROM geo),
      |inter AS (
      |  SELECT a.pid AS pid_a, b.pid AS pid_b,
      |    sum(greatest(0, least(a.x2, b.x2) - greatest(a.x1, b.x1)) *
      |        greatest(0, least(a.y2, b.y2) - greatest(a.y1, b.y1)))
      |      AS piece_area
      |  FROM boxes a JOIN boxes b ON a.pid < b.pid
      |  GROUP BY 1, 2
      |  HAVING piece_area > 0),
      |shared_rows AS (
      |  SELECT pid_a AS pid, pid_b AS piece_partner,
      |    round(piece_area, 6) AS piece_area FROM inter
      |  UNION ALL
      |  SELECT pid_b, pid_a, round(piece_area, 6) FROM inter),
      |shared_tot AS (
      |  SELECT pid, sum(piece_area) AS sh FROM shared_rows GROUP BY 1),
      |pieces AS (
      |  SELECT g.pid, CAST(-1 AS BIGINT) AS piece_partner,
      |    16.0e0 - coalesce(t.sh, 0) AS piece_area
      |  FROM geo g LEFT JOIN shared_tot t ON g.pid = t.pid
      |  UNION ALL
      |  SELECT pid, piece_partner, piece_area FROM shared_rows)
      |SELECT x.pid, x.piece_partner, x.piece_area,
      |  x.piece_area / 16.0e0 AS area_fraction,
      |  g.s_acctbal * (x.piece_area / 16.0e0) AS acctbal_part
      |FROM pieces x JOIN geo g ON x.pid = g.pid""".stripMargin)

  // ---- WKB / GeoParquet geometry bridge ----------------------------------
  // The reference moves geometry as GeoParquet WKB (io_managers.py:395-397,
  // spatial.py:15-50); graft's kit works on open array<struct<x,y>> rings.
  // This query drives the bijection both ways at the BYTE level: encode the
  // q108 L-territory as a WKB Polygon and an L+box MultiPolygon, emit the
  // hex (the oracle rebuilds the same bytes arithmetically — IEEE754 bit
  // patterns of the integer-grid coords), then DECODE the bytes back and
  // report shoelace areas from the decoded rings — so a hex match proves
  // the writer and an area match proves the reader.
  lane("q118_wkb_bridge") { (s, dir) =>
    def pt(x: Column, y: Column) = struct(x.as("x"), y.as("y"))
    val terr = t(s, dir, "supplier").select(col("s_suppkey"),
      ((col("s_suppkey") % 50) * 2.0).as("ax"),
      ((col("s_suppkey") % 30) * 2.0).as("ay"),
      (lit(4.0) + col("s_suppkey") % 3).as("w"),
      (lit(4.0) + col("s_suppkey") % 2).as("h"))
    val (ax, ay, w, h) = (col("ax"), col("ay"), col("w"), col("h"))
    val lring = array(
      pt(ax, ay), pt(ax + w, ay), pt(ax + w, ay + 2.0), pt(ax + 2.0, ay + 2.0),
      pt(ax + 2.0, ay + h), pt(ax, ay + h))
    val box = array(
      pt(ax + 200.0, ay), pt(ax + 202.0, ay), pt(ax + 202.0, ay + 2.0),
      pt(ax + 200.0, ay + 2.0))
    val ring1 = element_at(element_at(col("dec.polys"), 1), 1)
    terr
      .withColumn("wkb", graft.plans.WkbFromPolygons(array(array(lring))))
      .withColumn("mp_wkb",
        graft.plans.WkbFromPolygons(array(array(lring), array(box))))
      .withColumn("dec", graft.plans.WkbToPolygons(col("wkb")))
      .withColumn("mdec", graft.plans.WkbToPolygons(col("mp_wkb")))
      .select(col("s_suppkey"),
        lower(hex(col("wkb"))).as("wkb_hex"),
        col("dec.wkb_type").as("wkb_type"),
        size(ring1).as("n_pts"),
        graft.spatial.SpatialOps.shoelaceArea(ring1).as("area"),
        lower(hex(col("mp_wkb"))).as("mp_hex"),
        aggregate(col("mdec.polys"), lit(0.0), (acc, p) =>
          acc + graft.spatial.SpatialOps.shoelaceArea(element_at(p, 1)))
          .as("mp_area"))
  }.oracle(
    // WKB replayed at the BYTE level: the oracle rebuilds the exact
    // little-endian WKB hex arithmetically — IEEE754 bit pattern of each
    // (non-negative, integer-valued) coordinate via floor(log2) + mantissa
    // scaling, bytes reversed into little-endian hex. Areas come from the
    // closed-form L/box arithmetic, independent of the decoder under test.
    """WITH terr AS (
      |  SELECT s_suppkey,
      |    (s_suppkey % 50) * 2.0 AS ax, (s_suppkey % 30) * 2.0 AS ay,
      |    4.0 + (s_suppkey % 3) AS w, 4.0 + (s_suppkey % 2) AS h
      |  FROM supplier),
      |pts AS (
      |  SELECT s_suppkey, i.range AS i,
      |    [[ax,ay],[ax+w,ay],[ax+w,ay+2],[ax+2,ay+2],[ax+2,ay+h],[ax,ay+h],
      |     [ax,ay],
      |     [ax+200,ay],[ax+202,ay],[ax+202,ay+2],[ax+200,ay+2],[ax+200,ay]]
      |      [CAST(i.range + 1 AS INT)] AS p
      |  FROM terr, range(12) i),
      |coords AS (
      |  SELECT s_suppkey, i*2 + j.range AS ord,
      |    CASE WHEN j.range = 0 THEN p[1] ELSE p[2] END AS v
      |  FROM pts, range(2) j),
      |hx AS (
      |  SELECT s_suppkey, ord,
      |    CASE WHEN v = 0 THEN '0000000000000000'
      |         ELSE list_reduce(list_transform(range(0,8), bi -> printf('%02x',
      |           (((CAST(floor(log2(v)) AS BIGINT) + 1023) * 4503599627370496
      |             + CAST(v / pow(2.0, CAST(floor(log2(v)) AS BIGINT))
      |                    * 4503599627370496 AS BIGINT)
      |             - 4503599627370496) >> CAST(8*bi AS INT)) & 255)),
      |           (a, c) -> a || c)
      |    END AS h
      |  FROM coords),
      |ringhex AS (
      |  SELECT s_suppkey,
      |    string_agg(CASE WHEN ord < 14 THEN h END, '' ORDER BY ord) AS lhex,
      |    string_agg(CASE WHEN ord >= 14 THEN h END, '' ORDER BY ord) AS bhex
      |  FROM hx GROUP BY s_suppkey)
      |SELECT t.s_suppkey,
      |  '010300000001000000' || '07000000' || r.lhex AS wkb_hex,
      |  3 AS wkb_type,
      |  6 AS n_pts,
      |  2*t.w + 2*t.h - 4.0 AS area,
      |  '010600000002000000' ||
      |    '010300000001000000' || '07000000' || r.lhex ||
      |    '010300000001000000' || '05000000' || r.bhex AS mp_hex,
      |  2*t.w + 2*t.h AS mp_area
      |FROM terr t JOIN ringhex r ON r.s_suppkey = t.s_suppkey""".stripMargin)
}
