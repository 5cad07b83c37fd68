package graft
package lanes

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.graph.{CalcForest, ConnectedComponents}
import OracleFragments.{ccReach, wordShingles3}

/** Graph lanes: connected components, calculation forests, PageRank,
  * triangles, clustering coefficients and community detection. */
object GraphLanes extends LaneFamily {

  // ---- §2.10 connected components (boiler-generator / subplant pattern) --
  // Bipartite customer-supplier graph on high-value orders; component = min
  // vertex id. Customers map to even ids, suppliers to odd.
  lane("q45_connected_components") { (s, dir) =>
    val edges = t(s, dir, "orders")
      .where(col("o_totalprice") > 465000 && col("o_custkey") < 300)
      .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    ConnectedComponents.run(edges, "src", "dst")
  }.oracle(
    s"""WITH RECURSIVE
      |e AS (
      |  SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |  WHERE o_totalprice > 465000 AND o_custkey < 300),
      |sym AS (SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e),
      |$ccReach
      |SELECT v, min(c) AS component FROM reach GROUP BY v""".stripMargin)

  // ---- §2.10 calculation forest: reconcile parent totals vs leaf sums ----
  // Reference: XbrlCalculationForestFerc1 + Exploder.boom
  // (src/pudl/output/ferc1.py:1814-2585,1212-1813). The
  // forest (region <- nation) is metadata-sized and driver-built; the facts
  // stay distributed.
  lane("q62_calc_forest") { (s, dir) =>
    val base = t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .withColumn("yr", year(col("l_shipdate")))
    def facts(node: Column) = base.groupBy(col("yr"), node.as("node"))
      .agg(round(sum(col("l_extendedprice")), 2).as("value"))
    val allFacts = facts(concat(lit("nation:"), col("n_name")))
      .unionByName(facts(concat(lit("region:"), col("r_name"))))
    val edges = t(s, dir, "nation")
      .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .select(concat(lit("region:"), col("r_name")).as("parent"),
        concat(lit("nation:"), col("n_name")).as("child"))
      .collect() // metadata-sized dimension (25 rows)
      .map(r => CalcForest.CalcEdge(r.getString(0), r.getString(1), 1.0)).toSeq
    CalcForest.reconcile(s, allFacts, edges, Seq("yr"), "node", "value",
        tolerance = 0.05)
      .withColumn("calculated", round(col("calculated"), 4))
      .withColumn("abs_diff", abs(col("reported") - col("calculated")))
      .withColumn("is_consistent", col("abs_diff") <= 0.05)
  }.oracle(
    """WITH base AS (
      |  SELECT CAST(year(l_shipdate) AS INTEGER) AS yr, n_name, r_name,
      |    l_extendedprice AS ext
      |  FROM lineitem
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey),
      |nat AS (SELECT yr, 'nation:' || n_name AS node, round(sum(ext), 2) AS value
      |        FROM base GROUP BY 1, 2),
      |reg AS (SELECT yr, 'region:' || r_name AS node, round(sum(ext), 2) AS value
      |        FROM base GROUP BY 1, 2),
      |facts AS (SELECT * FROM nat UNION ALL SELECT * FROM reg),
      |edges AS (
      |  SELECT DISTINCT 'region:' || r_name AS parent,
      |    'nation:' || n_name AS child, 1.0 AS weight
      |  FROM nation JOIN region ON n_regionkey = r_regionkey),
      |calc AS (
      |  SELECT f.yr, e.parent, round(sum(f.value * e.weight), 4) AS calculated
      |  FROM facts f JOIN edges e ON f.node = e.child GROUP BY 1, 2)
      |SELECT r.yr, r.node AS parent, r.value AS reported, c.calculated,
      |  abs(r.value - c.calculated) AS abs_diff,
      |  abs(r.value - c.calculated) <= 0.05 AS is_consistent
      |FROM facts r JOIN calc c ON r.yr = c.yr AND r.node = c.parent""".stripMargin)

  // ---- §2.10 connected components, star-contraction path -----------------
  // Same labeling contract as q45 but on a deliberately chain-shaped graph
  // (customers chained by consecutive key within (nation, key mod 25) —
  // hundreds of long paths), exercising ConnectedComponents.runStars: the
  // large-star/small-star alternation whose round count is O(log n)
  // regardless of diameter. The oracle replays reachability with a
  // recursive CTE.
  lane("q101_cc_stars") { (s, dir) =>
    val edges = t(s, dir, "customer")
      .select(col("c_nationkey").as("nk"), (col("c_custkey") % 25).as("lane"),
        col("c_custkey").as("a"))
      .withColumn("b", lead(col("a"), 1).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("nk"), col("lane")).orderBy(col("a"))))
      .where(col("b").isNotNull)
    ConnectedComponents.runStars(edges, "a", "b")
  }.oracle(
    s"""WITH RECURSIVE
      |e AS (
      |  SELECT a, b FROM (
      |    SELECT c_custkey AS a,
      |      lead(c_custkey) OVER (
      |        PARTITION BY c_nationkey, c_custkey % 25
      |        ORDER BY c_custkey) AS b
      |    FROM customer)
      |  WHERE b IS NOT NULL),
      |sym AS (SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e),
      |$ccReach
      |SELECT v, min(c) AS component FROM reach GROUP BY v""".stripMargin)

  // ---- graph: integer-quantized PageRank ---------------------------------
  // Customer–supplier bipartite graph from distinct (custkey, suppkey)
  // trade pairs, both directions; 3 exact-integer rank iterations, top-20.
  // Every update is integer DIV, so the full trace replays in SQL.
  // Suppliers live in the NEGATIVE id namespace (-suppkey): a sign
  // encoding cannot collide with positive custkeys at ANY scale factor,
  // unlike an additive offset that a large-enough key range overruns.
  lane("q148_pagerank") { (s, dir) =>
    val pairs = t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("cust"),
        (-col("l_suppkey")).cast("long").as("supp"))
      .distinct()
    // both edge directions via ONE generator over a single-reference
    // `pairs` (the explode-instead-of-union discipline):
    // the unionByName form re-planned the lineitem⋈orders join + distinct
    // once per direction
    val edges = pairs.select(explode(array(
        struct(col("cust").cast("long").as("src"), col("supp").as("dst")),
        struct(col("supp").as("src"), col("cust").cast("long").as("dst"))))
        .as("__e"))
      .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
    graft.graph.PageRank.run(edges, iters = 3)
      .orderBy(col("rank").desc, col("node").asc).limit(20)
      .withColumn("node_type",
        when(col("node") < 0L, lit("supplier")).otherwise(lit("customer")))
  }.oracle {
    // PageRank replay: 3 unrolled integer-DIV iterations over the
    // bipartite trade graph; 150000 = (1-d)*scale with d = 85/100.
    val it = (i: Int) => {
      val j = i - 1
      s"""c$i AS (
         |  SELECT e.dst AS node, sum(r.rank // e.deg) AS inc
         |  FROM e JOIN r$j r ON r.node = e.src GROUP BY 1),
         |r$i AS (
         |  SELECT n.node,
         |    150000 + (85 * coalesce(c.inc, 0)) // 100 AS rank
         |  FROM nodes n LEFT JOIN c$i c USING (node))""".stripMargin
    }
    ("""WITH pairs AS (
      |  SELECT DISTINCT o_custkey AS cust, -l_suppkey AS supp
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |e0 AS (
      |  SELECT cust AS src, supp AS dst FROM pairs
      |  UNION ALL SELECT supp, cust FROM pairs),
      |deg AS (SELECT src, count(*) AS deg FROM e0 GROUP BY 1),
      |e AS (SELECT e0.src, e0.dst, deg.deg FROM e0 JOIN deg USING (src)),
      |nodes AS (SELECT DISTINCT src AS node FROM e0
      |          UNION SELECT DISTINCT dst FROM e0),
      |r0 AS (SELECT node, 1000000 AS rank FROM nodes),
      |""".stripMargin
      + (1 to 3).map(it).mkString(",\n") + "\n"
      + """SELECT node, CAST(rank AS BIGINT) AS rank,
      |  CASE WHEN node < 0 THEN 'supplier' ELSE 'customer' END
      |    AS node_type
      |FROM r3 ORDER BY rank DESC, node ASC LIMIT 20""".stripMargin)
  }

  // ---- §2.10 triangle counting (degree-ordered, skew-proof) ---------------
  // Compact-forward exact triangle counts on a non-bipartite projection of
  // lineitem (part/supplier keys folded into one mod-997 id space, sparse
  // quantity slice). Orientation from the (deg, id)-smaller endpoint
  // bounds every out-degree by ~sqrt(2m) — wedge volume O(m^1.5) total, no
  // hub blowup — and the oracle replays degrees, orientation, wedges and
  // the closing probe exactly.
  lane("q208_triangles") { (s, dir) =>
    val edges = t(s, dir, "lineitem")
      .where(col("l_quantity") > 48)
      .select((col("l_partkey") % 997).as("src"),
        (col("l_suppkey") % 997).as("dst"))
    graft.graph.Triangles.countPerVertex(edges, "src", "dst")
  }.oracle(
    // q208/q210: the SAME degree-ordered algorithm replayed — normalize,
    // degrees, (deg, id) orientation, apex wedges, closing probe, corner
    // explode; q210 adds the integer-nano coefficient on top. Exact
    // integers end to end, one shared template.
    trianglesOracleSql(withCc = false))

  // ---- §2.10 local clustering coefficient (integer nanos) ----------------
  // Watts–Strogatz local density on q208's counts: cc_nano =
  // 2·T(v)·1e9 // (deg·(deg−1)), 0 below degree 2 — one integer division
  // per vertex, shared oracle template with q208.
  lane("q210_clustering_coeff") { (s, dir) =>
    val edges = t(s, dir, "lineitem")
      .where(col("l_quantity") > 48)
      .select((col("l_partkey") % 997).as("src"),
        (col("l_suppkey") % 997).as("dst"))
    graft.graph.Triangles.clusteringCoefficient(edges, "src", "dst")
  }.oracle(trianglesOracleSql(withCc = true))

  // ---- §2.10 community detection (synchronous label propagation) ---------
  // Deterministic LPA (Raghavan et al. 2007, sync variant, min-label tie
  // break) over the q208 edge fixture — 2 fixed rounds; the oracle unrolls
  // both rounds (neighbor-label counts, per-vertex argmax) exactly.
  lane("q209_label_prop") { (s, dir) =>
    val edges = t(s, dir, "lineitem")
      .where(col("l_quantity") > 48)
      .select((col("l_partkey") % 997).as("src"),
        (col("l_suppkey") % 997).as("dst"))
    graft.graph.Communities.labelPropagation(edges, "src", "dst", iters = 2)
  }.oracle(
    // q209: two synchronous LPA rounds unrolled — neighbor-label counts,
    // per-vertex argmax (count DESC, label ASC) each round.
    """WITH e0 AS (
      |  SELECT DISTINCT least(l_partkey % 997, l_suppkey % 997) AS a,
      |         greatest(l_partkey % 997, l_suppkey % 997) AS b
      |  FROM lineitem
      |  WHERE l_quantity > 48 AND l_partkey % 997 <> l_suppkey % 997),
      |sym AS (
      |  SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0),
      |l0 AS (SELECT DISTINCT a AS v, a AS lbl FROM sym),
      |n1 AS (
      |  SELECT s.a AS v, l.lbl, CAST(count(*) AS BIGINT) AS c
      |  FROM sym s JOIN l0 l ON l.v = s.b GROUP BY 1, 2),
      |l1 AS (
      |  SELECT v, lbl FROM (
      |    SELECT *, row_number() OVER (PARTITION BY v
      |      ORDER BY c DESC, lbl ASC) AS rn FROM n1) WHERE rn = 1),
      |n2 AS (
      |  SELECT s.a AS v, l.lbl, CAST(count(*) AS BIGINT) AS c
      |  FROM sym s JOIN l1 l ON l.v = s.b GROUP BY 1, 2),
      |l2 AS (
      |  SELECT v, lbl FROM (
      |    SELECT *, row_number() OVER (PARTITION BY v
      |      ORDER BY c DESC, lbl ASC) AS rn FROM n2) WHERE rn = 1)
      |SELECT v AS vertex, lbl AS community FROM l2""".stripMargin)

  // ---- graph family CONSUMER: dup-graph community/density report ---------
  // q208-q210's operators pointed at the edge set a capstone actually
  // builds: Etl.corpusDupEdges — the IDENTICAL 3-gram-Jaccard ≥ 1/4 pair
  // frame the corpus capstone's canonicalization stage clusters on (shared
  // helper, not a parallel re-declaration). Per dup-graph vertex: its LPA
  // community (2 sync rounds), degree, triangle count and integer-nano
  // clustering coefficient — the community/density signal a curation
  // pipeline reads off its near-dup graph (dense high-cc communities =
  // template farms; sparse low-cc chains = borderline near-dups). The
  // edge frame is persisted (lazily) because BOTH branches consume it —
  // pair volume ∝ true duplicates, bounded far below the corpus.
  lane("q211_dup_graph_report") { (s, dir) =>
    val edges = Etl.corpusDupEdges(t(s, dir, "documents")).persist()
    val density = graft.graph.Triangles
      .clusteringCoefficient(edges, "src", "dst")
    val comm = graft.graph.Communities
      .labelPropagation(edges, "src", "dst", iters = 2)
    density.join(comm, Seq("vertex"))
      .select(col("vertex"), col("community"), col("degree"),
        col("n_triangles"), col("cc_nano"))
  }.oracle(
    // q211: the triangle/cc + 2-round LPA templates composed over the
    // corpus capstone's jaccard edge replay (q69's pair CTEs)
    dupGraphReportOracleSql)

  /** Triangle-count oracle shared by q208 (counts) and q210 (+ the
    * integer-nano local clustering coefficient): degrees, (deg, id)
    * orientation, apex wedges, closing probe — one template, the cc
    * wrapper the only difference. */
  /** The q208/q209/q210 lineitem graph as an `e0(a, b)` CTE (normalized
    * undirected distinct edges, a < b). */
  private def lineitemGraphE0: String =
    """e0 AS (
      |  SELECT DISTINCT least(l_partkey % 997, l_suppkey % 997) AS a,
      |         greatest(l_partkey % 997, l_suppkey % 997) AS b
      |  FROM lineitem
      |  WHERE l_quantity > 48 AND l_partkey % 997 <> l_suppkey % 997)""".stripMargin

  /** The corpus capstone's near-dup edge set ([[Etl.corpusDupEdges]]: the
    * q69 3-gram Jaccard ≥ 1/4 replay) as the same `e0(a, b)` shape —
    * id_a < id_b by construction, distinct by the pair grouping. */
  private def dupGraphE0: String =
    s"""$wordShingles3,
      |counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      |prs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |e0 AS (
      |  SELECT id_a AS a, id_b AS b FROM prs
      |  JOIN counts ca ON ca.doc_id = id_a
      |  JOIN counts cb ON cb.doc_id = id_b
      |  WHERE common * 4 >= 1 * (ca.n_sh + cb.n_sh - common))""".stripMargin

  /** Degree-ordered triangle CTE chain over a caller-supplied `e0(a, b)`
    * edge CTE — deg/orientation/wedges/closing-probe/`base(vertex,
    * degree, n_triangles)`, shared by q208/q210 (lineitem graph) and the
    * q211 dup-graph report. The returned string ends inside the WITH
    * list, ready for more CTEs or a final SELECT. */
  private def triangleBaseCtes(e0Cte: String): String =
    s"WITH $e0Cte,\n" + """deg AS (
      |  SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (
      |    SELECT a AS v FROM e0 UNION ALL SELECT b AS v FROM e0)
      |  GROUP BY v),
      |o AS (
      |  SELECT
      |    CASE WHEN ga.deg < gb.deg OR (ga.deg = gb.deg AND e0.a < e0.b)
      |         THEN e0.a ELSE e0.b END AS u,
      |    CASE WHEN ga.deg < gb.deg OR (ga.deg = gb.deg AND e0.a < e0.b)
      |         THEN e0.b ELSE e0.a END AS w,
      |    CASE WHEN ga.deg < gb.deg OR (ga.deg = gb.deg AND e0.a < e0.b)
      |         THEN gb.deg ELSE ga.deg END AS dw
      |  FROM e0
      |  JOIN deg ga ON ga.v = e0.a
      |  JOIN deg gb ON gb.v = e0.b),
      |tri AS (
      |  SELECT o1.u AS x, o1.w AS y, o2.w AS z
      |  FROM o o1 JOIN o o2 ON o1.u = o2.u
      |    AND (o1.dw < o2.dw OR (o1.dw = o2.dw AND o1.w < o2.w))
      |  JOIN o o3 ON o3.u = o1.w AND o3.w = o2.w),
      |crn AS (
      |  SELECT v, CAST(count(*) AS BIGINT) AS t FROM (
      |    SELECT x AS v FROM tri UNION ALL
      |    SELECT y AS v FROM tri UNION ALL
      |    SELECT z AS v FROM tri)
      |  GROUP BY v),
      |base AS (
      |  SELECT deg.v AS vertex, deg.deg AS degree,
      |    coalesce(crn.t, CAST(0 AS BIGINT)) AS n_triangles
      |  FROM deg LEFT JOIN crn ON crn.v = deg.v)
      |""".stripMargin

  private def trianglesOracleSql(withCc: Boolean): String = {
    val tail =
      if (!withCc) "SELECT vertex, degree, n_triangles FROM base"
      else
        // widened numerator, same as the engine's decimal(38,0): 2·T·1e9
        // wraps int64 past T ~ 4.6e9, and the two engines disagree on
        // overflow (Spark wraps silently, DuckDB errors). HUGEINT, not
        // DECIMAL, on the DuckDB side: DuckDB's DECIMAL `//` ROUNDS the
        // decimal quotient before flooring (10526315.79 → 16), while
        // int128 `//` is exact floor division — matching Spark's exact
        // integral `div` on the decimal
        """SELECT vertex, degree, n_triangles,
          |  CASE WHEN degree >= 2
          |       THEN CAST(CAST(2 AS HUGEINT) * n_triangles
          |            * 1000000000 // (degree * (degree - 1)) AS BIGINT)
          |       ELSE CAST(0 AS BIGINT) END AS cc_nano
          |FROM base""".stripMargin
    triangleBaseCtes(lineitemGraphE0) + tail
  }

  /** q211 oracle: the triangle/cc template + the q209 two-round LPA
    * unroll, BOTH over the corpus capstone's jaccard edge set
    * ([[dupGraphE0]] — the q69 pair replay), joined per vertex. */
  private def dupGraphReportOracleSql: String =
    triangleBaseCtes(dupGraphE0) +
      """,sym AS (SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0),
        |l0 AS (SELECT DISTINCT a AS v, a AS lbl FROM sym),
        |n1 AS (
        |  SELECT s.a AS v, l.lbl, CAST(count(*) AS BIGINT) AS c
        |  FROM sym s JOIN l0 l ON l.v = s.b GROUP BY 1, 2),
        |l1 AS (
        |  SELECT v, lbl FROM (
        |    SELECT *, row_number() OVER (PARTITION BY v
        |      ORDER BY c DESC, lbl ASC) AS rn FROM n1) WHERE rn = 1),
        |n2 AS (
        |  SELECT s.a AS v, l.lbl, CAST(count(*) AS BIGINT) AS c
        |  FROM sym s JOIN l1 l ON l.v = s.b GROUP BY 1, 2),
        |l2 AS (
        |  SELECT v, lbl FROM (
        |    SELECT *, row_number() OVER (PARTITION BY v
        |      ORDER BY c DESC, lbl ASC) AS rn FROM n2) WHERE rn = 1)
        |SELECT b.vertex, l2.lbl AS community, b.degree, b.n_triangles,
        |  CASE WHEN b.degree >= 2
        |       THEN CAST(CAST(2 AS HUGEINT) * b.n_triangles
        |            * 1000000000 // (b.degree * (b.degree - 1)) AS BIGINT)
        |       ELSE CAST(0 AS BIGINT) END AS cc_nano
        |FROM base b JOIN l2 ON l2.v = b.vertex""".stripMargin
}
