package graft
package lanes

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.NearDup
import graft.similarity.Similarity
import graft.graph.ConnectedComponents
import graft.linkage.Linkage
import OracleFragments.{ccReach, embeddingNorms, planeProjections, planeSigns}

/** Record-linkage lanes: fuzzy and blocked joins, trained and
  * Fellegi-Sunter match scoring, phonetic and rule-union blocking, and
  * clustering of matched pairs. Reference paths are into the PUDL source
  * tree. */
object LinkageLanes extends LaneFamily {

  // ---- §2.11 TF-IDF top term per document --------------------------------
  lane("q46_tfidf_top_term") { (s, dir) =>
    Linkage.tfidfTopTerm(t(s, dir, "documents"), "doc_id", "text")
  }.oracle(
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
      |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT count(*) AS n_docs FROM documents)
      |SELECT doc_id, term AS top_term, tf, df,
      |  round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
      |FROM (
      |  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df, n.n_docs,
      |    row_number() OVER (PARTITION BY tf.doc_id
      |      ORDER BY tf.tf DESC, dfreq.df ASC, tf.term ASC) AS rk
      |  FROM tf JOIN dfreq USING (term) CROSS JOIN n)
      |WHERE rk = 1""".stripMargin)

  // ---- §2.11 blocked fuzzy join (nation block + levenshtein) -------------
  lane("q47_blocked_fuzzy_join") { (s, dir) =>
    val c = t(s, dir, "customer")
      .select(col("c_nationkey").as("nkey"), col("c_custkey"),
        expr("right(regexp_replace(c_name, '[^0-9]', ''), 4)").as("c_last4"))
    val sup = t(s, dir, "supplier")
      .select(col("s_nationkey").as("nkey"), col("s_suppkey"),
        expr("right(regexp_replace(s_name, '[^0-9]', ''), 4)").as("s_last4"))
    Linkage.blockedFuzzyJoin(c, sup, Seq("nkey"), "c_last4", "s_last4", maxDist = 1)
      .select("nkey", "c_custkey", "s_suppkey", "c_last4", "s_last4", "name_dist")
  }.oracle(
    """SELECT c_nationkey AS nkey, c_custkey, s_suppkey,
      |  right(regexp_replace(c_name, '[^0-9]', '', 'g'), 4) AS c_last4,
      |  right(regexp_replace(s_name, '[^0-9]', '', 'g'), 4) AS s_last4,
      |  levenshtein(right(regexp_replace(c_name, '[^0-9]', '', 'g'), 4),
      |              right(regexp_replace(s_name, '[^0-9]', '', 'g'), 4)) AS name_dist
      |FROM customer JOIN supplier ON c_nationkey = s_nationkey
      |WHERE levenshtein(right(regexp_replace(c_name, '[^0-9]', '', 'g'), 4),
      |                  right(regexp_replace(s_name, '[^0-9]', '', 'g'), 4)) <= 1""".stripMargin)

  // ---- §2.11 logistic pair scoring + top-1 match per record --------------
  lane("q48_logistic_match") { (s, dir) =>
    val c = t(s, dir, "customer")
      .select(col("c_nationkey").as("nkey"), col("c_custkey"), col("c_acctbal"),
        expr("right(regexp_replace(c_name, '[^0-9]', ''), 4)").as("c_last4"))
    val sup = t(s, dir, "supplier")
      .select(col("s_nationkey").as("nkey"), col("s_suppkey"), col("s_acctbal"),
        expr("right(regexp_replace(s_name, '[^0-9]', ''), 4)").as("s_last4"))
    val cand = Linkage.blockedFuzzyJoin(c, sup, Seq("nkey"), "c_last4", "s_last4",
        maxDist = 2)
      .withColumn("bal_diff", abs(col("c_acctbal") - col("s_acctbal")) / 10000.0)
    val scored = cand.withColumn("score",
      round(Linkage.logisticScore(Seq(
        (lit(2) - col("name_dist")).cast("double") -> 1.2,
        col("bal_diff") -> -0.5), bias = -1.0), 6))
    scored
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("c_custkey"))
          .orderBy(col("score").desc, col("s_suppkey").asc)))
      .where(col("rk") === 1)
      .select("c_custkey", "s_suppkey", "name_dist", "score")
  }.oracle(
    """WITH cand AS (
      |  SELECT c_custkey, s_suppkey,
      |    levenshtein(right(regexp_replace(c_name, '[^0-9]', '', 'g'), 4),
      |                right(regexp_replace(s_name, '[^0-9]', '', 'g'), 4)) AS name_dist,
      |    abs(c_acctbal - s_acctbal) / 10000.0 AS bal_diff
      |  FROM customer JOIN supplier ON c_nationkey = s_nationkey),
      |scored AS (
      |  SELECT c_custkey, s_suppkey, name_dist,
      |    round(1.0 / (1.0 + exp(-(CAST(2 - name_dist AS DOUBLE) * 1.2
      |      + bal_diff * -0.5 + -1.0))), 6) AS score
      |  FROM cand WHERE name_dist <= 2)
      |SELECT c_custkey, s_suppkey, name_dist, score FROM (
      |  SELECT *, row_number() OVER (PARTITION BY c_custkey
      |    ORDER BY score DESC, s_suppkey ASC) AS rk
      |  FROM scored)
      |WHERE rk = 1""".stripMargin)

  // ---- §2.11 DBSCAN-approximation: eps-graph + connected components ------
  // Reference: cluster_records_dbscan → eps-neighbor graph + CC
  // (src/pudl/analysis/record_linkage/link_cross_year.py:129-177);
  // min_samples≈1 deviation documented in SURVEY §7. Brute-force pairs here;
  // the LSH bucket join (Similarity.lshTopK) is the at-scale candidate path.
  lane("q58_dbscan_clusters") { (s, dir) =>
    val emb = t(s, dir, "embeddings")
    // broadcast-corpus primitive kernel (see q66) — same edges as the
    // declarative crossJoin form, none of its per-pair row materialization
    val edges = Similarity.bruteForceEpsPairs(emb, "vec_id", "embedding", 0.35)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    val cc = ConnectedComponents.run(edges, "src", "dst")
    emb.select(col("vec_id").as("v"))
      .join(cc, Seq("v"), "left")
      .withColumn("cluster", coalesce(col("component"), col("v")))
      // exact sklearn DBSCAN(min_samples=2) parity: with min_samples=2
      // every point with a neighbor is core, so clusters ARE the eps-graph
      // components and isolated points are noise → label −1
      // (cluster_records_dbscan, link_cross_year.py:150)
      .withColumn("dbscan_label", coalesce(col("component"), lit(-1L)))
      .select("v", "cluster", "dbscan_label")
  }.oracle(
    s"""WITH RECURSIVE
      |e AS (SELECT vec_id, embedding FROM embeddings),
      |p AS (
      |  SELECT a.vec_id AS ia, b.vec_id AS ib,
      |    round(
      |      list_sum(list_transform(list_zip(a.embedding, b.embedding),
      |        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
      |      / (sqrt(list_sum(list_transform(a.embedding,
      |            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |       * sqrt(list_sum(list_transform(b.embedding,
      |            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS cos
      |  FROM e a JOIN e b ON a.vec_id < b.vec_id),
      |ed AS (SELECT ia AS src, ib AS dst FROM p WHERE cos >= 0.35),
      |sym AS (SELECT src AS a, dst AS b FROM ed
      |        UNION SELECT dst AS a, src AS b FROM ed),
      |$ccReach,
      |cc AS (SELECT v, min(c) AS component FROM reach GROUP BY v)
      |SELECT e.vec_id AS v, coalesce(cc.component, e.vec_id) AS cluster,
      |  coalesce(cc.component, -1) AS dbscan_label
      |FROM e LEFT JOIN cc ON e.vec_id = cc.v""".stripMargin)

  // ---- §2.11 full cross-year linkage orchestration -----------------------
  // Reference: link_ids_cross_year graph (link_cross_year.py:299-360) —
  // edges with same-year veto → connected components → duplicate-year
  // split → orphan nearest-neighbor assignment, as ONE composition. Years
  // are synthesized deterministically from vec_id; the portable Rademacher
  // planes let the oracle replay every stage including the LSH blocking.
  lane("q97_link_cross_year") { (s, dir) =>
    graft.linkage.Linkage.linkIdsCrossYear(
      t(s, dir, "embeddings")
        .withColumn("year", (col("vec_id") % 4 + 2019).cast("int")),
      "vec_id", "year", "embedding",
      dim = 64, simThreshold = 0.4, assignThreshold = 0.3,
      // exact orphan nearest-neighbor so the DuckDB oracle replays stage 4
      // verbatim; the production default (blockOrphans = true) is the
      // LSH-blocked path, oracle-checked on its own via q99
      blockOrphans = false)
  }.oracle(
    // Full §2.11 linkage pipeline replayed end-to-end: portable-plane LSH
    // edges (as q95) + same-year veto → recursive-CTE connected components
    // (as q45) → first-fit split as a window (row_number per (component,
    // year) − 1, see NearDup.splitClusters) → brute-force orphan top-1.
    s"""WITH RECURSIVE ${planeSigns("i", 24)},
      |yr AS (
      |  SELECT vec_id, CAST(vec_id % 4 + 2019 AS INTEGER) AS year
      |  FROM embeddings),
      |$planeProjections,
      |bits AS (
      |  SELECT vec_id, i // 6 AS band,
      |    sum(CASE WHEN p > 0 THEN (1::BIGINT << (i % 6)) ELSE 0::BIGINT END) AS bits
      |  FROM proj GROUP BY 1, 2),
      |cand AS (
      |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      |  FROM bits a JOIN bits b
      |    ON a.band = b.band AND a.bits = b.bits AND a.vec_id < b.vec_id),
      |$embeddingNorms,
      |edges AS (
      |  SELECT id_a, id_b FROM (
      |    SELECT id_a, id_b,
      |      list_sum(list_transform(list_zip(a.embedding, b.embedding),
      |        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / (a.n * b.n) AS c
      |    FROM cand
      |    JOIN norms a ON a.vec_id = id_a
      |    JOIN norms b ON b.vec_id = id_b)
      |  WHERE c >= 0.4),
      |vetoed AS (
      |  SELECT e.id_a, e.id_b FROM edges e
      |  JOIN yr ya ON ya.vec_id = e.id_a
      |  JOIN yr yb ON yb.vec_id = e.id_b
      |  WHERE ya.year != yb.year),
      |sym AS (SELECT id_a AS a, id_b AS b FROM vetoed
      |        UNION SELECT id_b, id_a FROM vetoed),
      |$ccReach,
      |cc AS (SELECT v, min(c) AS component FROM reach GROUP BY v),
      |split AS (
      |  SELECT y.vec_id, cc.component,
      |    row_number() OVER (PARTITION BY cc.component, y.year
      |                       ORDER BY y.vec_id) - 1 AS sub
      |  FROM cc JOIN yr y ON y.vec_id = cc.v),
      |labeled AS (
      |  SELECT vec_id,
      |    min(vec_id) OVER (PARTITION BY component, sub) AS record_label
      |  FROM split),
      |orphans AS (
      |  SELECT vec_id FROM yr WHERE vec_id NOT IN (SELECT v FROM cc)),
      |assign_scored AS (
      |  SELECT o.vec_id AS orphan_id, l.vec_id AS neighbor_id,
      |    l.record_label,
      |    round(list_sum(list_transform(list_zip(na.embedding, nb.embedding),
      |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / (na.n * nb.n), 4)
      |      AS cos4
      |  FROM orphans o
      |  CROSS JOIN labeled l
      |  JOIN norms na ON na.vec_id = o.vec_id
      |  JOIN norms nb ON nb.vec_id = l.vec_id),
      |assigned AS (
      |  SELECT orphan_id AS vec_id, record_label FROM (
      |    SELECT orphan_id, record_label, cos4,
      |      row_number() OVER (PARTITION BY orphan_id
      |        ORDER BY cos4 DESC, neighbor_id ASC) AS rk
      |    FROM assign_scored)
      |  WHERE rk = 1 AND cos4 >= 0.3),
      |singles AS (
      |  SELECT vec_id, vec_id AS record_label FROM orphans
      |  WHERE vec_id NOT IN (SELECT vec_id FROM assigned))
      |SELECT y.vec_id, y.year, u.record_label
      |FROM yr y JOIN (SELECT vec_id, record_label FROM labeled
      |                UNION ALL SELECT vec_id, record_label FROM assigned
      |                UNION ALL SELECT vec_id, record_label FROM singles) u
      |  ON u.vec_id = y.vec_id""".stripMargin)

  // ---- §2.11 blocked fuzzy join under Jaro–Winkler ------------------------
  // The reference's actual record-linkage string metric (recordlinkage's
  // jarowinkler, embed_dataframe.py:346-371); q47 is the levenshtein twin.
  // The native JaroWinkler expression matches DuckDB's
  // jaro_winkler_similarity bit-for-bit, so the filter and the rounded
  // similarity replay exactly.
  lane("q98_jaro_winkler") { (s, dir) =>
    val c = t(s, dir, "customer")
      .select(col("c_nationkey").as("nkey"), col("c_custkey"), col("c_name"))
    val sup = t(s, dir, "supplier")
      .select(col("s_nationkey").as("nkey"), col("s_suppkey"), col("s_name"))
    Linkage.blockedFuzzyJoinJw(c, sup, Seq("nkey"), "c_name", "s_name",
        minSim = 0.77)
      .select(col("nkey"), col("c_custkey"), col("s_suppkey"),
        round(col("name_sim"), 6).as("name_sim"))
  }.oracle(
    // The native JaroWinkler expression replicates DuckDB's
    // jaro_winkler_similarity (RapidFuzz semantics: boost threshold 0.7,
    // prefix cap 4, summed m/len1 + m/len2 + (m-t)/m then one /3) with the
    // same double association order — filter and rounded value replay
    // bit-for-bit.
    """SELECT c_nationkey AS nkey, c_custkey, s_suppkey,
      |  round(jaro_winkler_similarity(c_name, s_name), 6) AS name_sim
      |FROM customer JOIN supplier ON c_nationkey = s_nationkey
      |WHERE jaro_winkler_similarity(c_name, s_name) >= 0.77""".stripMargin)

  // ---- §2.11 reference-parity cluster re-split (average linkage) ---------
  // splitClustersAgglomerative is the sklearn-semantics form of
  // split_clusters (link_cross_year.py:170-240): overmerged clusters
  // re-cluster by AVERAGE-linkage agglomeration over cosine distance.
  // Fixture: 3-member clusters (vec_id DIV 3) whose year key always
  // duplicates (m0/m2 share parity), so every full cluster agglomerates;
  // the merge ORDER for n=3 has a closed form the oracle replays with CASE
  // logic over the three pairwise distances — including the deterministic
  // first-pair tie rule and the mean-linkage second merge. Where greedy
  // first-fit would force same-year members apart, average linkage may
  // keep them together (sub [0,0,0]) — the documented disagreement, now
  // oracle-graded on the parity path.
  lane("q119_agglomerative_split") { (s, dir) =>
    graft.dedup.NearDup.splitClustersAgglomerative(
      t(s, dir, "embeddings").select(col("vec_id"),
        expr("vec_id DIV 3").as("cluster"),
        (col("vec_id") % 2 + 2019).cast("int").as("year"),
        col("embedding")),
      "cluster", "vec_id", "year", "embedding", distanceThreshold = 1.0)
  }.oracle(
    // Average-linkage agglomerative replay for 3-member clusters: the merge
    // order is closed-form — first merge = first pair (in (0,1),(0,2),(1,2)
    // scan order) attaining the strict minimum below the threshold; second
    // merge iff the MEAN distance from the merged pair to the remaining
    // member is below it; final labels numbered by each cluster's minimum
    // member index. Distances replay the engine's double accumulation over
    // the float embeddings (q95 pattern). Sub-3 tail clusters have no
    // duplicate year key and pass through as sub 0.
    """WITH m AS (
      |  SELECT vec_id, vec_id // 3 AS cluster, vec_id % 3 AS idx, embedding
      |  FROM embeddings),
      |pd AS (
      |  SELECT a.cluster, a.idx AS i, b.idx AS j,
      |    1 - list_sum(list_transform(list_zip(a.embedding, b.embedding),
      |          x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
      |      / (sqrt(list_sum(list_transform(a.embedding,
      |            e -> CAST(e AS DOUBLE) * CAST(e AS DOUBLE))))
      |        * sqrt(list_sum(list_transform(b.embedding,
      |            e -> CAST(e AS DOUBLE) * CAST(e AS DOUBLE))))) AS d
      |  FROM m a JOIN m b ON a.cluster = b.cluster AND a.idx < b.idx),
      |w AS (
      |  SELECT cluster,
      |    max(CASE WHEN i = 0 AND j = 1 THEN d END) AS d01,
      |    max(CASE WHEN i = 0 AND j = 2 THEN d END) AS d02,
      |    max(CASE WHEN i = 1 AND j = 2 THEN d END) AS d12
      |  FROM pd GROUP BY cluster),
      |lab AS (
      |  SELECT cluster,
      |    CASE
      |      WHEN d12 IS NULL OR d02 IS NULL THEN NULL
      |      WHEN least(d01, d02, d12) >= 1.0 THEN [0, 1, 2]
      |      WHEN d01 <= d02 AND d01 <= d12 THEN
      |        CASE WHEN (d02 + d12) / 2 < 1.0 THEN [0,0,0] ELSE [0,0,1] END
      |      WHEN d02 <= d12 THEN
      |        CASE WHEN (d01 + d12) / 2 < 1.0 THEN [0,0,0] ELSE [0,1,0] END
      |      ELSE
      |        CASE WHEN (d01 + d02) / 2 < 1.0 THEN [0,0,0] ELSE [0,1,1] END
      |    END AS labs
      |  FROM w)
      |SELECT m.vec_id, m.cluster,
      |  coalesce(l.labs[CAST(m.idx + 1 AS INT)], 0) AS sub_cluster
      |FROM m LEFT JOIN lab l ON l.cluster = m.cluster""".stripMargin)

  // ---- §2.11 record linkage: TRAINED pair-match model, end-to-end --------
  // The reference's train→score loop (eia_ferc1_record_linkage.py:137-393)
  // exercised in-engine: label the blocked candidate pairs with a
  // deterministic noisy rule, TRAIN the logistic pair-matcher (MLlib
  // LBFGS, unregularized, tight tol), collect the coefficients, and score
  // ALL candidates with logisticScore over the trained weights as
  // plan-time literals; top-1 per customer. Oracle-replayable because the
  // design is saturated (one binary feature + bias): the unregularized
  // MLE reproduces the empirical cell rates exactly —
  // sigmoid(w·x + b) = p̂(y=1 | x) — so the SQL recovers the SAME trained
  // scores from the cell rates without running LBFGS. The spec
  // (LinkageTrainSpec) pins the trained weights to the closed-form
  // log-odds within 1e-6.
  lane("q158_trained_match") { (s, dir) =>
    val c = t(s, dir, "customer")
      .select(col("c_nationkey").as("nkey"), col("c_custkey"),
        expr("right(regexp_replace(c_name, '[^0-9]', ''), 4)").as("c_last4"))
    val sup = t(s, dir, "supplier")
      .select(col("s_nationkey").as("nkey"), col("s_suppkey"),
        expr("right(regexp_replace(s_name, '[^0-9]', ''), 4)").as("s_last4"))
    val cand = Linkage.blockedFuzzyJoin(c, sup, Seq("nkey"), "c_last4",
        "s_last4", maxDist = 2)
      .withColumn("is_close", (col("name_dist") <= 1).cast("double"))
      // deterministic noisy labels keeping both cells strictly inside
      // (0,1): close pairs match ~3/4 of the time, far pairs ~1/4
      .withColumn("label",
        when(col("is_close") === 1.0,
            ((col("c_custkey") + col("s_suppkey")) % 4 < 3))
          .otherwise((col("c_custkey") + col("s_suppkey")) % 4 === 0)
          .cast("double"))
      // one materialization feeds the degeneracy guard, the training
      // projection AND the final scoring pass
      .localCheckpoint()
    // Degeneracy guard: the trained/closed-form log-odds need both label
    // cells strictly inside (0,1). At tiny scale factors a cell can
    // saturate (sf0.001's close cell holds 5 pairs all labeled 1 — see
    // LinkageTrainSpec), which diverges LBFGS and has no finite closed
    // form; fall back to Laplace-smoothed empirical log-odds there
    // (round-11 advice). Graded fixtures (sf0.01/sf0.1) stay on the
    // trained path, which the oracle replays from the raw cell rates.
    val cells = cand.groupBy(col("is_close"))
      .agg(avg(col("label")).as("__p"), count(lit(1)).as("__n"))
      .collect().map(r => r.getDouble(0) -> (r.getDouble(1), r.getLong(2)))
      .toMap
    def logit(p: Double) = math.log(p / (1.0 - p))
    val degenerate = cells.size < 2 ||
      cells.values.exists { case (p, _) => p <= 0.0 || p >= 1.0 }
    val (w, b) =
      if (!degenerate) {
        val (ws, b0) = Linkage.trainPairMatcher(cand, Seq("is_close"), "label")
        (ws.head, b0)
      } else {
        def smoothed(c: (Double, Long)) = (c._1 * c._2 + 0.5) / (c._2 + 1.0)
        val p0 = smoothed(cells.getOrElse(0.0, (0.5, 0L)))
        val p1 = smoothed(cells.getOrElse(1.0, (0.5, 0L)))
        (logit(p1) - logit(p0), logit(p0))
      }
    cand
      .withColumn("score",
        Linkage.logisticScore(Seq(col("is_close") -> w), b))
      .withColumn("score_micro", round(col("score") * 1e6).cast("long"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("c_custkey"))
          .orderBy(col("score").desc, col("s_suppkey").asc)))
      .where(col("rk") === 1)
      .select("c_custkey", "s_suppkey", "name_dist", "score_micro")
  }.oracle(
    // Trained pair-matcher replay: the unregularized logistic MLE on a
    // saturated one-binary-feature design fits the empirical cell rates
    // exactly (sigmoid(w·x+b) = p̂(y|x)), so the trained scores are
    // recoverable from the label rates without re-running LBFGS.
    """WITH cand AS (
      |  SELECT c_custkey, s_suppkey,
      |    levenshtein(right(regexp_replace(c_name, '[^0-9]', '', 'g'), 4),
      |                right(regexp_replace(s_name, '[^0-9]', '', 'g'), 4))
      |      AS name_dist
      |  FROM customer JOIN supplier ON c_nationkey = s_nationkey),
      |feat AS (
      |  SELECT *, CASE WHEN name_dist <= 1 THEN 1 ELSE 0 END AS x,
      |    CASE WHEN name_dist <= 1
      |      THEN CASE WHEN (c_custkey + s_suppkey) % 4 < 3 THEN 1.0 ELSE 0.0 END
      |      ELSE CASE WHEN (c_custkey + s_suppkey) % 4 = 0 THEN 1.0 ELSE 0.0 END
      |    END AS y
      |  FROM cand WHERE name_dist <= 2),
      |cells AS (
      |  SELECT avg(CASE WHEN x = 0 THEN y END) AS p0,
      |         avg(CASE WHEN x = 1 THEN y END) AS p1 FROM feat),
      |scored AS (
      |  SELECT f.c_custkey, f.s_suppkey, f.name_dist,
      |    CASE WHEN f.x = 1 THEN c.p1 ELSE c.p0 END AS score
      |  FROM feat f, cells c)
      |SELECT c_custkey, s_suppkey, name_dist,
      |  CAST(round(score * 1e6) AS BIGINT) AS score_micro FROM (
      |  SELECT *, row_number() OVER (PARTITION BY c_custkey
      |    ORDER BY score DESC, s_suppkey ASC) AS rk
      |  FROM scored)
      |WHERE rk = 1""".stripMargin)

  // ---- record linkage: company-name canonicalization ----------------------
  // The reference's CompanyNameCleaner rule pipeline (name_cleaner.py +
  // us_legal_forms.json) over deterministic company-style names built from
  // the supplier keys: default rules + legal-term NORMALIZE (the linkage
  // canon) and the no-rules legal-term REMOVE screen (SEC subsidiary
  // filter) side by side. Pure per-row regexp chain — zero shuffle; the
  // oracle interpolates the SAME rule constants via CompanyNames.sqlChain.
  private val q163Stems = Seq(
    "Acme Power & Light", "Basin-Creek Energy (Holdings)", "delta_utilities",
    "Gulf  States Util 2000", "PECO ENERGY", "The Duke Energy",
    "Green Mtn. Power", "Niagara-Mohawk [Power]", "The Tampa Electric",
    "Midwest Gen EME,", "Big Rivers * Electric", "Consolidated   Edison")

  private val q163Suffixes = Seq(
    "llc", "Inc", "CORP.", "pub lc", "co", "ltd", "assn")

  lane("q163_company_clean") { (s, dir) =>
    import graft.functions.CompanyNames
    val raw = concat(
      element_at(array(q163Stems.map(lit): _*),
        (pmod(col("s_suppkey"), lit(q163Stems.size)) + 1).cast("int")),
      lit(" "),
      element_at(array(q163Suffixes.map(lit): _*),
        (pmod(col("s_suppkey"), lit(q163Suffixes.size)) + 1).cast("int")))
    t(s, dir, "supplier")
      .select(col("s_suppkey"), raw.as("raw_name"),
        CompanyNames.clean(raw).as("canon_name"),
        CompanyNames.clean(raw, rules = Nil,
          legalTerms = CompanyNames.Remove).as("bare_name"))
      .orderBy("s_suppkey")
  }.oracle {
    // Company-name cleaner replay: the SAME rule constants rendered as a
    // nested regexp_replace chain (CompanyNames.sqlChain) over the same
    // deterministically constructed names.
    import graft.functions.CompanyNames
    val stems = q163Stems.map(s => "'" + s + "'").mkString(", ")
    val sufs = q163Suffixes.map(s => "'" + s + "'").mkString(", ")
    s"""WITH raw AS (
      |  SELECT s_suppkey,
      |    ([$stems])[CAST(s_suppkey % ${q163Stems.size} AS INT) + 1]
      |      || ' ' ||
      |    ([$sufs])[CAST(s_suppkey % ${q163Suffixes.size} AS INT) + 1]
      |      AS raw_name
      |  FROM supplier)
      |SELECT s_suppkey, raw_name,
      |  ${CompanyNames.sqlChain("raw_name")} AS canon_name,
      |  ${CompanyNames.sqlChain("raw_name", rules = Nil,
               legalTerms = CompanyNames.Remove)} AS bare_name
      |FROM raw ORDER BY s_suppkey""".stripMargin
  }

  // ---- record linkage: phonetic-prefix blocked fuzzy match ----------------
  // The reference's splink blocking shape (eia_ferc1_model_config.py
  // blocking_rule_1: report_year equality + substr(name_mphone, 1, 3)):
  // candidates meet on (nation, soundex-prefix-3) — an equi-join, never a
  // cross product — then score Jaro-Winkler and keep top-1 per customer.
  // Engine side is the codegen'd built-in soundex; the oracle recomputes
  // the code char-by-char (Phonetics.soundexSql — DuckDB has no phonetic
  // function). Spelling-variant name pairs share blocks; two deliberate
  // misses (first-letter change, W-skip flip) prove blocking selectivity.
  private val q165CustNames = Seq(
    "Acme Power", "Basin Creek", "Delta Utilities", "Gulf States",
    "Peco Energy", "Duke Energy", "Green Mountain", "Niagara Mohawk",
    "Tampa Electric", "Consolidated Edison", "Pacific Gas",
    "Midwest Generation")

  private val q165SuppNames = Seq(
    "Akme Power", "Bassin Creak", "Deltta Utilitys", "Golf States",
    "Pecco Energy", "Dook Energy", "Greene Mountain", "Nyagara Mohock",
    "Tempa Electrik", "Konsolidated Edison", "Pasific Gas",
    "Midvest Generation")

  /** `wrd`/`wcode`/`mcode`: each name in `nm(name)` split into words, one
    * Metaphone code per word, and the codes joined in word order as
    * `mcode(name, mph)`. */
  private def nameMetaphones: String =
    s"""wrd AS (
      |  SELECT name, g.wi,
      |    lower(string_split_regex(name, '[^A-Za-z]+')[wi]) AS w
      |  FROM nm, unnest(generate_series(1,
      |    len(string_split_regex(name, '[^A-Za-z]+')))) AS g(wi)),
      |wcode AS (
      |  SELECT name, wi, ${graft.functions.Phonetics.metaphoneWordSql("w")} AS code
      |  FROM wrd WHERE w <> ''),
      |mcode AS (SELECT name, string_agg(code, ' ' ORDER BY wi) AS mph
      |  FROM wcode GROUP BY name)""".stripMargin

  lane("q165_phonetic_block") { (s, dir) =>
    def named(df: DataFrame, key: String, nkey: String, names: Seq[String],
              keyOut: String, nameOut: String) =
      df.select(col(key).as(keyOut), col(nkey).as("nkey"),
          element_at(array(names.map(lit): _*),
            (pmod(col(key), lit(names.size)) + 1).cast("int")).as(nameOut))
        .withColumn(s"${nameOut}_sx3",
          substring(soundex(col(nameOut)), 1, 3))
    val c = named(t(s, dir, "customer"), "c_custkey", "c_nationkey",
      q165CustNames, "c_custkey", "c_name2")
    val sup = named(t(s, dir, "supplier"), "s_suppkey", "s_nationkey",
      q165SuppNames, "s_suppkey", "s_name2")
    c.join(sup, col("c_name2_sx3") === col("s_name2_sx3") &&
        c("nkey") === sup("nkey"))
      .withColumn("name_sim",
        graft.plans.JaroWinkler(col("c_name2"), col("s_name2")))
      .where(col("name_sim") >= 0.5)
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("c_custkey"))
          .orderBy(col("name_sim").desc, col("s_suppkey").asc)))
      .where(col("rk") === 1)
      .select(col("c_custkey"), col("s_suppkey"),
        col("c_name2_sx3").as("block_key"),
        round(col("name_sim"), 6).as("name_sim"))
  }.oracle {
    // Phonetic-blocked linkage replay: DuckDB has no soundex, so the
    // oracle recomputes the code with the Phonetics.soundexSql fold over
    // the same constructed names, then the same jw score + top-1 window.
    import graft.functions.Phonetics
    val cn = q165CustNames.map(s => "'" + s + "'").mkString(", ")
    val sn = q165SuppNames.map(s => "'" + s + "'").mkString(", ")
    s"""WITH c AS (
      |  SELECT c_custkey, c_nationkey AS nkey,
      |    ([$cn])[CAST(c_custkey % 12 AS INT) + 1] AS c_name2
      |  FROM customer),
      |sup AS (
      |  SELECT s_suppkey, s_nationkey AS nkey,
      |    ([$sn])[CAST(s_suppkey % 12 AS INT) + 1] AS s_name2
      |  FROM supplier),
      |cb AS (
      |  SELECT *, substr(${Phonetics.soundexSql("c_name2")}, 1, 3)
      |    AS c_sx3 FROM c),
      |sb AS (
      |  SELECT *, substr(${Phonetics.soundexSql("s_name2")}, 1, 3)
      |    AS s_sx3 FROM sup),
      |cand AS (
      |  SELECT c_custkey, s_suppkey, c_sx3 AS block_key,
      |    jaro_winkler_similarity(c_name2, s_name2) AS sim
      |  FROM cb JOIN sb ON cb.c_sx3 = sb.s_sx3 AND cb.nkey = sb.nkey
      |  WHERE jaro_winkler_similarity(c_name2, s_name2) >= 0.5)
      |SELECT c_custkey, s_suppkey, block_key,
      |  round(sim, 6) AS name_sim
      |FROM (SELECT *, row_number() OVER (PARTITION BY c_custkey
      |        ORDER BY sim DESC, s_suppkey ASC) AS rk FROM cand)
      |WHERE rk = 1""".stripMargin
  }

  // ---- splink-parity Fellegi–Sunter record linkage -----------------------
  // The reference's actual FERC1↔EIA model loop (eia_ferc1_record_linkage
  // .py:220-245): u from random pair sampling, m from labeled pairs, prior
  // 1/|left|, FS log2 Bayes-factor prediction at threshold 0.9, best match
  // per right record. Fixture: customer linked to a deterministically
  // perturbed twin of itself (the q97/q158 pattern) — labels are the key
  // identity with 1-in-4 dropout noise, the twin jitters balances by
  // (id mod 7 − 3) cents and nulls a lane on each side (mod 17 / mod 13)
  // to exercise the splink null level. Comparisons mirror the reference's
  // ladder shapes: name levels (exact / edit-distance / else), categorical
  // exact (mktsegment — the fuel_type_code twin), numeric percentage-
  // difference levels over integer cents (exact decimal arithmetic, no
  // float boundary). Everything replays in DuckDB: portable-hash u
  // sampling, integer-nano weights from identical IEEE ln trees, integer
  // threshold compare.
  /** Shared q168/q169 fixture: (l, r, addLevels, comps, uPairs). */
  private def fsFixture(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame => DataFrame,
         Seq[graft.linkage.Comparison], DataFrame) = {
    import graft.linkage.{Comparison, FellegiSunter => FS}
    val cust = t(s, dir, "customer")
    val last4 = expr("right(regexp_replace(c_name, '[^0-9]', ''), 4)")
    val cents = round(col("c_acctbal") * 100).cast("long")
    val l = cust.select(col("c_custkey").as("l_id"), last4.as("l_last4"),
      col("c_nationkey").as("l_nkey"), col("c_mktsegment").as("l_seg"),
      when(col("c_custkey") % 17 === 0, lit(null).cast("long"))
        .otherwise(cents).as("l_cents"))
    val r = cust.select(col("c_custkey").as("r_id"), last4.as("r_last4"),
      col("c_nationkey").as("r_nkey"), col("c_mktsegment").as("r_seg"),
      when(col("c_custkey") % 13 === 0, lit(null).cast("long"))
        .otherwise(cents + col("c_custkey") % 7 - lit(3)).as("r_cents"))
    def addLevels(p: DataFrame): DataFrame = p
      .withColumn("lvl_name",
        when(col("l_last4") === col("r_last4"), 3)
          .when(levenshtein(col("l_last4"), col("r_last4")) <= 1, 2)
          .otherwise(1))
      .withColumn("lvl_seg", when(col("l_seg") === col("r_seg"), 2)
        .otherwise(1))
      .withColumn("lvl_bal",
        FS.percentDifferenceLevel(col("l_cents"), col("r_cents")))
    val comps = Seq(
      Comparison("name", col("lvl_name"), 3),
      Comparison("seg", col("lvl_seg"), 2),
      Comparison("bal", col("lvl_bal"), 3))
    // the reference's max_pairs=1e7 knob: 1/64 of each side, crossed
    def side(df: DataFrame, seed: String, id: String): DataFrame =
      df.where(pmod(graft.functions.PortableHash.hex60(
        concat(lit(s"${seed}_"), col(id).cast("string"))), lit(64L)) === 0)
    val uPairs = addLevels(
      side(l, "u168", "l_id").crossJoin(side(r, "v168", "r_id")))
    (l, r, addLevels _, comps, uPairs)
  }

  lane("q168_fellegi_sunter") { (s, dir) =>
    import graft.linkage.{FellegiSunter => FS}
    val (l, r, addLevels, comps, uPairs) = fsFixture(s, dir)
    val mPairs = addLevels(l.join(r, col("l_id") === col("r_id"))
      .where(col("l_id") % 4 < 3))
    val weight = FS.trainedMatchWeight(
      FS.trainWeights(mPairs, uPairs, comps), l, comps)
    // blocking: splink block_on style — both rules are pure equi-joins;
    // the duplicate (l,r) a pair can earn from matching both rules is
    // resolved by the best-match window itself (identical rows rank 1,2 —
    // rk=1 keeps one), so no distinct shuffle over the full pair volume
    val ruleA = l.join(r, col("l_nkey") === col("r_nkey") &&
      substring(col("l_last4"), 1, 2) === substring(col("r_last4"), 1, 2))
    val ruleB = l.join(r, col("l_last4") === col("r_last4"))
    val cand = addLevels(ruleA.unionByName(ruleB))
      .withColumn("weight_nano", weight)
      .withColumn("accepted", col("weight_nano") >= FS.acceptAt(0.9))
    FS.bestMatch(cand, "r_id", "l_id")
      .select(col("r_id"), col("l_id"), col("lvl_name"), col("lvl_seg"),
        col("lvl_bal"), col("weight_nano"), col("accepted"))
  }.oracle((FsSql.weights + ",\n" + FsSql.scored + """
      |SELECT r_id, l_id, lvl_name, lvl_seg, lvl_bal, weight_nano,
      |  weight_nano >= (SELECT CAST(round(ln(0.9 / (1.0 - 0.9)) / ln(2.0) * 1e9)
      |    AS BIGINT)) AS accepted
      |FROM (SELECT *, row_number() OVER (PARTITION BY r_id
      |    ORDER BY weight_nano DESC, l_id ASC) AS rk FROM sc)
      |WHERE rk = 1""".stripMargin))

  // ---- splink EM session: estimate m unsupervised, u fixed ---------------
  // splink's documented standard training flow (the reference substitutes
  // labeled pairs for the EM step — q168 covers that lane; this one is the
  // `estimate_parameters_using_expectation_maximisation` lane): u from the
  // same 1/64 sampled pairs, then 3 fixed-point EM rounds over the
  // (nation, 2-prefix) blocked pairs estimating m and λ with NO labels.
  // Posteriors quantize to integer micros before every sum (the q126/q152
  // discipline), so the whole EM trajectory — not just the final state —
  // replays bit-exactly in the DuckDB oracle's unrolled CTE chain.
  lane("q169_fs_em_train") { (s, dir) =>
    import graft.linkage.{FellegiSunter => FS}
    val (l, r, addLevels, comps, uPairs) = fsFixture(s, dir)
    val uc = FS.uLevelCounts(uPairs, comps)
    // estimation needs only the level columns — project before the
    // checkpoint inside emTrainM so 3 ints materialize per pair, not the
    // full fixture row
    val emPairs = addLevels(l.join(r, col("l_nkey") === col("r_nkey") &&
      substring(col("l_last4"), 1, 2) === substring(col("r_last4"), 1, 2)))
      .select("lvl_name", "lvl_seg", "lvl_bal")
    FS.emTrainM(emPairs, comps, uc)
      .select(col("comparison"), col("level"), col("c_u"), col("n_u"),
        col("m_nano"), col("w_nano"), col("lam_micro"))
      .orderBy(col("comparison"), col("level"))
  }.oracle((Seq(FsSql.fixture, FsSql.up,
    FsSql.levels("ulev AS (SELECT", "up"),
    """uobs AS (
      |  SELECT 'name' AS comparison, lvl_name AS level FROM ulev
      |  UNION ALL SELECT 'seg', lvl_seg FROM ulev
      |  UNION ALL SELECT 'bal', lvl_bal FROM ulev WHERE lvl_bal IS NOT NULL)""".stripMargin,
    FsSql.spine,
    """ucnt AS (SELECT comparison, level, CAST(count(*) AS BIGINT) AS c_u
      |  FROM uobs GROUP BY 1, 2),
      |uj AS MATERIALIZED (SELECT spine.comparison, spine.level, spine.n_levels,
      |    coalesce(c_u, 0) AS c_u,
      |    CAST(sum(coalesce(c_u, 0)) OVER (PARTITION BY spine.comparison) AS BIGINT) AS n_u
      |  FROM spine LEFT JOIN ucnt
      |    ON spine.comparison = ucnt.comparison AND spine.level = ucnt.level)""".stripMargin,
    FsSql.levels("ep AS MATERIALIZED (SELECT *,",
      """(SELECT l.*, rr.* FROM l JOIN rr
      |    ON l_nkey = r_nkey AND substr(l_last4, 1, 2) = substr(r_last4, 1, 2))""".stripMargin),
    """w1 AS MATERIALIZED (SELECT comparison, level, n_levels, c_u, n_u,
      |    CAST(round((ln(1.0 / n_levels) - ln((c_u + 0.5) / (n_u + 0.5 * n_levels)))
      |      / ln(2.0) * 1e9) AS BIGINT) AS w_nano
      |  FROM uj),
      |lr1 AS MATERIALIZED (SELECT CAST(round(ln(0.01 / (1.0 - 0.01)) / ln(2.0) * 1e9) AS BIGINT) AS lr)""".stripMargin,
    FsSql.emRound(1), FsSql.emRound(2), FsSql.emRound(3)).mkString(",\n") +
    """
      |SELECT m3.comparison, m3.level, m3.c_u, m3.n_u,
      |  CAST(round(m3.m * 1e9) AS BIGINT) AS m_nano,
      |  w4.w_nano,
      |  (SELECT CAST(round(sp / n) AS BIGINT) FROM t3) AS lam_micro
      |FROM m3 JOIN w4 ON m3.comparison = w4.comparison AND m3.level = w4.level
      |ORDER BY m3.comparison, m3.level""".stripMargin))

  // ---- splink term-frequency adjustments ----------------------------------
  // The reference enables term_frequency_adjustments=True on utility_name
  // and fuel_type_code (eia_ferc1_model_config.py:47-50): agreeing on a
  // RARE value is stronger evidence than agreeing on a common one. Same
  // trained weights as q168; the exact-match mktsegment level gains a
  // per-value correction log2(u_level / tf_v) from a broadcast TF dim over
  // the concatenated datasets, and acceptance + best-match rank on the
  // adjusted weight. Integer nanos end-to-end.
  lane("q170_fs_tf_adjust") { (s, dir) =>
    import graft.linkage.{FellegiSunter => FS}
    val (l, r, addLevels, comps, uPairs) = fsFixture(s, dir)
    val mPairs = addLevels(l.join(r, col("l_id") === col("r_id"))
      .where(col("l_id") % 4 < 3))
    val trained = FS.trainWeights(mPairs, uPairs, comps).localCheckpoint()
    val weight = FS.trainedMatchWeight(trained, l, comps)
    val segU = trained
      .where(col("comparison") === "seg" && col("level") === 2)
      .select("c_u", "n_u").head
    val tf = FS.tfAdjustments(
      l.select(col("l_seg").as("value"))
        .unionByName(r.select(col("r_seg").as("value"))),
      col("value"), segU.getLong(0), segU.getLong(1), nLevels = 2)
    val ruleA = l.join(r, col("l_nkey") === col("r_nkey") &&
      substring(col("l_last4"), 1, 2) === substring(col("r_last4"), 1, 2))
    val ruleB = l.join(r, col("l_last4") === col("r_last4"))
    val cand = addLevels(ruleA.unionByName(ruleB))
      .withColumn("weight_nano", weight)
      .join(broadcast(tf), col("l_seg") === col("value"))
      .withColumn("tf_adj_nano",
        when(col("lvl_seg") === 2, col("tf_adj_nano")).otherwise(0L))
      .withColumn("weight_adj_nano",
        col("weight_nano") + col("tf_adj_nano"))
      .withColumn("accepted", col("weight_adj_nano") >= FS.acceptAt(0.9))
    FS.bestMatch(cand, "r_id", "l_id", weightCol = "weight_adj_nano")
      .select(col("r_id"), col("l_id"), col("lvl_seg"), col("weight_nano"),
        col("tf_adj_nano"), col("weight_adj_nano"), col("accepted"))
  }.oracle((Seq(FsSql.weights,
    """tf AS (SELECT value,
      |    CAST(round((ln(((SELECT c_u FROM j WHERE comparison = 'seg' AND level = 2) + 0.5)
      |              / ((SELECT n_u FROM j WHERE comparison = 'seg' AND level = 2) + 0.5 * 2))
      |          - ln(c / n)) / ln(2.0) * 1e9) AS BIGINT) AS tf_adj_nano
      |  FROM (SELECT value, CAST(count(*) AS BIGINT) AS c,
      |      CAST(sum(count(*)) OVER () AS BIGINT) AS n
      |    FROM (SELECT l_seg AS value FROM l UNION ALL SELECT r_seg FROM rr)
      |    GROUP BY value))""".stripMargin,
    FsSql.scored).mkString(",\n") + """,
      |adj AS (SELECT sc.*,
      |    CASE WHEN lvl_seg = 2 THEN tf.tf_adj_nano ELSE 0 END AS tf_adj_nano,
      |    weight_nano + CASE WHEN lvl_seg = 2 THEN tf.tf_adj_nano ELSE 0 END
      |      AS weight_adj_nano
      |  FROM sc JOIN tf ON sc.l_seg = tf.value)
      |SELECT r_id, l_id, lvl_seg, weight_nano, tf_adj_nano, weight_adj_nano,
      |  weight_adj_nano >= (SELECT CAST(round(ln(0.9 / (1.0 - 0.9)) / ln(2.0) * 1e9)
      |    AS BIGINT)) AS accepted
      |FROM (SELECT *, row_number() OVER (PARTITION BY r_id
      |    ORDER BY weight_adj_nano DESC, l_id ASC) AS rk FROM adj)
      |WHERE rk = 1""".stripMargin))

  // Metaphone blocking — the reference's ACTUAL phonetic key for its
  // FERC↔EIA splink model: jellyfish.metaphone per name, candidate pairs
  // blocked on the 3-char code prefix
  // (eia_ferc1_record_linkage.py:182-193, eia_ferc1_model_config.py:12).
  // q165's soundex twin key-for-key: same synthetic name variants, the
  // native Metaphone expression (whole-stage codegen), block on
  // substr(mphone, 1, 3) + nation, Jaro-Winkler score, best match per
  // customer. The full code rides along as c_mphone so the oracle pins
  // every emitted letter, not just the blocking prefix.
  lane("q174_metaphone_block") { (s, dir) =>
    def named(df: DataFrame, key: String, nkey: String, names: Seq[String],
              keyOut: String, nameOut: String) =
      df.select(col(key).as(keyOut), col(nkey).as("nkey"),
          element_at(array(names.map(lit): _*),
            (pmod(col(key), lit(names.size)) + 1).cast("int")).as(nameOut))
        .withColumn(s"${nameOut}_mph", graft.plans.Metaphone(col(nameOut)))
        .withColumn(s"${nameOut}_mp3",
          substring(col(s"${nameOut}_mph"), 1, 3))
    val c = named(t(s, dir, "customer"), "c_custkey", "c_nationkey",
      q165CustNames, "c_custkey", "c_name2")
    val sup = named(t(s, dir, "supplier"), "s_suppkey", "s_nationkey",
      q165SuppNames, "s_suppkey", "s_name2")
    c.join(sup, col("c_name2_mp3") === col("s_name2_mp3") &&
        c("nkey") === sup("nkey"))
      .withColumn("name_sim",
        graft.plans.JaroWinkler(col("c_name2"), col("s_name2")))
      .where(col("name_sim") >= 0.5)
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("c_custkey"))
          .orderBy(col("name_sim").desc, col("s_suppkey").asc)))
      .where(col("rk") === 1)
      .select(col("c_custkey"), col("s_suppkey"),
        col("c_name2_mp3").as("block_key"),
        col("c_name2_mph").as("c_mphone"),
        round(col("name_sim"), 6).as("name_sim"))
  }.oracle {
    // Metaphone replay: per-word codes from the single-level VARCHAR-
    // accumulator fold in Phonetics.metaphoneWordSql (the q163 fold
    // discipline — no struct accumulators), computed once over the 24
    // DISTINCT names and joined back, then the same block-join / best-
    // match shape as q165's oracle.
    val cn = q165CustNames.map(s => "'" + s + "'").mkString(", ")
    val sn = q165SuppNames.map(s => "'" + s + "'").mkString(", ")
    s"""WITH c AS (
      |  SELECT c_custkey, c_nationkey AS nkey,
      |    ([$cn])[CAST(c_custkey % 12 AS INT) + 1] AS c_name2
      |  FROM customer),
      |sup AS (
      |  SELECT s_suppkey, s_nationkey AS nkey,
      |    ([$sn])[CAST(s_suppkey % 12 AS INT) + 1] AS s_name2
      |  FROM supplier),
      |nm AS (
      |  SELECT DISTINCT c_name2 AS name FROM c
      |  UNION SELECT DISTINCT s_name2 FROM sup),
      |$nameMetaphones,
      |cb AS (SELECT c.*, m.mph AS c_mphone, substr(m.mph, 1, 3) AS c_mp3
      |  FROM c JOIN mcode m ON m.name = c.c_name2),
      |sb AS (SELECT sup.*, substr(m.mph, 1, 3) AS s_mp3
      |  FROM sup JOIN mcode m ON m.name = sup.s_name2),
      |cand AS (
      |  SELECT c_custkey, s_suppkey, c_mp3 AS block_key, c_mphone,
      |    jaro_winkler_similarity(c_name2, s_name2) AS sim
      |  FROM cb JOIN sb ON cb.c_mp3 = sb.s_mp3 AND cb.nkey = sb.nkey
      |  WHERE jaro_winkler_similarity(c_name2, s_name2) >= 0.5)
      |SELECT c_custkey, s_suppkey, block_key, c_mphone,
      |  round(sim, 6) AS name_sim
      |FROM (SELECT *, row_number() OVER (PARTITION BY c_custkey
      |        ORDER BY sim DESC, s_suppkey ASC) AS rk FROM cand)
      |WHERE rk = 1""".stripMargin
  }

  // Multi-rule blocking union — splink's
  // `blocking_rules_to_generate_predictions` candidate shape, which the
  // reference configures with TEN OR-ed rules
  // (`src/pudl/analysis/record_linkage/eia_ferc1_model_config.py:12-33`):
  // every rule is report_year + some attribute conjunction + a metaphone
  // prefix of varying length. q177 replays two rules of exactly those
  // shapes on the q165/q174 name fixture — rule 0 = (nation, metaphone
  // 3-prefix) [blocking_rule_1], rule 1 = (nation, fuel-type twin,
  // metaphone 2-prefix) [blocking_rule_4] — through Linkage.unionBlocks:
  // pairs matched by several rules appear ONCE with match_key = first
  // matching rule and n_rules = how many matched (the cross-rule dedup
  // the reference gets from splink's sequential AND-NOT SQL).
  private val q177Fuels = Seq("coal", "gas", "wind", "solar", "hydro")

  lane("q177_union_blocks") { (s, dir) =>
    val (c, sup) = q177Sides(s, dir)
    graft.linkage.Linkage.unionBlocks(c, sup, "c_custkey", "s_suppkey",
        q177Rules)
      .withColumn("name_sim",
        graft.plans.JaroWinkler(col("c_name2"), col("s_name2")))
      .where(col("name_sim") >= 0.5)
      .select(col("c_custkey"), col("s_suppkey"), col("match_key"),
        col("n_rules"), round(col("name_sim"), 6).as("name_sim"))
  }.oracle {
    val cn = q165CustNames.map(s => "'" + s + "'").mkString(", ")
    val sn = q165SuppNames.map(s => "'" + s + "'").mkString(", ")
    val fu = q177Fuels.map(s => "'" + s + "'").mkString(", ")
    s"""WITH c AS (
      |  SELECT c_custkey, c_nationkey AS c_nkey,
      |    ([$cn])[CAST(c_custkey % 12 AS INT) + 1] AS c_name2,
      |    ([$fu])[CAST(c_custkey % 5 AS INT) + 1] AS c_ftc
      |  FROM customer),
      |sup AS (
      |  SELECT s_suppkey, s_nationkey AS s_nkey,
      |    ([$sn])[CAST(s_suppkey % 12 AS INT) + 1] AS s_name2,
      |    ([$fu])[CAST(s_suppkey % 5 AS INT) + 1] AS s_ftc
      |  FROM supplier),
      |nm AS (
      |  SELECT DISTINCT c_name2 AS name FROM c
      |  UNION SELECT DISTINCT s_name2 FROM sup),
      |$nameMetaphones,
      |cb AS (SELECT c.*, substr(m.mph, 1, 3) AS c_mp3,
      |    substr(m.mph, 1, 2) AS c_mp2
      |  FROM c JOIN mcode m ON m.name = c.c_name2),
      |sb AS (SELECT sup.*, substr(m.mph, 1, 3) AS s_mp3,
      |    substr(m.mph, 1, 2) AS s_mp2
      |  FROM sup JOIN mcode m ON m.name = sup.s_name2),
      |u AS (
      |  SELECT c_custkey, s_suppkey, c_name2, s_name2, 0 AS match_key
      |  FROM cb JOIN sb ON cb.c_nkey = sb.s_nkey AND cb.c_mp3 = sb.s_mp3
      |  UNION ALL
      |  SELECT c_custkey, s_suppkey, c_name2, s_name2, 1
      |  FROM cb JOIN sb ON cb.c_nkey = sb.s_nkey
      |    AND cb.c_ftc = sb.s_ftc AND cb.c_mp2 = sb.s_mp2),
      |dedup AS (
      |  SELECT c_custkey, s_suppkey, c_name2, s_name2, match_key,
      |    count(*) OVER (PARTITION BY c_custkey, s_suppkey) AS n_rules,
      |    row_number() OVER (PARTITION BY c_custkey, s_suppkey
      |      ORDER BY match_key) AS rn
      |  FROM u)
      |SELECT c_custkey, s_suppkey, match_key, n_rules,
      |  round(jaro_winkler_similarity(c_name2, s_name2), 6) AS name_sim
      |FROM dedup
      |WHERE rn = 1 AND jaro_winkler_similarity(c_name2, s_name2) >= 0.5""".stripMargin
  }

  private def q177Rules: Seq[(Seq[Column], Seq[Column])] = Seq(
    (Seq(col("c_nkey"), col("c_mp3")),
     Seq(col("s_nkey"), col("s_mp3"))),
    (Seq(col("c_nkey"), col("c_ftc"), col("c_mp2")),
     Seq(col("s_nkey"), col("s_ftc"), col("s_mp2"))))

  private def q177Sides(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    def named(df: DataFrame, key: String, nkey: String, names: Seq[String],
              keyOut: String, nkeyOut: String, nameOut: String, pfx: String) =
      df.select(col(key).as(keyOut), col(nkey).as(nkeyOut),
          element_at(array(names.map(lit): _*),
            (pmod(col(key), lit(names.size)) + 1).cast("int")).as(nameOut))
        .withColumn(s"${pfx}_ftc",
          element_at(array(q177Fuels.map(lit): _*),
            (pmod(col(keyOut), lit(q177Fuels.size)) + 1).cast("int")))
        .withColumn(s"${pfx}_mph", graft.plans.Metaphone(col(nameOut)))
        .withColumn(s"${pfx}_mp3", substring(col(s"${pfx}_mph"), 1, 3))
        .withColumn(s"${pfx}_mp2", substring(col(s"${pfx}_mph"), 1, 2))
    (named(t(s, dir, "customer"), "c_custkey", "c_nationkey",
       q165CustNames, "c_custkey", "c_nkey", "c_name2", "c"),
     named(t(s, dir, "supplier"), "s_suppkey", "s_nationkey",
       q165SuppNames, "s_suppkey", "s_nkey", "s_name2", "s"))
  }

  // Blocking-rule pre-flight — splink's count_comparisons analysis over
  // the q177 rule set: per-rule candidate-pair volume from per-block
  // cardinalities (sum of nL*nR), computed WITHOUT materializing pairs —
  // the 100 TB budget check that picks the rule set. Output: one row per
  // rule.
  lane("q178_block_profile") { (s, dir) =>
    val (c, sup) = q177Sides(s, dir)
    graft.linkage.Linkage.blockProfile(c, sup, q177Rules)
  }.oracle {
    val cn = q165CustNames.map(s => "'" + s + "'").mkString(", ")
    val sn = q165SuppNames.map(s => "'" + s + "'").mkString(", ")
    val fu = q177Fuels.map(s => "'" + s + "'").mkString(", ")
    s"""WITH c AS (
      |  SELECT c_custkey, c_nationkey AS c_nkey,
      |    ([$cn])[CAST(c_custkey % 12 AS INT) + 1] AS c_name2,
      |    ([$fu])[CAST(c_custkey % 5 AS INT) + 1] AS c_ftc
      |  FROM customer),
      |sup AS (
      |  SELECT s_suppkey, s_nationkey AS s_nkey,
      |    ([$sn])[CAST(s_suppkey % 12 AS INT) + 1] AS s_name2,
      |    ([$fu])[CAST(s_suppkey % 5 AS INT) + 1] AS s_ftc
      |  FROM supplier),
      |nm AS (
      |  SELECT DISTINCT c_name2 AS name FROM c
      |  UNION SELECT DISTINCT s_name2 FROM sup),
      |$nameMetaphones,
      |cb AS (SELECT c.*, substr(m.mph, 1, 3) AS c_mp3,
      |    substr(m.mph, 1, 2) AS c_mp2
      |  FROM c JOIN mcode m ON m.name = c.c_name2),
      |sb AS (SELECT sup.*, substr(m.mph, 1, 3) AS s_mp3,
      |    substr(m.mph, 1, 2) AS s_mp2
      |  FROM sup JOIN mcode m ON m.name = sup.s_name2),
      |r0 AS (
      |  SELECT count(*) AS n_blocks,
      |    CAST(sum(nl * nr) AS BIGINT) AS n_pairs,
      |    max(nl * nr) AS max_block_pairs
      |  FROM (SELECT c_nkey, c_mp3, count(*) AS nl FROM cb GROUP BY 1, 2) L
      |  JOIN (SELECT s_nkey, s_mp3, count(*) AS nr FROM sb GROUP BY 1, 2) R
      |    ON L.c_nkey = R.s_nkey AND L.c_mp3 = R.s_mp3),
      |r1 AS (
      |  SELECT count(*) AS n_blocks,
      |    CAST(sum(nl * nr) AS BIGINT) AS n_pairs,
      |    max(nl * nr) AS max_block_pairs
      |  FROM (SELECT c_nkey, c_ftc, c_mp2, count(*) AS nl
      |        FROM cb GROUP BY 1, 2, 3) L
      |  JOIN (SELECT s_nkey, s_ftc, s_mp2, count(*) AS nr
      |        FROM sb GROUP BY 1, 2, 3) R
      |    ON L.c_nkey = R.s_nkey AND L.c_ftc = R.s_ftc
      |      AND L.c_mp2 = R.s_mp2)
      |SELECT CAST(0 AS INT) AS match_key, n_blocks, n_pairs,
      |  max_block_pairs FROM r0
      |UNION ALL
      |SELECT CAST(1 AS INT), n_blocks, n_pairs, max_block_pairs
      |FROM r1""".stripMargin
  }

  // The reference's FULL production blocking set — all TEN prediction
  // rules of eia_ferc1_model_config.py:12-33 replayed shape-for-shape
  // through Linkage.unionBlocks (q177 replays two): every rule is
  // report_year + an attribute conjunction + a metaphone prefix, except
  // rule 10's raw numeric block_on("report_year","net_generation_mwh").
  // Fixture twins: nationkey = report_year, plant/utility names from the
  // q165 pools (utility = a rotated index so the two name columns
  // decorrelate), fuel / installation-year / construction-year /
  // capacity / net-generation derived deterministically from the key so
  // the DuckDB oracle replays every block. Output is the per-rule
  // candidate ledger: how many pairs each rule WINS (match_key = first
  // matching rule, splink's sequential AND-NOT semantics), how many of
  // those were multi-rule, and the total rule hits — exercising the
  // cross-rule dedup ordering across 10 overlapping rules.
  private val q188RuleCols: Seq[Seq[String]] = Seq(
    Seq("nkey", "pmp3"),         // blocking_rule_1: year + plant mphone[1,3]
    Seq("nkey", "ump2", "pmp2"), // rule_2: year + util[1,2] + plant[1,2]
    Seq("nkey", "inst", "ump2"), // rule_3: year + installation + util[1,2]
    Seq("nkey", "ftc", "pmp2"),  // rule_4: year + fuel + plant[1,2]
    Seq("nkey", "ftc", "ump3"),  // rule_5: year + fuel + util[1,3]
    Seq("nkey", "cons", "ump2"), // rule_6: year + construction + util[1,2]
    Seq("nkey", "cap", "pmp2"),  // rule_7: year + capacity + plant[1,2]
    Seq("nkey", "inst", "pmp2"), // rule_8: year + installation + plant[1,2]
    Seq("nkey", "cons", "pmp2"), // rule_9: year + construction + plant[1,2]
    Seq("nkey", "ngen"))         // rule_10: year + net_generation

  private def q188Rules: Seq[(Seq[Column], Seq[Column])] =
    q188RuleCols.map(cs =>
      (cs.map(c0 => col(s"c_$c0")), cs.map(c0 => col(s"s_$c0"))))

  private def q188Sides(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    def side(df: DataFrame, key: String, nkey: String, names: Seq[String],
             pfx: String): DataFrame = {
      val k = col(key)
      df.select(k, col(nkey).as(s"${pfx}_nkey"),
          element_at(array(names.map(lit): _*),
            (pmod(k, lit(12)) + 1).cast("int")).as(s"${pfx}_pname"),
          element_at(array(names.map(lit): _*),
            (pmod(k * 7 + 3, lit(12)) + 1).cast("int")).as(s"${pfx}_uname"),
          element_at(array(q177Fuels.map(lit): _*),
            (pmod(k, lit(5)) + 1).cast("int")).as(s"${pfx}_ftc"),
          (pmod(k, lit(30)) + 1990).as(s"${pfx}_inst"),
          (pmod(k, lit(25)) + 1985).as(s"${pfx}_cons"),
          (pmod(k, lit(40)) * 12.5).as(s"${pfx}_cap"),
          (pmod(k, lit(200)) * 1000).as(s"${pfx}_ngen"))
        .withColumn(s"${pfx}_pmph", graft.plans.Metaphone(col(s"${pfx}_pname")))
        .withColumn(s"${pfx}_umph", graft.plans.Metaphone(col(s"${pfx}_uname")))
        .withColumn(s"${pfx}_pmp3", substring(col(s"${pfx}_pmph"), 1, 3))
        .withColumn(s"${pfx}_pmp2", substring(col(s"${pfx}_pmph"), 1, 2))
        .withColumn(s"${pfx}_ump3", substring(col(s"${pfx}_umph"), 1, 3))
        .withColumn(s"${pfx}_ump2", substring(col(s"${pfx}_umph"), 1, 2))
        .drop(s"${pfx}_pmph", s"${pfx}_umph")
    }
    (side(t(s, dir, "customer"), "c_custkey", "c_nationkey",
       q165CustNames, "c"),
     side(t(s, dir, "supplier"), "s_suppkey", "s_nationkey",
       q165SuppNames, "s"))
  }

  lane("q188_union_blocks_full") { (s, dir) =>
    val (c, sup) = q188Sides(s, dir)
    graft.linkage.Linkage.unionBlocks(c, sup, "c_custkey", "s_suppkey",
        q188Rules)
      .groupBy(col("match_key"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("n_rules") > 1, 1L).otherwise(0L)).as("n_multi"),
        sum(col("n_rules")).as("sum_rules"))
  }.oracle {
    val unions = q188RuleCols.zipWithIndex.map { case (cs, i) =>
      s"  SELECT c_custkey, s_suppkey, $i AS match_key\n" +
        s"  FROM cb JOIN sb ON ${q188RuleCondSql(cs)}"
    }.mkString("\n  UNION ALL\n")
    s"""$q188OracleCtes,
      |u AS (
      |$unions),
      |dedup AS (
      |  SELECT c_custkey, s_suppkey, match_key,
      |    count(*) OVER (PARTITION BY c_custkey, s_suppkey) AS n_rules,
      |    row_number() OVER (PARTITION BY c_custkey, s_suppkey
      |      ORDER BY match_key) AS rn
      |  FROM u)
      |SELECT match_key, count(*) AS n_pairs,
      |  CAST(sum(CASE WHEN n_rules > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_multi,
      |  CAST(sum(n_rules) AS BIGINT) AS sum_rules
      |FROM dedup WHERE rn = 1 GROUP BY match_key""".stripMargin
  }

  // splink's count_comparisons pre-flight over the FULL 10-rule set:
  // one (n_blocks, n_pairs, max_block_pairs) row per production rule —
  // the realistic rule-budgeting run the reference would do before
  // predict (q178 profiles the 2-rule subset). Pairs never materialize.
  lane("q189_block_profile_full") { (s, dir) =>
    val (c, sup) = q188Sides(s, dir)
    graft.linkage.Linkage.blockProfile(c, sup, q188Rules)
  }.oracle {
    val parts = q188RuleCols.zipWithIndex.map { case (cs, i) =>
      val lcols = cs.map(c0 => s"c_$c0").mkString(", ")
      val rcols = cs.map(c0 => s"s_$c0").mkString(", ")
      val nums = (1 to cs.size).mkString(", ")
      val cond = cs.map(c0 => s"L.c_$c0 = R.s_$c0").mkString(" AND ")
      s"""SELECT CAST($i AS INT) AS match_key, count(*) AS n_blocks,
         |  CAST(sum(nl * nr) AS BIGINT) AS n_pairs,
         |  CAST(max(nl * nr) AS BIGINT) AS max_block_pairs
         |FROM (SELECT $lcols, count(*) AS nl FROM cb GROUP BY $nums) L
         |JOIN (SELECT $rcols, count(*) AS nr FROM sb GROUP BY $nums) R
         |  ON $cond""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"$q188OracleCtes\n$parts"
  }

  // The reference's full PREDICT shape assembled end-to-end — splink
  // predict over the production model config: the 10-rule candidate
  // union (q188) -> comparison vector (NameComparison gamma ladders
  // [0.9,0.8,0.7] on BOTH name columns, eia_ferc1_model_config.py:35-46,
  // + exact fuel-type match, :47-50) -> Fellegi-Sunter match weight from
  // plan-literal per-level log2(m/u) integer nanos -> acceptance -> best
  // match per right record (sort desc + first, :245). q168-q170 verify
  // the FS train/predict machinery with in-engine-estimated weights;
  // this is the assembled production query over ALL ten blocking rules.
  // Weights are literal longs (no float path anywhere: gammas are
  // integer levels, the weight is a long sum, acceptance is a long
  // compare at 3169925001 = round(log2(0.9/0.1)*1e9), precomputed so
  // neither engine evaluates a transcendental).
  private val q190NameW: Seq[(Int, Long)] = Seq(
    -1 -> 0L,                // splink null level: Bayes factor 1
    0 -> -4000000000L, 1 -> 1500000000L, 2 -> 3000000000L,
    3 -> 5000000000L, 4 -> 7000000000L)

  /** The full scored predict frame (10-rule union → gamma vector → FS
    * weight), shared by q190 (best-match shape) and q193 (splink's
    * clustering shape). */
  private def q190Scored(s: SparkSession, dir: String): DataFrame = {
    import graft.linkage.{FellegiSunter => FS, Linkage}
    val (c, sup) = q188Sides(s, dir)
    def nameW(g: Column): Column =
      q190NameW.tail.foldLeft(when(g === q190NameW.head._1,
          lit(q190NameW.head._2))) {
        case (acc, (k, v)) => acc.when(g === k, lit(v))
      }
    Linkage.unionBlocks(c, sup, "c_custkey", "s_suppkey", q188Rules)
      .withColumn("g_pname", FS.nameComparisonLevel(
        col("c_pname"), col("s_pname"), Seq(0.9, 0.8, 0.7)))
      .withColumn("g_uname", FS.nameComparisonLevel(
        col("c_uname"), col("s_uname"), Seq(0.9, 0.8, 0.7)))
      .withColumn("g_ftc",
        when(col("c_ftc") === col("s_ftc"), 1).otherwise(0))
      .withColumn("weight_nano",
        lit(-6000000000L) + nameW(col("g_pname")) + nameW(col("g_uname"))
          + when(col("g_ftc") === 1, lit(2000000000L))
            .otherwise(lit(-1000000000L)))
  }

  lane("q190_splink_predict") { (s, dir) =>
    import graft.linkage.{FellegiSunter => FS}
    FS.bestMatch(q190Scored(s, dir), "s_suppkey", "c_custkey")
      .select(col("s_suppkey"), col("c_custkey"), col("match_key"),
        col("n_rules"), col("g_pname"), col("g_uname"), col("g_ftc"),
        col("weight_nano"),
        (col("weight_nano") >= 3169925001L).as("accepted"))
  }.oracle(
    s"""$q190PredictSql
      |SELECT s_suppkey, c_custkey, match_key, n_rules,
      |  g_pname, g_uname, g_ftc, weight_nano,
      |  weight_nano >= 3169925001 AS accepted
      |FROM (SELECT *, row_number() OVER (PARTITION BY s_suppkey
      |        ORDER BY weight_nano DESC, c_custkey ASC) AS rk FROM w)
      |WHERE rk = 1""".stripMargin)

  // splink's cluster_pairwise_predictions_at_threshold — the step after
  // predict in splink's standard flow (the reference takes best-match
  // 1:1 instead, eia_ferc1_record_linkage.py:245; this completes the
  // splink API surface): accepted pairs become edges in a bipartite
  // graph over BOTH record sets (customer → 2k, supplier → 2k+1, the
  // q45 node mapping), connected components assign cluster_id = min
  // node id, and unlinked records keep their own node as a singleton
  // cluster — exactly splink's semantics. Scale: edge volume is the
  // accepted-pair volume (bounded by blocking + threshold);
  // ConnectedComponents.run picks driver union-find below 5M edges and
  // the O(log n) large/small-star contraction above it.
  lane("q193_splink_cluster") { (s, dir) =>
    // cast BEFORE doubling: a 32-bit key above 2^30 would wrap negative
    // under non-ANSI int arithmetic (the silent-wrap class blockProfile
    // guards against); DuckDB's oracle promotes to BIGINT first
    val edges = q190Scored(s, dir)
      .where(col("weight_nano") >= 3169925001L)
      .select((col("c_custkey").cast("long") * 2).as("src"),
        (col("s_suppkey").cast("long") * 2 + 1).as("dst"))
    val (c, sup) = q188Sides(s, dir)
    val verts = c.select((col("c_custkey").cast("long") * 2).as("node"))
      .unionByName(
        sup.select((col("s_suppkey").cast("long") * 2 + 1).as("node")))
    val cc = graft.graph.ConnectedComponents.run(edges, "src", "dst")
    verts.join(cc, verts("node") === cc("v"), "left")
      .select(col("node"), (col("node") % 2 === 0).as("is_left"),
        floor(col("node") / 2).cast("long").as("rec_id"),
        coalesce(col("component"), col("node")).as("cluster_id"))
  }.oracle {
    // q193: splink's cluster_pairwise_predictions_at_threshold — the
    // SAME predict CTE chain q190 uses (shared q190PredictSql, so the
    // two stages cannot drift), accepted pairs as bipartite edges, the
    // q45 recursive-CTE connected components, singletons seeded from
    // both sides so unlinked records keep their own cluster.
    val rec = q190PredictSql.replaceFirst("^WITH ", "WITH RECURSIVE ")
    s"""$rec,
      |edges AS (
      |  SELECT c_custkey * 2 AS a, s_suppkey * 2 + 1 AS b
      |  FROM w WHERE weight_nano >= 3169925001),
      |verts AS (
      |  SELECT c_custkey * 2 AS v FROM cb
      |  UNION SELECT s_suppkey * 2 + 1 FROM sb),
      |sym AS (SELECT a, b FROM edges UNION SELECT b AS a, a AS b FROM edges),
      |reach(v, c2) AS (
      |  SELECT v, v AS c2 FROM verts
      |  UNION
      |  SELECT sym.a AS v, reach.c2 FROM sym JOIN reach ON sym.b = reach.v)
      |SELECT v AS node, v % 2 = 0 AS is_left,
      |  CAST(v // 2 AS BIGINT) AS rec_id,
      |  CAST(min(c2) AS BIGINT) AS cluster_id
      |FROM reach GROUP BY v""".stripMargin
  }

  // splink NameComparison gamma ladder — the reference's name comparison
  // config (jaro_winkler_thresholds=[0.9,0.8,0.7],
  // eia_ferc1_model_config.py:35-42) replayed level-for-level: null side
  // -> -1, exact -> 4, then 3/2/1 by threshold, else 0. Pairs are
  // blocked (nation, key mod 100) with planted nulls on both sides so
  // every level including the null lane appears in the output.
  lane("q180_name_levels") { (s, dir) =>
    import graft.linkage.{FellegiSunter => FS}
    def named(df: DataFrame, key: String, nkey: String, names: Seq[String],
              keyOut: String, nkeyOut: String, nameOut: String, nullMod: Int) =
      df.select(col(key).as(keyOut), col(nkey).as(nkeyOut),
        when(col(key) % nullMod === 0, lit(null).cast("string"))
          .otherwise(element_at(array(names.map(lit): _*),
            (pmod(col(key), lit(names.size)) + 1).cast("int"))).as(nameOut))
    val c = named(t(s, dir, "customer"), "c_custkey", "c_nationkey",
      q165CustNames, "c_custkey", "c_nkey", "c_name2", 19)
    val sup = named(t(s, dir, "supplier"), "s_suppkey", "s_nationkey",
      q165SuppNames, "s_suppkey", "s_nkey", "s_name2", 23)
    c.join(sup, col("c_nkey") === col("s_nkey") &&
        pmod(col("c_custkey"), lit(100)) === pmod(col("s_suppkey"), lit(100)))
      .select(col("c_custkey"), col("s_suppkey"),
        FS.nameComparisonLevel(col("c_name2"), col("s_name2"),
          Seq(0.9, 0.8, 0.7)).as("name_level"))
  }.oracle {
    val cn = q165CustNames.map(s => "'" + s + "'").mkString(", ")
    val sn = q165SuppNames.map(s => "'" + s + "'").mkString(", ")
    s"""WITH c AS (
      |  SELECT c_custkey, c_nationkey AS c_nkey,
      |    CASE WHEN c_custkey % 19 = 0 THEN NULL
      |      ELSE ([$cn])[CAST(c_custkey % 12 AS INT) + 1] END AS c_name2
      |  FROM customer),
      |sup AS (
      |  SELECT s_suppkey, s_nationkey AS s_nkey,
      |    CASE WHEN s_suppkey % 23 = 0 THEN NULL
      |      ELSE ([$sn])[CAST(s_suppkey % 12 AS INT) + 1] END AS s_name2
      |  FROM supplier)
      |SELECT c_custkey, s_suppkey,
      |  CASE
      |    WHEN c_name2 IS NULL OR s_name2 IS NULL THEN -1
      |    WHEN c_name2 = s_name2 THEN 4
      |    WHEN jaro_winkler_similarity(c_name2, s_name2) >= 0.9 THEN 3
      |    WHEN jaro_winkler_similarity(c_name2, s_name2) >= 0.8 THEN 2
      |    WHEN jaro_winkler_similarity(c_name2, s_name2) >= 0.7 THEN 1
      |    ELSE 0 END AS name_level
      |FROM c JOIN sup ON c_nkey = s_nkey
      |  AND c_custkey % 100 = s_suppkey % 100""".stripMargin
  }

  // ---- §2.3 both-sides skew-guarded join (2-D tile decomposition) --------
  // The big-joins-big regime: the planted (key % 5) blocking key makes
  // EVERY block hot on BOTH sides, so salting one side alone would still
  // leave ~maxBlock · R pairs per salt. skewGuardedJoin decomposes each
  // block's L×R pair matrix into ~maxBlock×maxBlock tiles — (row-salt,
  // col-salt) shuffle groups, every pair meeting in exactly one tile —
  // and maxBlock = 4 forces real multi-salt grids at every graded scale.
  // The guard is pair-for-pair identical to the plain equi-join, which
  // is precisely what the oracle replays: the exact pair count plus an
  // integer checksum over ALL pairs would expose any pair the tiling
  // lost or duplicated.
  lane("q198_skew2d_join") { (s, dir) =>
    val c = t(s, dir, "customer").where(col("c_custkey") % 100 < 20)
      .select(col("c_custkey"), pmod(col("c_custkey"), lit(5)).as("blk"),
        round(col("c_acctbal") * 100).cast("long").as("l_cents"))
    val sup = t(s, dir, "supplier").where(col("s_suppkey") % 10 < 3)
      .select(col("s_suppkey"),
        pmod(col("s_suppkey"), lit(5)).as("__rblk"),
        round(col("s_acctbal") * 100).cast("long").as("r_cents"))
    graft.linkage.Linkage.skewGuardedJoin(c, sup,
        Seq(col("blk")), Seq(col("__rblk")), maxBlock = 4)
      .groupBy(col("blk"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("l_cents") * 7 + col("r_cents")).as("sum_chk"))
  }.oracle(
    // q198: the 2-D skew-guarded join is pair-for-pair identical to the
    // plain equi-join, so the oracle IS the plain join — the exact pair
    // count and the integer checksum over every pair expose any pair
    // the tile decomposition lost or duplicated.
    """SELECT c.c_custkey % 5 AS blk, count(*) AS n_pairs,
      |  CAST(sum(c.lc * 7 + s.rc) AS BIGINT) AS sum_chk
      |FROM (SELECT c_custkey,
      |        CAST(round(c_acctbal * 100) AS BIGINT) AS lc
      |      FROM customer WHERE c_custkey % 100 < 20) c
      |JOIN (SELECT s_suppkey,
      |        CAST(round(s_acctbal * 100) AS BIGINT) AS rc
      |      FROM supplier WHERE s_suppkey % 10 < 3) s
      |  ON c.c_custkey % 5 = s.s_suppkey % 5
      |GROUP BY 1""".stripMargin)

  /** DuckDB twin of FellegiSunter's customer fixture (`fsFixture`) and its
    * three comparison levels; the q168, q169 and q170 oracles are
    * assembled from it. */
  private object FsSql {
    /** `base` and its two sides `l` / `rr`: 1 in 17 left and 1 in 13
      * right balances nulled, right cents jittered by `id % 7 - 3`. */
    val fixture: String =
      """WITH base AS (
        |  SELECT c_custkey AS id,
        |    right(regexp_replace(c_name, '[^0-9]', '', 'g'), 4) AS last4,
        |    c_nationkey AS nkey, c_mktsegment AS seg,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS cents
        |  FROM customer),
        |l AS (SELECT id AS l_id, last4 AS l_last4, nkey AS l_nkey, seg AS l_seg,
        |    CASE WHEN id % 17 = 0 THEN NULL ELSE cents END AS l_cents FROM base),
        |rr AS (SELECT id AS r_id, last4 AS r_last4, nkey AS r_nkey, seg AS r_seg,
        |    CASE WHEN id % 13 = 0 THEN NULL ELSE cents + id % 7 - 3 END AS r_cents
        |  FROM base)""".stripMargin

    /** `up`: the seeded random-pair sample the u-probabilities count. */
    val up: String =
      """up AS (SELECT * FROM
        |    (SELECT * FROM l WHERE ('0x' || substr(md5('u168_' || l_id::VARCHAR), 1, 15))::BIGINT % 64 = 0)
        |    CROSS JOIN
        |    (SELECT * FROM rr WHERE ('0x' || substr(md5('v168_' || r_id::VARCHAR), 1, 15))::BIGINT % 64 = 0))""".stripMargin

    /** The per-comparison level spine (name 1-3, seg 1-2, bal 1-3). */
    val spine: String =
      """spine AS (
        |  SELECT 'name' AS comparison, CAST(unnest(range(1, 4)) AS INT) AS level, 3 AS n_levels
        |  UNION ALL
        |  SELECT 'seg', CAST(unnest(range(1, 3)) AS INT), 2
        |  UNION ALL
        |  SELECT 'bal', CAST(unnest(range(1, 4)) AS INT), 3)""".stripMargin

    /** CTE `head` selecting the three comparison levels (`lvl_name`,
      * `lvl_seg`, `lvl_bal`) over `from`. */
    def levels(head: String, from: String): String =
      head + """
        |    CASE WHEN l_last4 = r_last4 THEN 3
        |      WHEN levenshtein(l_last4, r_last4) <= 1 THEN 2 ELSE 1 END AS lvl_name,
        |    CASE WHEN l_seg = r_seg THEN 2 ELSE 1 END AS lvl_seg,
        |    CASE WHEN l_cents IS NULL OR r_cents IS NULL THEN NULL
        |      WHEN 1000 * abs(l_cents - r_cents) <= greatest(abs(l_cents), abs(r_cents)) THEN 3
        |      WHEN 20 * abs(l_cents - r_cents) <= greatest(abs(l_cents), abs(r_cents)) THEN 2
        |      ELSE 1 END AS lvl_bal""".stripMargin + "\n  FROM " + from + ")"

    /** q168/q170's estimate: the true pairs `mp` and the random pairs `up`
      * levelled and counted into match weights `w`, plus the prior `pr`. */
    val weights: String = Seq(fixture,
      "mp AS (SELECT * FROM l JOIN rr ON l_id = r_id WHERE l_id % 4 < 3)",
      up, levels("mlev AS (SELECT", "mp"), levels("ulev AS (SELECT", "up"),
      """obs AS (
        |  SELECT 'm' AS src, 'name' AS comparison, lvl_name AS level FROM mlev
        |  UNION ALL SELECT 'm', 'seg', lvl_seg FROM mlev
        |  UNION ALL SELECT 'm', 'bal', lvl_bal FROM mlev WHERE lvl_bal IS NOT NULL
        |  UNION ALL SELECT 'u', 'name', lvl_name FROM ulev
        |  UNION ALL SELECT 'u', 'seg', lvl_seg FROM ulev
        |  UNION ALL SELECT 'u', 'bal', lvl_bal FROM ulev WHERE lvl_bal IS NOT NULL)""".stripMargin,
      spine,
      """cnt AS (SELECT comparison, level,
        |    CAST(count(*) FILTER (WHERE src = 'm') AS BIGINT) AS c_m,
        |    CAST(count(*) FILTER (WHERE src = 'u') AS BIGINT) AS c_u
        |  FROM obs GROUP BY 1, 2),
        |j AS (SELECT spine.comparison, spine.level, spine.n_levels,
        |    coalesce(c_m, 0) AS c_m, coalesce(c_u, 0) AS c_u,
        |    sum(coalesce(c_m, 0)) OVER (PARTITION BY spine.comparison) AS n_m,
        |    sum(coalesce(c_u, 0)) OVER (PARTITION BY spine.comparison) AS n_u
        |  FROM spine LEFT JOIN cnt
        |    ON spine.comparison = cnt.comparison AND spine.level = cnt.level),
        |w AS (SELECT comparison, level,
        |    CAST(round((ln((c_m + 0.5) / (n_m + 0.5 * n_levels))
        |              - ln((c_u + 0.5) / (n_u + 0.5 * n_levels)))
        |         / ln(2.0) * 1e9) AS BIGINT) AS w_nano
        |  FROM j),
        |pr AS (SELECT CAST(round(-ln(count(*) - 1.0) / ln(2.0) * 1e9) AS BIGINT)
        |    AS prior_nano FROM l)""".stripMargin).mkString(",\n")

    /** Both blocking rules' candidate pairs, levelled and scored (`sc`). */
    val scored: String = Seq(
      """cand AS (
        |  SELECT l.*, rr.* FROM l JOIN rr
        |    ON l_nkey = r_nkey AND substr(l_last4, 1, 2) = substr(r_last4, 1, 2)
        |  UNION ALL
        |  SELECT l.*, rr.* FROM l JOIN rr ON l_last4 = r_last4)""".stripMargin,
      levels("clev AS (SELECT *,", "cand"),
      """sc AS (SELECT c.*,
        |    (SELECT w_nano FROM w WHERE comparison = 'name' AND level = c.lvl_name)
        |  + (SELECT w_nano FROM w WHERE comparison = 'seg' AND level = c.lvl_seg)
        |  + coalesce((SELECT w_nano FROM w WHERE comparison = 'bal' AND level = c.lvl_bal), 0)
        |  + (SELECT prior_nano FROM pr) AS weight_nano
        |  FROM clev c)""".stripMargin).mkString(",\n")

    /** q169's EM round `r`: every blocked pair's match probability under
      * the weights `w<r>` and log-odds prior `lr<r>`, then the
      * re-estimated m-probabilities `m<r>`, weights `w<r+1>` and prior
      * `lr<r+1>`. */
    def emRound(r: Int): String =
      s"""p$r AS (SELECT ep.*,
        |    (SELECT lr FROM lr$r)
        |  + (SELECT w_nano FROM w$r WHERE comparison = 'name' AND level = ep.lvl_name)
        |  + (SELECT w_nano FROM w$r WHERE comparison = 'seg' AND level = ep.lvl_seg)
        |  + coalesce((SELECT w_nano FROM w$r WHERE comparison = 'bal' AND level = ep.lvl_bal), 0)
        |    AS s_nano
        |  FROM ep),
        |q$r AS MATERIALIZED (SELECT *, CAST(round(1.0 / (1.0 + exp(-(s_nano / 1e9) * ln(2.0))) * 1e6)
        |    AS BIGINT) AS p_micro FROM p$r),
        |c$r AS MATERIALIZED (SELECT comparison, level, CAST(sum(p_micro) AS BIGINT) AS s_p FROM (
        |    SELECT 'name' AS comparison, lvl_name AS level, p_micro FROM q$r
        |    UNION ALL SELECT 'seg', lvl_seg, p_micro FROM q$r
        |    UNION ALL SELECT 'bal', lvl_bal, p_micro FROM q$r WHERE lvl_bal IS NOT NULL)
        |  GROUP BY 1, 2),
        |t$r AS MATERIALIZED (SELECT CAST(sum(p_micro) AS BIGINT) AS sp, CAST(count(*) AS BIGINT) AS n
        |  FROM q$r),
        |m$r AS MATERIALIZED (SELECT uj.comparison, uj.level, uj.n_levels, uj.c_u, uj.n_u,
        |    (coalesce(s_p, 0) + 500000.0) /
        |    (CAST(sum(coalesce(s_p, 0)) OVER (PARTITION BY uj.comparison) AS BIGINT)
        |      + 500000.0 * uj.n_levels) AS m
        |  FROM uj LEFT JOIN c$r
        |    ON uj.comparison = c$r.comparison AND uj.level = c$r.level),
        |w${r + 1} AS MATERIALIZED (SELECT comparison, level, n_levels, c_u, n_u,
        |    CAST(round((ln(m) - ln((c_u + 0.5) / (n_u + 0.5 * n_levels)))
        |      / ln(2.0) * 1e9) AS BIGINT) AS w_nano
        |  FROM m$r),
        |lr${r + 1} AS MATERIALIZED (SELECT CAST(round(ln(sp / (n * 1000000 - sp)) / ln(2.0) * 1e9)
        |    AS BIGINT) AS lr FROM t$r)""".stripMargin
  }

  /** The q190 predict oracle's CTE chain (candidate union → dedup →
    * gamma vector → FS weight), ending at CTE `w` — the shared prefix of
    * the q190 (best-match) and q193 (clustering) oracles. */
  private def q190PredictSql: String = {
    val unions = q188RuleCols.zipWithIndex.map { case (cs, i) =>
      s"  SELECT c_custkey, s_suppkey, $i AS match_key\n" +
        s"  FROM cb JOIN sb ON ${q188RuleCondSql(cs)}"
    }.mkString("\n  UNION ALL\n")
    def gamma(l: String, r: String): String =
      s"CASE WHEN $l IS NULL OR $r IS NULL THEN -1 " +
        s"WHEN $l = $r THEN 4 " +
        s"WHEN jaro_winkler_similarity($l, $r) >= 0.9 THEN 3 " +
        s"WHEN jaro_winkler_similarity($l, $r) >= 0.8 THEN 2 " +
        s"WHEN jaro_winkler_similarity($l, $r) >= 0.7 THEN 1 ELSE 0 END"
    def wcase(g: String): String =
      q190NameW.map { case (k, v) => s"WHEN $g = $k THEN $v" }
        .mkString("CASE ", " ", " ELSE NULL END")
    s"""$q188OracleCtes,
      |u AS (
      |$unions),
      |dedup AS (
      |  SELECT c_custkey, s_suppkey, match_key,
      |    count(*) OVER (PARTITION BY c_custkey, s_suppkey) AS n_rules,
      |    row_number() OVER (PARTITION BY c_custkey, s_suppkey
      |      ORDER BY match_key) AS rn
      |  FROM u),
      |pairs AS (
      |  SELECT d.c_custkey, d.s_suppkey, d.match_key, d.n_rules,
      |    cb.c_pname, cb.c_uname, cb.c_ftc,
      |    sb.s_pname, sb.s_uname, sb.s_ftc
      |  FROM dedup d
      |  JOIN cb ON cb.c_custkey = d.c_custkey
      |  JOIN sb ON sb.s_suppkey = d.s_suppkey
      |  WHERE d.rn = 1),
      |g AS (
      |  SELECT *,
      |    ${gamma("c_pname", "s_pname")} AS g_pname,
      |    ${gamma("c_uname", "s_uname")} AS g_uname,
      |    CASE WHEN c_ftc = s_ftc THEN 1 ELSE 0 END AS g_ftc
      |  FROM pairs),
      |w AS (
      |  SELECT c_custkey, s_suppkey, match_key, n_rules,
      |    g_pname, g_uname, g_ftc,
      |    -6000000000 + ${wcase("g_pname")} + ${wcase("g_uname")}
      |      + CASE WHEN g_ftc = 1 THEN 2000000000
      |             ELSE -1000000000 END AS weight_nano
      |  FROM g)""".stripMargin
  }

  /** Shared DuckDB CTE prefix for q188/q189: the two blocking sides with
    * every attribute twin + metaphone prefixes for BOTH name columns
    * (plant + utility), generated from the same lists the Spark side
    * uses. */
  private def q188OracleCtes: String = {
    val cn = q165CustNames.map("'" + _ + "'").mkString(", ")
    val sn = q165SuppNames.map("'" + _ + "'").mkString(", ")
    val fu = q177Fuels.map("'" + _ + "'").mkString(", ")
    s"""WITH c AS (
      |  SELECT c_custkey, c_nationkey AS c_nkey,
      |    ([$cn])[CAST(c_custkey % 12 AS INT) + 1] AS c_pname,
      |    ([$cn])[CAST((c_custkey * 7 + 3) % 12 AS INT) + 1] AS c_uname,
      |    ([$fu])[CAST(c_custkey % 5 AS INT) + 1] AS c_ftc,
      |    c_custkey % 30 + 1990 AS c_inst,
      |    c_custkey % 25 + 1985 AS c_cons,
      |    (c_custkey % 40) * 12.5 AS c_cap,
      |    (c_custkey % 200) * 1000 AS c_ngen
      |  FROM customer),
      |sup AS (
      |  SELECT s_suppkey, s_nationkey AS s_nkey,
      |    ([$sn])[CAST(s_suppkey % 12 AS INT) + 1] AS s_pname,
      |    ([$sn])[CAST((s_suppkey * 7 + 3) % 12 AS INT) + 1] AS s_uname,
      |    ([$fu])[CAST(s_suppkey % 5 AS INT) + 1] AS s_ftc,
      |    s_suppkey % 30 + 1990 AS s_inst,
      |    s_suppkey % 25 + 1985 AS s_cons,
      |    (s_suppkey % 40) * 12.5 AS s_cap,
      |    (s_suppkey % 200) * 1000 AS s_ngen
      |  FROM supplier),
      |nm AS (
      |  SELECT DISTINCT c_pname AS name FROM c
      |  UNION SELECT DISTINCT c_uname FROM c
      |  UNION SELECT DISTINCT s_pname FROM sup
      |  UNION SELECT DISTINCT s_uname FROM sup),
      |$nameMetaphones,
      |cb AS (SELECT c.*,
      |    substr(mp.mph, 1, 3) AS c_pmp3, substr(mp.mph, 1, 2) AS c_pmp2,
      |    substr(mu.mph, 1, 3) AS c_ump3, substr(mu.mph, 1, 2) AS c_ump2
      |  FROM c JOIN mcode mp ON mp.name = c.c_pname
      |         JOIN mcode mu ON mu.name = c.c_uname),
      |sb AS (SELECT sup.*,
      |    substr(mp.mph, 1, 3) AS s_pmp3, substr(mp.mph, 1, 2) AS s_pmp2,
      |    substr(mu.mph, 1, 3) AS s_ump3, substr(mu.mph, 1, 2) AS s_ump2
      |  FROM sup JOIN mcode mp ON mp.name = sup.s_pname
      |           JOIN mcode mu ON mu.name = sup.s_uname)""".stripMargin
  }

  private def q188RuleCondSql(cs: Seq[String]): String =
    cs.map(c0 => s"cb.c_$c0 = sb.s_$c0").mkString(" AND ")
}
