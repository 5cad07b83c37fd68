package graft.linkage

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, ByteType, DataType, DateType,
  DecimalType, DoubleType, FloatType, IntegerType, LongType, ShortType,
  StringType, TimestampType}

import graft.text.TextAnalysis
import graft.graph.ConnectedComponents
import graft.dedup.NearDup
import graft.similarity.Similarity

/** Record-linkage kit (SURVEY §2.11): TF-IDF term weighting, blocked fuzzy
  * joins, and pairwise match scoring — the Spark-first re-expression of the
  * reference's embed_dataframe / eia_ferc1_record_linkage surface.
  *
  * Scale design: candidate pairs are always *blocked* (equi-join on a
  * blocking key) — the all-pairs product never materializes. TF-IDF is two
  * hash aggregations; document count comes from an unpartitioned window
  * (computed map-side, no collect).
  */
object Linkage {

  /** Per-document TF-IDF terms: tf, df, idf = ln(N/df), score = tf·idf.
    * Reference: TextVectorizer
    * (`/root/reference/src/pudl/analysis/record_linkage/embed_dataframe.py:196-208`). */
  def tfidf(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol),
      explode(TextAnalysis.tokens(col(textCol))).as("term"))
    val tf = toks.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = df.select(count(lit(1)).as("n_docs"))
    tf.join(dfreq, "term").crossJoin(n)
      .withColumn("idf", log(col("n_docs").cast("double") / col("df")))
      .withColumn("score", col("tf") * col("idf"))
  }

  /** Top TF-IDF term per document. Ranking uses the integer pair
    * (tf desc, df asc, term asc) — same order as tf·ln(N/df) for fixed N but
    * exact, so it reproduces bit-identically on any engine. */
  def tfidfTopTerm(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val scored = tfidf(df, idCol, textCol)
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy(col(idCol))
          .orderBy(col("tf").desc, col("df").asc, col("term").asc)))
      .where(col("rk") === 1)
      .select(col(idCol), col("term").as("top_term"), col("tf"), col("df"),
        round(col("score"), 6).as("tfidf"))
  }

  /** Skew guard for blocked pair joins: split degenerate blocks (a very
    * common name prefix at 100 TB) into tiles so no shuffle group holds
    * more than ~`maxBlock` rows of either side — about maxBlock² pairs,
    * whatever the data. SEMANTICS-PRESERVING — the classic manual
    * skew-join split, NOT a recall-lossy cap. Both sides are sized per
    * key and each hot block's L×R pair matrix is cut into a grid of
    * ceil(L/maxBlock) row-salts × ceil(R/maxBlock) column-salts: a left
    * row hashes into one row-salt (deterministic hash of the whole left
    * row) and replicates across the column-salts, a right row
    * symmetrically, and the join key gains (`__sl`, `__sr`). Every
    * (l, r) pair meets in EXACTLY one tile, so the output is
    * pair-for-pair identical to the plain equi-join. A key hot on one
    * side only gets a single-column grid; a cold key stays on the 1×1
    * tile (0, 0). The bound is statistical, not hard: salts are
    * hash-assigned, so a tile can exceed maxBlock rows by a small
    * factor. AQE's OptimizeSkewedJoin cannot do this — it splits skewed
    * *partitions*, and a single giant key stays in one task.
    *
    * Cost: one map-side-combinable count per side; hot-block rows
    * replicate ceil(other-side/maxBlock) times (replicated volume
    * L·ceil(R/m) + R·ceil(L/m), vs one task doing L·R work serially).
    * Cold keys pay one broadcast probe and a 1-element generator. The
    * hot-key frame broadcasts: at most N/maxBlock keys per side by
    * construction. Returns (saltedLeft, saltedRight, joinKeyNames);
    * callers join on the returned names and drop them. Left/right must
    * have disjoint non-key column names. */
  def saltBySize(left: DataFrame, right: DataFrame,
                 leftKeys: Seq[Column], rightKeys: Seq[Column],
                 maxBlock: Int): (DataFrame, DataFrame, Seq[String]) = {
    require(maxBlock >= 1, "maxBlock must be >= 1")
    require(leftKeys.nonEmpty && leftKeys.size == rightKeys.size,
      "key lists must be non-empty and align")
    // each side gains its aligned key expressions as `__bk<i>` columns;
    // rows whose key tuple has any null drop before sizing — they never
    // match the null-unsafe equi-join, and a mostly-null key would
    // otherwise be sized as one giant block
    val names = leftKeys.indices.map(i => s"__bk$i")
    def keyed(df: DataFrame, keys: Seq[Column]): DataFrame = df
      .select(df.columns.map(col) ++
        keys.zip(names).map { case (c, n) => c.as(n) }: _*)
      .where(names.map(col(_).isNotNull).reduce(_ && _))
    val (l, r) = (keyed(left, leftKeys), keyed(right, rightKeys))
    def sizes(side: DataFrame, out: String) = side
      .groupBy(names.map(col): _*)
      .agg(ceil(count(lit(1)) / lit(maxBlock.toDouble)).cast("int").as(out))
      .where(col(out) > 1)
    // per-key salt grid (nsl row-salts × nsr column-salts); keys hot on
    // neither side are absent (grid 1×1)
    val hot = sizes(l, "__nsl").join(sizes(r, "__nsr"), names.toSeq, "full")
      .select(names.map(col) :+
        coalesce(col("__nsl"), lit(1)).as("__nsl") :+
        coalesce(col("__nsr"), lit(1)).as("__nsr"): _*)
    val saltedL = l.join(broadcast(hot), names, "left")
      .withColumn("__sl", hashSalt(left, "__nsl"))
      .withColumn("__sr", replicate("__nsr"))
      .drop("__nsl", "__nsr")
    val saltedR = r.join(broadcast(hot), names, "left")
      .withColumn("__sr", hashSalt(right, "__nsr"))
      .withColumn("__sl", replicate("__nsl"))
      .drop("__nsl", "__nsr")
    (saltedL, saltedR, names ++ Seq("__sl", "__sr"))
  }

  /** A row's salt in its block: a hash of the whole `side` row modulo
    * the block's salt count column `n` (null = cold block, salt 0). */
  private def hashSalt(side: DataFrame, n: String): Column =
    when(col(n).isNull, lit(0)).otherwise(
      pmod(xxhash64(side.columns.map(col): _*), col(n).cast("long")).cast("int"))

  /** One copy of the row per salt of its block (cold block: one copy). */
  private def replicate(n: String): Column =
    explode(sequence(lit(0), coalesce(col(n), lit(1)) - 1))

  /** Equi-join `left` and `right` on aligned key expressions with the
    * [[saltBySize]] skew guard; output carries all left + right columns
    * (internal key/salt columns dropped). Pair-for-pair identical to
    * `left.join(right, leftKeys zip rightKeys map (l === r) reduce (&&))`. */
  def skewGuardedJoin(left: DataFrame, right: DataFrame,
                      leftKeys: Seq[Column], rightKeys: Seq[Column],
                      maxBlock: Int): DataFrame = {
    val (l, r, names) = saltBySize(left, right, leftKeys, rightKeys, maxBlock)
    l.join(r, names).drop(names: _*)
  }

  /** Multi-rule candidate generation — splink's
    * `blocking_rules_to_generate_predictions` union semantics, the
    * reference's actual candidate shape (it ORs 10 blocking rules,
    * eia_ferc1_model_config.py:12-33, consumed at
    * eia_ferc1_record_linkage.py:137-180): each rule is a conjunction of
    * aligned equi-key expressions; a pair matched by several rules is
    * kept ONCE, labeled `match_key` = the index of the FIRST rule that
    * matched (splink emits the same via sequential `AND NOT
    * previous-rule` SQL; union + min-rule dedup is the equivalent
    * declarative form) and `n_rules` = how many rules generated it.
    *
    * Plan: each side is computed once and tagged with one (rule, encoded
    * key) row per rule ([[encoded]]); ONE equi-join on (rule, key)
    * stands for all K rule joins, and ONE shuffle on the (leftId,
    * rightId) pair key runs the cross-rule dedup window. `maxBlock > 0`
    * guards that join against degenerate (rule, key) blocks with
    * [[skewGuardedJoin]] (≤ ~maxBlock² pairs per tile), which returns the
    * plain join's pairs. A rule set the encoding gate rejects (mismatched
    * or non-atomic key types) fails with the gate's message.
    *
    * Left/right must have disjoint column names (including the id
    * columns) that avoid the reserved tag names `__lrule`, `__lkey`,
    * `__rrule`, `__rkey` and `__rk`. `leftId` / `rightId` must each
    * UNIQUELY identify their side's rows (splink's `unique_id` contract):
    * the cross-rule dedup keeps one row per (leftId, rightId), so
    * duplicate ids would silently collapse distinct candidate rows. */
  def unionBlocks(left: DataFrame, right: DataFrame,
                  leftId: String, rightId: String,
                  rules: Seq[(Seq[Column], Seq[Column])],
                  maxBlock: Int = 0): DataFrame = {
    require(rules.nonEmpty, "need at least one blocking rule")
    val shared = left.columns.map(_.toLowerCase)
      .intersect(right.columns.map(_.toLowerCase))
    require(shared.isEmpty,
      s"unionBlocks needs disjoint left/right column names; both have ${shared.mkString(", ")}")
    val (lT, rT) = encoded(left, right, rules)
    val joined =
      if (maxBlock <= 0) lT.join(rT, col("__lrule") === col("__rrule") &&
        col("__lkey") === col("__rkey"))
      else skewGuardedJoin(lT, rT, Seq(col("__lrule"), col("__lkey")),
        Seq(col("__rrule"), col("__rkey")), maxBlock)
    val unioned = joined.select(left.columns.map(col) ++
      right.columns.map(col) :+ col("__lrule").as("match_key"): _*)
    val pair = Window.partitionBy(col(leftId), col(rightId))
    unioned
      .withColumn("n_rules", count(lit(1)).over(pair))
      .withColumn("__rn",
        row_number().over(pair.orderBy(col("match_key"))))
      .where(col("__rn") === 1)
      .drop("__rn")
  }

  /** Column names the (rule, key) tagging adds to its input sides. */
  private val tagNames = Set("__lrule", "__lkey", "__rrule", "__rkey", "__rk")

  /** Types with an injective string encoding under [[tagRules]] — the
    * precondition for the encoded-key join to replay the typed
    * equi-join exactly. */
  private def stringEncodable(t: DataType): Boolean = t match {
    case StringType | IntegerType | LongType | ShortType | ByteType |
         BooleanType | DateType | TimestampType | DoubleType | FloatType |
         _: DecimalType =>
      true
    case _ => false
  }

  /** The one (rule, key) blocking encoder behind [[unionBlocks]] and
    * [[blockProfile]]. The injectivity gate comes
    * first: every rule's aligned keys must share one [[stringEncodable]]
    * type on both sides — otherwise the typed join would coerce ('5' vs
    * 5.0) or compare structurally where the strings would not — and the
    * first rule that fails throws IllegalArgumentException naming the
    * rule and both sides' key types. Otherwise both sides come back
    * tagged by [[tagRules]]: left as (`__lrule`, `__lkey`), right as
    * (`__rrule`, `__rkey`). Input columns may not use the tag names. */
  private def encoded(left: DataFrame, right: DataFrame,
                      rules: Seq[(Seq[Column], Seq[Column])])
      : (DataFrame, DataFrame) = {
    val reserved = (left.columns ++ right.columns)
      .filter(c => tagNames(c.toLowerCase))
    require(reserved.isEmpty,
      s"blocking reserves the column names ${tagNames.toSeq.sorted.mkString(", ")}; got ${reserved.mkString(", ")}")
    val lt = keyTypes(left, rules.map(_._1))
    val rt = keyTypes(right, rules.map(_._2))
    def show(ts: Seq[DataType]) = ts.map(_.simpleString).mkString("(", ", ", ")")
    lt.zip(rt).zipWithIndex.foreach { case ((a, b), i) =>
      require(a == b && a.forall(stringEncodable),
        s"blocking rule $i has left key types ${show(a)} and right key " +
          s"types ${show(b)}; the (rule, key) encoding needs one " +
          "string-encodable atomic type per aligned key pair")
    }
    (tagRules(left, rules.map(_._1), lt, "__lrule", "__lkey"),
      tagRules(right, rules.map(_._2), rt, "__rrule", "__rkey"))
  }

  /** Every rule's key types over `df`, from one analysis of `df`. */
  private def keyTypes(df: DataFrame,
                       sides: Seq[Seq[Column]]): Seq[Seq[DataType]] = {
    val ts = df.select(sides.flatten: _*).schema.iterator.map(_.dataType)
    sides.map(_.map(_ => ts.next()))
  }

  /** Tag every row of `df` with one (rule index, key) row per rule whose
    * key tuple is fully non-null; `types` are the keys' types. A key
    * tuple encodes as array<string> (rule arity varies): Double/Float
    * -0.0 normalizes to 0.0 (the typed join's NormalizeFloatingNumbers;
    * NaN reads "NaN" on both sides, matching Spark's NaN = NaN join),
    * timestamps encode as epoch micros (their string form follows the
    * session time zone and repeats across a DST fall-back hour), and
    * any-null tuples drop (null keys never survive the null-unsafe
    * equi-join). The explode replicates each row ×|rules|, the same as a
    * grouping-sets Expand would. */
  private def tagRules(df: DataFrame, sides: Seq[Seq[Column]],
                       types: Seq[Seq[DataType]],
                       ruleCol: String, keyCol: String): DataFrame = {
    def enc(c: Column, t: DataType): Column = (t match {
      case DoubleType => when(c === lit(0.0d), lit(0.0d)).otherwise(c)
      case FloatType => when(c === lit(0.0f), lit(0.0f)).otherwise(c)
      case TimestampType => unix_micros(c)
      case _ => c
    }).cast("string")
    df.select(col("*"), explode(array(sides.zip(types).zipWithIndex.map {
        case ((ks, ts), i) =>
          struct(lit(i).as("r"),
            when(ks.map(_.isNotNull).reduce(_ && _),
              array(ks.zip(ts).map { case (k, t) => enc(k, t) }: _*)).as("k"))
      }: _*)).as("__rk"))
      .where(col("__rk.k").isNotNull)
      .select(col("*"), col("__rk.r").as(ruleCol), col("__rk.k").as(keyCol))
      .drop("__rk")
  }

  /** Blocking-rule pre-flight — splink's
    * `count_comparisons_from_blocking_rule` analysis (the tool used to
    * budget the reference's 10 prediction rules before running them):
    * for each rule, the candidate-pair volume computed from per-block
    * cardinalities — sum over blocks of nL·nR — WITHOUT materializing a
    * single pair. Each side is scanned once through the (rule, key)
    * encoder, ONE aggregation per side counts every rule's blocks, and
    * ONE join multiplies the per-block cardinalities. Returns one row per
    * rule: (match_key, n_blocks, n_pairs, max_block_pairs). Rejects rule
    * sets the encoding gate fails. */
  def blockProfile(left: DataFrame, right: DataFrame,
                   rules: Seq[(Seq[Column], Seq[Column])]): DataFrame = {
    val spark = left.sparkSession
    require(rules.nonEmpty, "need at least one blocking rule")
    val (lT, rT) = encoded(left, right, rules)
    def blockCounts(tagged: DataFrame, ruleCol: String, keyCol: String,
                    cnt: String): DataFrame =
      tagged.groupBy(col(ruleCol).as("__rule"), col(keyCol).as("__key"))
        .agg(count(lit(1)).as(cnt))
    val lc = blockCounts(lT, "__lrule", "__lkey", "__nl")
    val rc = blockCounts(rT, "__rrule", "__rkey", "__nr")
    // per-block products and their sum are computed in decimal(38,0):
    // at the 100 TB scale this tool exists for, a single hot block's
    // nl*nr (or the rule total) can exceed Long and non-ANSI Long
    // arithmetic would wrap SILENTLY NEGATIVE — garbage exactly when
    // the budget matters. The final cast back to long (the driver's
    // BIGINT oracle type) nulls on overflow instead of wrapping, so an
    // over-budget rule reads as an obviously-broken null, never as a
    // plausible small number.
    val prof = lc.join(rc, Seq("__rule", "__key"))
      .select(col("__rule"),
        (col("__nl").cast("decimal(38,0)") * col("__nr")).as("__bp"))
      .groupBy(col("__rule"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(col("__bp")).cast("long").as("n_pairs"),
        max(col("__bp")).cast("long").as("max_block_pairs"))
    // a rule with zero joined blocks must still report its row (the old
    // per-rule global aggregates emitted one row per rule unconditionally)
    spark.range(rules.size)
      .select(col("id").cast("int").as("match_key"))
      .join(prof, col("match_key") === col("__rule"), "left")
      .select(col("match_key"),
        coalesce(col("n_blocks"), lit(0L)).as("n_blocks"),
        col("n_pairs"), col("max_block_pairs"))
  }

  /** Blocked fuzzy join: equi-join on `blockKeys`, keep pairs with
    * levenshtein(leftText, rightText) <= maxDist. Reference:
    * StringSimilarityScorer over blocked candidates
    * (`/root/reference/src/pudl/analysis/record_linkage/embed_dataframe.py:356-500`).
    * `maxBlock > 0` turns on the [[skewGuardedJoin]] skew guard (identical
    * results, bounded shuffle groups); 0 = plain equi-join (default —
    * the oracle lanes keep the unguarded plan their PlanSpec pins). */
  def blockedFuzzyJoin(left: DataFrame, right: DataFrame, blockKeys: Seq[String],
                       leftText: String, rightText: String,
                       maxDist: Int, maxBlock: Int = 0): DataFrame =
    blockedPairs(left, right, blockKeys, maxBlock)
      .withColumn("name_dist", levenshtein(col(leftText), col(rightText)))
      .where(col("name_dist") <= maxDist)

  /** Blocked fuzzy join under Jaro–Winkler — the reference's actual string
    * metric (recordlinkage's jarowinkler,
    * `/root/reference/src/pudl/analysis/record_linkage/embed_dataframe.py:346-371`):
    * equi-join on `blockKeys`, keep pairs with similarity >= `minSim`. The
    * native [[graft.plans.JaroWinkler]] expression matches DuckDB's
    * `jaro_winkler_similarity` bit-for-bit, so the operator is
    * SQL-oracle-replayable. `maxBlock` as in [[blockedFuzzyJoin]]. */
  def blockedFuzzyJoinJw(left: DataFrame, right: DataFrame,
                         blockKeys: Seq[String], leftText: String,
                         rightText: String, minSim: Double,
                         maxBlock: Int = 0): DataFrame =
    blockedPairs(left, right, blockKeys, maxBlock)
      .withColumn("name_sim",
        graft.plans.JaroWinkler(col(leftText), col(rightText)))
      .where(col("name_sim") >= minSim)

  /** USING-join on shared `blockKeys` column names, optionally skew-
    * guarded; output schema matches `left.join(right, blockKeys)`
    * (one copy of each key column). */
  private def blockedPairs(left: DataFrame, right: DataFrame,
                           blockKeys: Seq[String], maxBlock: Int): DataFrame =
    if (maxBlock <= 0) left.join(right, blockKeys)
    else {
      // rename right's key columns first so the guarded join never holds
      // two attributes with the same name; drop the copies afterwards —
      // same columns as `left.join(right, blockKeys)` (one key copy)
      val rkNames = blockKeys.map(k => s"__rk_$k")
      val renamed = blockKeys.zip(rkNames).foldLeft(right) {
        case (d, (k, rk)) => d.withColumnRenamed(k, rk)
      }
      skewGuardedJoin(left, renamed,
          blockKeys.map(col), rkNames.map(col), maxBlock)
        .drop(rkNames: _*)
    }

  /** Logistic match score over fixed-weight features — the shape of the
    * reference's pair-match model
    * (`/root/reference/src/pudl/analysis/record_linkage/eia_ferc1_record_linkage.py:137-393`)
    * with deterministic literal weights (training lives in MLlib's
    * LogisticRegression when labels exist). */
  def logisticScore(features: Seq[(Column, Double)], bias: Double): Column = {
    val z = features.map { case (f, w) => f * w }.reduce(_ + _) + lit(bias)
    lit(1.0) / (lit(1.0) + exp(-z))
  }

  /** Train the pair-match logistic model in-engine — the reference's
    * train step (`/root/reference/src/pudl/analysis/record_linkage/
    * eia_ferc1_record_linkage.py:137-393`, LogisticRegression over
    * labeled candidate pairs) — and hand back `(weights, intercept)` for
    * plan-time-literal scoring through [[logisticScore]]. Unregularized
    * MLE with a tight tolerance: on a saturated design (discrete
    * features covering every cell) the fitted probabilities equal the
    * empirical cell rates exactly, which is what makes the train→score
    * loop oracle-replayable (the SQL recomputes the cell rates instead
    * of re-running LBFGS).
    *
    * Scale: training data is the BLOCKED candidate-pair frame (never the
    * cross product); LBFGS cost is one treeAggregate pass per iteration
    * over (features, label) — a few dozen passes over an
    * already-reduced frame. The collect is the coefficient vector:
    * O(n_features). */
  def trainPairMatcher(pairs: DataFrame, featureCols: Seq[String],
                       labelCol: String, maxIter: Int = 500,
                       tol: Double = 1e-12): (Seq[Double], Double) = {
    import org.apache.spark.ml.classification.LogisticRegression
    import org.apache.spark.ml.feature.VectorAssembler
    // localCheckpoint the (features, label) projection: every LBFGS
    // iteration re-reads the training frame, and without materialization
    // each pass would re-run the candidate-pair lineage (blocked join +
    // string distances) — the measured cost of q158 before this was the
    // join × iterations, not the optimizer.
    // coalesce(1): (features, label) doubles are tiny at every caller's
    // scale, and 1 task per LBFGS pass beats 32 near-empty tasks on
    // scheduling latency.
    val training = pairs.select((featureCols :+ labelCol).map(c =>
        col(c).cast("double").as(c)): _*)
      .coalesce(1).localCheckpoint()
    try {
      val assembled = new VectorAssembler().setInputCols(featureCols.toArray)
        .setOutputCol("__features")
        .transform(training)
      val model = new LogisticRegression()
        .setFeaturesCol("__features").setLabelCol(labelCol)
        .setMaxIter(maxIter).setTol(tol).setRegParam(0.0)
        .fit(assembled)
      (model.coefficients.toArray.toSeq, model.intercept)
    } finally graft.util.SessionHygiene.releaseCheckpoint(training)
  }

  /** Cross-year entity linkage — the full `link_ids_cross_year` graph
    * (`/root/reference/src/pudl/analysis/record_linkage/link_cross_year.py:299-360`)
    * re-expressed as a composition of the implemented distributed stages:
    *
    *  1. **Edges with year penalty**: banded sign-bit blocking +
    *     exact-cosine filter ([[Similarity.cosineNearDupPairs]]) replaces
    *     the O(n²) `DistanceMatrix` memmap; the reference's same-year
    *     distance penalty (`compute_distance_with_year_penalty`) becomes
    *     dropping same-year edges — the penalty exists precisely so DBSCAN
    *     never merges two same-year records directly.
    *  2. **Cluster**: eps-graph connected components
    *     ([[ConnectedComponents.run]]) ≈ DBSCAN with min_samples≈1
    *     (deviation documented at `cluster_records_dbscan`).
    *  3. **Split**: same-year records can still chain together
    *     transitively, so clusters with duplicate years are re-split
    *     greedily per cluster ([[NearDup.splitClusters]]).
    *  4. **Orphans**: unclustered records join the label of their nearest
    *     clustered neighbor when cosine ≥ `assignThreshold` (the
    *     reference's looser agglomerative `distance_threshold = 0.5`),
    *     else keep a singleton label — single-linkage nearest-neighbor
    *     stands in for average-linkage agglomerative (deviation noted at
    *     `nearestAssign`).
    *
    * The stable `record_label` is the minimum member id of the final
    * cluster — deterministic under any partitioning.
    *
    * `blockOrphans = true` (the DEFAULT — this is the 100 TB path) routes
    * step 4 through the banded LSH candidate join
    * ([[Similarity.nearestAssignBlocked]], same plane family as step 1);
    * the orphans × clustered cross join never forms. Pass `false` for the
    * exact brute-force nearest-neighbor semantics (bounded corpora /
    * oracle replay — q97 does this explicitly).
    *
    * @return (idCol, yearCol, record_label) */
  def linkIdsCrossYear(records: DataFrame, idCol: String, yearCol: String,
                       embCol: String, dim: Int, simThreshold: Double,
                       assignThreshold: Double,
                       nBits: Int = 24, bands: Int = 4,
                       blockOrphans: Boolean = true): DataFrame = {
    val ids = records.select(col(idCol).cast("long").as(idCol),
      col(yearCol), col(embCol))
    // 1. blocked near-pair edges, same-year pairs vetoed
    val edges = Similarity
      .cosineNearDupPairs(ids, idCol, embCol, dim, simThreshold, nBits, bands)
      .join(ids.select(col(idCol).as("id_a"), col(yearCol).as("__ya")), "id_a")
      .join(ids.select(col(idCol).as("id_b"), col(yearCol).as("__yb")), "id_b")
      .where(col("__ya") =!= col("__yb"))
      .select("id_a", "id_b")
    // 2. cluster
    val cc = ConnectedComponents.run(edges, "id_a", "id_b")
      .withColumnRenamed("v", idCol)
    // 3. re-split clusters that chained duplicate years together
    val clustered = ids.join(cc, Seq(idCol))
    // (id, label) pairs are reused by two downstream branches (orphan
    // scoring, the final union); the lazy persist below shares the split
    // window's result between them without its own materialization round.
    // Linkage labels are ids+longs — tiny relative to the embedding
    // corpus at any scale.
    // One exchange serves BOTH windows below (round 18): hash on
    // component alone clusters every (component, year) group AND every
    // (component, sub_cluster) group, so the split row_number and the
    // record_label min reuse it instead of exchanging twice. Components
    // are eps-graph clusters (entity × years) — bounded by construction,
    // so keying the shuffle on component alone cannot create a hot
    // partition a (component, year) key would have split. The windowed
    // greedy first-fit guarantees one record per year per sub-cluster
    // and replays in SQL (q97's oracle); keepKey carries the
    // original-typed year through, which removes the final reattach join
    // over the whole record set.
    val split = NearDup.splitClusters(clustered.repartition(col("component")),
      "component", idCol, yearCol, keepKey = true)
    // CONTENTION SHAPE: every eager materialization here is a driver
    // barrier whose cost is the slowest straggler's — under host
    // contention the lane's wall time multiplies by the number of
    // barriers, not by its work (driver-vs-quiet gaps of 2-5× over three
    // rounds with untouched code). So `labeled` is persisted LAZILY (the
    // orphan-scoring branch and the final union both read it, but its
    // blocks materialize inside the one final job instead of in a
    // dedicated round), and the assigned/singleton split is a single
    // left join on the top-1 frame rather than an eager checkpoint plus
    // an anti-join round. The whole stage-3/4 composition now runs in
    // ONE blocking job (the returned frame's localCheckpoint).
    val labeled = split
      .withColumn("record_label", min(col(idCol)).over(
        Window.partitionBy(col("component"), col("sub_cluster"))))
      .select(col(idCol), col(yearCol), col("record_label"))
      .persist()
    // 4. orphans: nearest clustered neighbor if close enough, else singleton
    val orphans = ids.join(cc.select(idCol), Seq(idCol), "left_anti")
    val labeledRows = ids.join(
      labeled.select(col(idCol), col("record_label")), Seq(idCol))
    val nearest =
      if (blockOrphans) Similarity.nearestAssignBlocked(
        orphans, labeledRows, idCol, embCol, "record_label", dim, nBits, bands)
      else Similarity.nearestAssign(
        orphans, labeledRows, idCol, embCol, "record_label")
    // nearest is top-1 per orphan, so the left join matches ≤ 1 row: an
    // orphan whose best cosine clears the threshold takes its neighbor's
    // label, every other orphan keeps its own id as a singleton label —
    // same pair set as the old eager assigned-checkpoint + anti-join,
    // without the two extra blocking rounds
    val orphanLabels = orphans.select(col(idCol), col(yearCol))
      .join(nearest.where(col("cosine") >= assignThreshold)
          .select(col("orphan_id").as(idCol),
            col("assigned_cluster").as("__asg")),
        Seq(idCol), "left")
      .select(col(idCol), col(yearCol),
        coalesce(col("__asg"), col(idCol).cast("long")).as("record_label"))
    // materialize the (small: ids + labels) result eagerly, then release
    // the shared intermediate — nothing persisted outlives the call except
    // the returned frame's own blocks (harness-released per query).
    // labeled ∪ orphanLabels covers every id exactly once and both
    // branches carry the year, so the old (ids ⋈ union) reattach join —
    // one more shuffle/broadcast stage over the whole record set — is
    // gone (round 18); rows are identical by construction.
    val out = labeled.unionByName(orphanLabels)
      .select(col(idCol), col(yearCol), col("record_label"))
      .localCheckpoint()
    labeled.unpersist(blocking = false)
    out
  }
}
