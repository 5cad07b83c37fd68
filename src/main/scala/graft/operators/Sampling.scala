package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling/splitting for training-data pipelines.
  *
  * Random splits (`df.randomSplit`) depend on partitioning and rerun
  * nondeterministically; at 100 TB the split must be a PURE FUNCTION of
  * the record id so that (a) reruns and backfills land every doc in the
  * same split, (b) adding data never moves old docs between splits, and
  * (c) any engine can recompute membership. The standard recipe is a
  * salted hash bucket per id — here the portable MD5-prefix hash
  * ([[graft.functions.PortableHash]]), so DuckDB replays membership
  * bit-identically.
  */
object Sampling {

  /** 0..99 hash bucket for an id: hex60(salt + "_" + id) mod 100. */
  def splitBucket(idCol: Column, salt: String): Column =
    graft.functions.PortableHash.hex60(
      concat(lit(s"${salt}_"), idCol.cast("string"))) % 100

  /** Deterministic stratified sampling: keep `percents(stratum)` % of each
    * stratum's rows (0 for strata not listed, `defaultPercent` otherwise),
    * selected by the same salted hash bucket as [[deterministicSplit]] —
    * so the sample is rerun-stable, composes with split assignment (use a
    * different salt), and is reproducible in any engine. The standard
    * corpus-mixing op: up/down-weight languages or sources without RNG
    * state; one narrow filter, no shuffle. */
  def stratifiedSample(df: DataFrame, idCol: String, strataCol: String,
                       percents: Map[String, Int], defaultPercent: Int = 0,
                       salt: String = "strat"): DataFrame = {
    require((percents.values ++ Seq(defaultPercent)).forall(p =>
      p >= 0 && p <= 100), "percents must be within 0..100")
    val bucket = splitBucket(col(idCol), salt)
    val threshold = percents.foldLeft(lit(defaultPercent)) {
      case (acc, (stratum, pct)) =>
        when(col(strataCol) === stratum, lit(pct)).otherwise(acc)
    }
    df.withColumn("split_bucket", bucket)
      .where(col("split_bucket") < threshold)
  }

  /** Temperature-weighted domain resampling — the corpus-mixing pass that
    * rebalances a skewed multi-domain corpus toward the flattened mixture
    * `w_d ∝ n_d^alpha` (alpha < 1 upweights rare domains; the "sampling
    * temperature" of multilingual/multi-source pretraining, e.g. Conneau &
    * Lample, arXiv:1901.07291 §3.1). One pass: per-domain counts (tiny
    * agg), a 1-row totals cross join, per-domain keep probability
    * `p_d = min(1, budgetFrac · N · w_d / n_d)` broadcast back onto the
    * corpus, and a deterministic per-row uniform from the salted portable
    * hash — so membership is a pure function of the id (rerun-stable,
    * backfill-stable, replayable by any engine), never an RNG state.
    *
    * Exactness: the domain weight is carried as `round(n_d^alpha · 1e6)`
    * (a long), so the cross-domain sum is exact integer addition — immune
    * to float summation order — and `p_d` is one fixed sequence of double
    * ops on identical integers, reproduced bit-for-bit by the SQL replay.
    * Fixture-scale counts keep `score·N` far inside long range; at true
    * corpus scale swap the 1e6 scale for a wider one or aggregate scores
    * as DECIMAL.
    *
    * Output: the kept rows with `n_domain`, `keep_p`, and the uniform `u`
    * (u < keep_p). Scale shape: two tiny aggs + one broadcast join + a
    * narrow filter — no shuffle of the corpus itself. */
  def temperatureResample(df: DataFrame, idCol: String, domainCol: String,
                          alpha: Double, budgetFrac: Double,
                          salt: String = "temp"): DataFrame = {
    require(alpha > 0 && alpha <= 1, "alpha must be in (0, 1]")
    require(budgetFrac > 0 && budgetFrac <= 1, "budgetFrac must be in (0, 1]")
    val stats = df.groupBy(col(domainCol))
      .agg(count(lit(1)).as("n_domain"))
      .withColumn("__score",
        round(pow(col("n_domain"), alpha) * 1e6).cast("long"))
    val totals = stats.agg(sum(col("n_domain")).as("__N"),
      sum(col("__score")).as("__S"))
    val probs = stats.crossJoin(broadcast(totals))
      .withColumn("keep_p", least(lit(1.0),
        lit(budgetFrac) * col("__N") * col("__score") /
          (col("__S") * col("n_domain"))))
      .select(col(domainCol), col("n_domain"), col("keep_p"))
    val u = graft.functions.PortableHash.hex60(
      concat(lit(s"${salt}_"), col(idCol).cast("string"))) /
      lit(1152921504606846976.0) // 2^60
    df.join(broadcast(probs), Seq(domainCol))
      .withColumn("u", u)
      .where(col("u") < col("keep_p"))
  }

  /** Assign each row to a named split by hash bucket. `splits` are
    * (name, percent) in priority order, summing to ≤ 100 (a shortfall
    * leaves a NULL holdout). One narrow projection — no shuffle, no RNG
    * state, stable under any partitioning. */
  def deterministicSplit(df: DataFrame, idCol: String,
                         splits: Seq[(String, Int)],
                         salt: String = "split"): DataFrame = {
    require(splits.nonEmpty && splits.map(_._2).sum <= 100,
      "split percents must sum to <= 100")
    require(splits.forall(_._2 >= 0),
      "split percents must be non-negative") // a negative percent would
    // silently produce non-monotonic cuts and steal its neighbor's range
    val bucket = splitBucket(col(idCol), salt)
    val cuts = splits.scanLeft(0)(_ + _._2).tail // cumulative upper bounds
    val assign = splits.zip(cuts).foldLeft(Option.empty[Column]) {
      case (acc, ((name, _), hi)) =>
        Some(acc match {
          case None => when(bucket < hi, lit(name))
          case Some(c) => c.when(bucket < hi, lit(name))
        })
    }.get
    df.withColumn("split_bucket", bucket).withColumn("split", assign)
  }

  /** Fixed-SIZE deterministic sample per stratum: keep exactly
    * `min(cap, |stratum|)` rows of each stratum — "2M docs per language"
    * style corpus caps, where [[stratifiedSample]]'s fixed RATE can't hit
    * an absolute budget. Selection order is the salted portable hash of
    * the id (ties by id), so membership is a pure function of the corpus —
    * rerun-stable, engine-replayable, and ADDING data only ever swaps the
    * marginal members (each stratum keeps the cap-lowest hashes; this is
    * bottom-k sampling, the fixed-size analogue of a hash-threshold
    * filter).
    *
    * Scale: one hash-partitioned window per stratum. Rank truncation
    * composes with partial TopK: Spark pushes a per-partition
    * rank-cap under the window when the filter bounds rank
    * (WindowGroupLimit), so a billion-row stratum flows cap rows per
    * input partition into the sort, not the stratum. Output adds
    * `sample_rank` (1-based) for downstream reproducibility audits. */
  def capPerStratum(df: DataFrame, idCol: String, strataCol: String,
                    cap: Int, salt: String = "cap"): DataFrame = {
    require(cap >= 1, "cap must be >= 1")
    val h = graft.functions.PortableHash.hex60(
      concat(lit(s"${salt}_"), col(idCol).cast("string")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol)).orderBy(h.asc, col(idCol).asc)
    df.withColumn("sample_rank", row_number().over(w))
      .where(col("sample_rank") <= cap)
  }

  /** Leakage-safe train/val/test split: assign splits per NEAR-DUP CLUSTER,
    * not per document. A per-id split leaks whenever two near-duplicates
    * straddle the train/test cut — the eval set then contains
    * slightly-mutated training rows and metrics are inflated (the
    * motivation for fuzzy-dedup-before-split in every published pretraining
    * pipeline; near-dup membership comes from the same n-gram Jaccard
    * machinery as [[graft.dedup.NearDup.jaccardPairs]]).
    *
    * Composition: Jaccard pair edges → connected components
    * ([[graft.graph.ConnectedComponents.run]], star-contraction at scale) →
    * canonical id per doc → the SAME salted-hash bucket as
    * [[deterministicSplit]], keyed on the CANONICAL id, so every member of
    * a near-dup cluster lands in the same split and singleton docs (the
    * overwhelming majority) hash exactly as they would under the plain
    * split. Pure function of corpus content — rerun- and backfill-stable.
    *
    * Output: (id, canonical_id, split_bucket, split). */
  def leakageSafeSplit(df: DataFrame, idCol: String, textCol: String,
                       splits: Seq[(String, Int)], n: Int = 3,
                       thresholdNum: Int = 1, thresholdDen: Int = 4,
                       salt: String = "split"): DataFrame = {
    require(splits.nonEmpty && splits.map(_._2).sum <= 100,
      "split percents must sum to <= 100")
    require(splits.forall(_._2 >= 0), "split percents must be non-negative")
    val pairs = graft.dedup.NearDup.jaccardPairs(
      df, idCol, textCol, n, thresholdNum, thresholdDen)
    val cc = graft.graph.ConnectedComponents.run(
      pairs.select(col("id_a").as("src"), col("id_b").as("dst")),
      "src", "dst")
    val bucket = splitBucket(col("canonical_id"), salt)
    val cuts = splits.scanLeft(0)(_ + _._2).tail
    val assign = splits.zip(cuts).foldLeft(Option.empty[Column]) {
      case (acc, ((name, _), hi)) =>
        Some(acc match {
          case None => when(bucket < hi, lit(name))
          case Some(c) => c.when(bucket < hi, lit(name))
        })
    }.get
    df.select(col(idCol))
      .join(cc, col(idCol) === cc("v"), "left")
      .withColumn("canonical_id", coalesce(col("component"), col(idCol)))
      .withColumn("split_bucket", bucket)
      .withColumn("split", assign)
      .select(col(idCol), col("canonical_id"), col("split_bucket"),
        col("split"))
  }

  /** Quality-ranked selection under a global token budget — "take the best
    * documents until N tokens": rank the corpus by (score desc, id asc)
    * and keep every document whose preceding cumulative token count is
    * still below `budget` (so the straddler that crosses the line is
    * kept and the budget is met or minimally exceeded). Determinism: the
    * order is total, so the selected set is a pure function of the corpus.
    *
    * Scale shape — the naive form (one global-order window) collapses the
    * corpus into a single partition. Instead, the one-domain case of
    * [[cutoffSelect]]: coarse score buckets `floor(score·nBuckets)`,
    * walked best-first, find the cutoff bucket where the budget line
    * falls; docs in better buckets are kept by a narrow filter and ONLY
    * the cutoff bucket — 1/nBuckets of the corpus in expectation — is
    * exactly ranked by a window to place the line. Because floor is
    * monotone, bucket order refines to the global order, so the result
    * is IDENTICAL to the naive global window (the SQL oracle replays the
    * naive form). The budget is a one-row literal frame, so building the
    * plan runs no job.
    *
    * `scoreCol` must be in [0, 1] (e.g. [[graft.text.TextAnalysis
    * .qualityScore]]); a null score fails the query. Output: all rows
    * with a `selected` flag. */
  def budgetSelect(df: DataFrame, idCol: String, tokenCol: String,
                   scoreCol: String, budget: Long,
                   nBuckets: Int = 1000): DataFrame = {
    require(budget >= 0 && nBuckets >= 1, "need budget >= 0, nBuckets >= 1")
    val sp = df.sparkSession
    import sp.implicits._
    val score = nonNull(col(scoreCol),
      s"budgetSelect: null value in column $scoreCol")
    cutoffSelect(df, lit(0), -floor(score * nBuckets).cast("long"),
      Seq(col(scoreCol).desc, col(idCol).asc), tokenCol,
      Seq((0, budget)).toDF("domain", "budget"))
  }

  /** Domain-mixture selection to per-domain token budgets — the corpus
    * mixing step of large-scale training pipelines (The Pile, Dolma:
    * target weights per source × a global token budget → how many tokens
    * each domain contributes): keep each domain's docs in deterministic
    * salted-hash order until that domain's token budget is spent. A doc
    * is kept iff the cumulative tokens of hash-earlier same-domain docs
    * stay under the budget — rerun-stable, backfill-stable, and
    * engine-replayable (the hash IS the shuffle).
    *
    * Scale shape — [[cutoffSelect]] per domain: docs land in `nBuckets`
    * ranges of the hash (high bits, so bucket order == hash order), and
    * only each domain's ONE boundary bucket pays a row-level window.
    * Everything else is a comparison against a broadcast cutoff — no
    * global sort, no per-domain full window, skew-immune (hash buckets
    * are uniform within every domain) — and the budgets may themselves be
    * a lazy aggregate of the corpus: nothing reaches the driver.
    *
    * `budgets` is (domain, budget), one row per domain, matched against
    * `strataCol`. Domains absent from it are dropped (selected = false);
    * a null id fails the query. Output: input + (mix_bucket, selected). */
  def mixtureSelect(df: DataFrame, idCol: String, strataCol: String,
                    tokenCol: String, budgets: DataFrame,
                    salt: String = "mix", nBuckets: Int = 1024): DataFrame = {
    require(nBuckets >= 2 && (nBuckets & (nBuckets - 1)) == 0,
      "nBuckets must be a power of two (bucket = high hash bits)")
    val shiftBits = 60 - Integer.numberOfTrailingZeros(nBuckets)
    val u = graft.functions.PortableHash.hex60(
      concat(lit(s"${salt}_"), col(idCol).cast("string")))
    val base = df.withColumn("__u", u)
      .withColumn("mix_bucket", shiftright(col("__u"), shiftBits))
    cutoffSelect(base, col(strataCol), nonNull(col("mix_bucket"),
          s"mixtureSelect: null value in column $idCol"),
        Seq(col("__u").asc, col(idCol).asc), tokenCol, budgets)
      .drop("__u")
  }

  /** `c`, failing the query with `msg` on a null. */
  private def nonNull(c: Column, msg: String): Column =
    when(c.isNull, raise_error(lit(msg))).otherwise(c)

  /** The budget cutoff behind [[budgetSelect]] and [[mixtureSelect]]:
    * within each domain, buckets are walked in ascending order to the
    * first one whose running token total reaches the domain's budget —
    * the cut. Rows in earlier buckets are kept, rows in later ones are
    * not, and only the cut bucket's rows pay a row-level window, ordered
    * by `within`, to place the line. The decision stays in the plan, as
    * in the q161 oracle: per-(domain, bucket) token totals meet the
    * budgets in one per-domain aggregate, a running sum over each
    * domain's buckets finds the cut, and the cuts broadcast back onto the
    * rows — no collect, no driver loop.
    *
    * `budgets` is (domain, budget) by position. A domain missing from it
    * is dropped, a listed domain whose total is below its budget is kept
    * whole, and budget 0 keeps nothing. A null domain, a duplicate domain
    * or a null budget in `budgets` fails the query with a message that
    * names the column; `bucket` must already fail on a null.
    * Output: `df` + `selected`. */
  private def cutoffSelect(df: DataFrame, domain: Column, bucket: Column,
                           within: Seq[Column], tokenCol: String,
                           budgets: DataFrame): DataFrame = {
    require(budgets.columns.length == 2,
      "budgets must have two columns: (domain, budget)")
    val Array(bd, bb) = budgets.columns
    val W = org.apache.spark.sql.expressions.Window
    val none = lit(null).cast("long")
    val rows = df.withColumn("__d", domain).withColumn("__b", bucket)
    // one row per domain: its bucket totals, its budget and the number of
    // budget rows naming it. The budgets join the totals as a union, so
    // one aggregate both collects the totals and counts the budgets.
    val budgetRows = budgets.select(
      nonNull(col(bd), s"budgets: null value in column $bd").as("__d"),
      none.as("__b"), none.as("__t"),
      nonNull(col(bb), s"budgets: null value in column $bb")
        .cast("long").as("__budget"))
    val perDomain = rows.groupBy(col("__d"), col("__b"))
      .agg(sum(col(tokenCol)).cast("long").as("__t"))
      .withColumn("__budget", none)
      .unionByName(budgetRows)
      .groupBy(col("__d"))
      .agg(array_sort(collect_list(when(col("__b").isNotNull,
          struct(col("__b"), col("__t"))))).as("__bt"),
        count(col("__budget")).as("__n"), max(col("__budget")).as("__budget"))
    // the walk: the totals in bucket order, folded into a running sum whose
    // first bucket at or over the budget is the cut, with the tokens before
    // it. A fold over the totals grouped by domain, not a window
    // partitioned by it: Catalyst drops a constant partition key
    // (budgetSelect's one domain) and would run the window in one
    // partition.
    val walk = aggregate(col("__bt"),
      struct(lit(0L).as("run"), none.as("cut"), none.as("before")),
      (acc, x) => {
        val reached = acc("cut").isNull &&
          acc("run") + x("__t") >= col("__budget")
        struct((acc("run") + x("__t")).as("run"),
          when(reached, x("__b")).otherwise(acc("cut")).as("cut"),
          when(reached, acc("run")).otherwise(acc("before")).as("before"))
      })
    val cuts = perDomain
      .select(col("__d"), when(col("__n") > 1, raise_error(
          concat(lit(s"budgets: duplicate value in column $bd: "),
            col("__d").cast("string")))).otherwise(col("__budget"))
          .as("__budget"), walk.as("__w"))
      .select(col("__d"), col("__budget"), col("__w.cut").as("__cut"),
        col("__w.before").as("__cut_before"))
    val joined = rows.join(broadcast(cuts), Seq("__d"), "left")
    val w = W.partitionBy(col("__d"), col("__b")).orderBy(within: _*)
      .rowsBetween(W.unboundedPreceding, -1)
    // Both branches broadcast the cuts through ONE exchange only if they
    // join the same way and read the same columns: the boundary test is
    // not a bare equality (as one it would become a hash-join key on the
    // cut), and the other branch tests `__cut_before`, null exactly when
    // `__cut` is, so column pruning keeps it on both sides.
    val boundary = joined.where(coalesce(col("__b") === col("__cut"), lit(false)))
      .withColumn("selected", col("__cut_before") +
        coalesce(sum(col(tokenCol)).over(w), lit(0L)) < col("__budget"))
    joined.where(col("__cut").isNull || col("__b") =!= col("__cut"))
      .withColumn("selected", col("__budget").isNotNull &&
        (col("__cut_before").isNull || col("__b") < col("__cut")))
      .unionByName(boundary)
      .drop("__d", "__b", "__budget", "__cut", "__cut_before")
  }

  /** Weighted sampling WITHOUT replacement, k per stratum — the
    * exponential-keys scheme of Efraimidis & Spirakis (*Weighted random
    * sampling with a reservoir*, IPL 97(5), 2006): draw u_i ~ U(0,1) per
    * row, rank by key u_i^(1/w_i), keep the stratum's top k. Inclusion
    * probability is proportional to weight at every prefix, which is the
    * mixing primitive "sample k docs per language, longer docs
    * proportionally more often" needs.
    *
    * Determinism + portability: u_i is NOT an RNG draw — it is the salted
    * portable hash mapped into (0,1) as `(h mod 2^52 + 0.5) / 2^52`
    * (exact double: 52-bit mantissa, never 0 or 1), so membership is a
    * pure function of (salt, id) and the SQL twin replays it. Ranking
    * uses `ln(u)/w` — the log of the ES key, same total order (ln is
    * monotone; both negative-domain divisions by w > 0 preserve it) —
    * rounded to 8 decimals with (id asc) tiebreak so the two engines'
    * last-ulp `ln` differences cannot reorder ranks.
    *
    * Scale: identical shape to [[capPerStratum]] — one hash-partitioned
    * window per stratum, and the `rank <= k` filter gets Spark's
    * WindowGroupLimit partial rank-cap below the exchange, so each mapper
    * forwards at most k rows per stratum. Output adds (sample_key,
    * sample_rank). Rows with NULL or non-positive weight are EXCLUDED
    * (their ES inclusion probability is zero). */
  def weightedSample(df: DataFrame, idCol: String, strataCol: String,
                     weightCol: String, k: Int,
                     salt: String = "wsamp"): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val h = graft.functions.PortableHash.hex60(
      concat(lit(s"${salt}_"), col(idCol).cast("string")))
    val u = (pmod(h, lit(4503599627370496L)).cast("double") + 0.5) /
      4503599627370496.0
    val key = round(log(u) / col(weightCol).cast("double"), 8)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol)).orderBy(key.desc, col(idCol).asc)
    // ES keys are only defined for w > 0: w = 0 is a NULL key (the row
    // would vanish silently) and w < 0 flips ln(u)/w POSITIVE, ranking
    // negative-weight rows FIRST. Exclude both explicitly — the ES
    // inclusion probability of a non-positive weight is 0 by definition
    // — and null weights with them.
    df.where(col(weightCol).isNotNull && col(weightCol).cast("double") > 0)
      .withColumn("sample_key", key)
      .withColumn("sample_rank", row_number().over(w))
      .where(col("sample_rank") <= k)
  }

  /** Fractional epoch upsampling — the data-mixing step of LLaMA-style
    * training recipes: each domain gets a target epoch count e (e.g.
    * wikipedia 2.45 epochs), and every doc is emitted floor(e) times
    * plus one extra copy with probability frac(e), decided by a
    * deterministic per-doc coin (portable-hash uniform, the
    * [[temperatureResample]] discipline) — so the domain's expected
    * multiplicity is exactly e and every rerun/retry reproduces the
    * identical corpus. `copy_idx` (0-based) disambiguates repeats for
    * downstream position keys and shard shuffles; domains absent from
    * `epochs` are dropped (epoch 0).
    *
    * Scale: one broadcast of the (tiny) epoch map + one generator — the
    * corpus itself never shuffles; output volume is Σ_d e_d·|d| by
    * construction. Dyadic epoch values (k/2^n) replay exactly in any
    * engine's double arithmetic. */
  def epochUpsample(df: DataFrame, idCol: String, domainCol: String,
                    epochs: Map[String, Double],
                    salt: String = "epoch"): DataFrame = {
    require(epochs.values.forall(_ >= 0), "epoch targets must be >= 0")
    val spark = df.sparkSession
    import spark.implicits._
    val eDf = epochs.toSeq.toDF(domainCol, "target_epochs")
    val u = graft.functions.PortableHash.hex60(
      concat(lit(s"${salt}_"), col(idCol).cast("string"))) /
      lit(1152921504606846976.0) // 2^60
    df.join(broadcast(eDf), Seq(domainCol))
      .withColumn("n_copies",
        (floor(col("target_epochs")) +
          when(u < col("target_epochs") - floor(col("target_epochs")), 1L)
            .otherwise(0L)).cast("int"))
      .where(col("n_copies") > 0)
      .withColumn("copy_idx",
        explode(sequence(lit(0), col("n_copies") - 1)))
  }
}
