package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.text.TextAnalysis

/** Near-duplicate detection for document corpora: exact (fingerprint),
  * n-gram Jaccard (exact set similarity), MinHash+LSH (the 100 TB path),
  * SimHash.
  *
  * Scale design: the exact-Jaccard pair join is quadratic in per-shingle
  * document frequency — correct at test scale and the verification oracle
  * for the LSH path. MinHash/LSH replaces the all-pairs join with a
  * band-bucket equi-join: candidates ∝ true near-dups, not n².
  */
object NearDup {

  /** Distinct word `n`-gram shingles per document: (id, shingle) rows.
    * Dedup is per-document and therefore LOCAL (inside the native
    * `WordShingles` expression, one eval per row) — no shuffle, unlike a
    * global `distinct()` which would repartition the full (id, shingle) set
    * for the same result, and no interpreted per-element lambdas. */
  def wordShingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol),
      explode(graft.plans.WordShingles(col(textCol), n)).as("shingle"))

  /** Exact dedup via content fingerprint: canonical id = min doc id per
    * fingerprint group. One hash-partitioned window — no driver state. */
  def exactDupGroups(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val fp = df.withColumn("fingerprint", TextAnalysis.fingerprint(col(textCol)))
    val w = Window.partitionBy(col("fingerprint"))
    fp.withColumn("canonical_id", min(col(idCol)).over(w))
      .withColumn("group_size", count(lit(1)).over(w))
      .withColumn("is_dup", col(idCol) =!= col("canonical_id"))
      .select(col(idCol), col("fingerprint"), col("canonical_id"),
        col("group_size"), col("is_dup"))
  }

  /** Corpus-level line deduplication (the C4 / RefinedWeb boilerplate
    * pass: Raffel et al. arXiv:1910.10683 §2.2 "we discarded … any line
    * that occurred more than N times", Penedo et al. arXiv:2306.01116):
    * split each document on `sep`, count every line's occurrences across
    * the WHOLE corpus, drop every occurrence of any line whose corpus
    * frequency reaches `minDf` (navigation chrome, cookie banners, boiler-
    * plate headers), and reassemble the surviving lines in their original
    * order. Documents whose lines are all boilerplate survive with an
    * empty `cleaned_text` (`n_kept = 0`) so a downstream length filter
    * makes the drop decision explicitly.
    *
    * Scale shape — three shuffles, all keyed and linear: (1) hash agg on
    * the line for corpus frequencies (map-side partials absorb the heavy
    * lines), (2) the lines→counts equi-join lands co-partitioned with the
    * agg output, (3) one regroup on the doc id rebuilds the text via a
    * null-skipping `collect_list` (kept lines only — no second pass, no
    * join back to the input; per-row scalars ride the explode). History
    * never needs re-reading: the frequency side can be a persisted
    * manifest in incremental runs. */
  def dedupCorpusLines(df: DataFrame, idCol: String, textCol: String,
                       sep: String, minDf: Int): DataFrame = {
    require(minDf >= 2, "minDf < 2 would drop every line")
    val lines = df.select(col(idCol),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .as(Seq("__idx", "__line")))
    val counts = lines.groupBy(col("__line"))
      .agg(count(lit(1)).as("__df"))
    val keep = col("__df") < minDf
    lines.join(counts, Seq("__line"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_lines"),
        count(when(keep, lit(1))).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(when(keep,
              struct(col("__idx"), col("__line"))))),
            x => x.getField("__line")),
          sep).as("cleaned_text"))
  }

  /** Benchmark decontamination: flag every training document sharing at
    * least one word `n`-gram with the held-out evaluation corpus — the
    * standard pre-training hygiene pass (n-gram overlap decontamination as
    * published for GPT-3, appendix C of arXiv:2005.14165, and the Dolma /
    * FineWeb pipelines; canonical n is 8-13 on web text, smaller on short
    * fixtures).
    *
    * Output: one row per training doc — `(id, n_eval_hits, contaminated)`
    * where `n_eval_hits` counts the doc's DISTINCT shingles that occur
    * anywhere in the eval corpus (per-doc shingle dedup is local inside
    * `WordShingles`, so a gram repeated in one doc counts once).
    *
    * The any-hit projection of [[contaminationReport]]: the same
    * broadcast eval-gram dimension and per-doc hit count, with the unused
    * per-doc gram count pruned from the plan. */
  def decontaminate(train: DataFrame, eval: DataFrame, idCol: String,
                    textCol: String, n: Int): DataFrame =
    contaminationReport(train, eval, idCol, textCol, n)
      .select(col(idCol), col("n_eval_hits"),
        (col("n_eval_hits") >= 1).as("contaminated"))

  /** Contamination REPORT — the fraction-based analysis published with
    * GPT-3 (arXiv:2005.14165 appendix C reports the PERCENTAGE of each
    * doc's n-grams found in the benchmarks, not just membership): per
    * training doc, its distinct-gram count, the eval-hit count, the
    * overlap share as exact integer nanos (1e9·hits/grams, floor), and
    * the `dirty` flag at `dirtyAtNano` (default 10%) — the triage knob
    * between [[decontaminate]]'s any-hit drop (recall-safe, over-drops
    * boilerplate) and keeping everything.
    *
    * Scale shape: eval benchmarks are tiny next to a 100 TB corpus (MBs of
    * distinct grams), so the eval side is collapsed to a distinct-gram dim
    * and BROADCAST — the corpus shingles are never shuffled by gram, and
    * the per-doc counts are partial-agg-friendly counts grouped on the doc
    * id (per-doc shingle dedup is local inside `WordShingles`, so a gram
    * repeated in one doc counts once). The final left join restores docs
    * too short to shingle (< n words) with zero counts; its probe side
    * carries ids only and both sides hash on the id, so no wide data
    * moves twice. The nano share divides two exact integers ≤
    * 1e9·doc-length — floor of a double quotient whose distance from any
    * integer is ≥ 1/n_grams, far above double error, so both engines
    * floor identically. */
  def contaminationReport(train: DataFrame, eval: DataFrame, idCol: String,
                          textCol: String, n: Int,
                          dirtyAtNano: Long = 100000000L): DataFrame = {
    val evalGrams = eval
      .select(explode(graft.plans.WordShingles(col(textCol), n)).as("shingle"))
      .distinct()
      .withColumn("__hit", lit(1))
    val stats = wordShingles(train, idCol, textCol, n)
      .join(broadcast(evalGrams), Seq("shingle"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        count(col("__hit")).as("n_eval_hits"))
    train.select(col(idCol))
      .join(stats, Seq(idCol), "left")
      .withColumn("n_grams", coalesce(col("n_grams"), lit(0L)))
      .withColumn("n_eval_hits", coalesce(col("n_eval_hits"), lit(0L)))
      .withColumn("overlap_nano",
        when(col("n_grams") === 0, lit(0L)).otherwise(
          floor(lit(1000000000L) * col("n_eval_hits") / col("n_grams"))
            .cast("long")))
      .withColumn("dirty", col("overlap_nano") >= dirtyAtNano)
  }

  /** Span-level repeated-substring detection — the SPAN analogue of
    * document near-dup (Lee et al., "Deduplicating Training Data Makes
    * Language Models Better", arXiv:2107.06499: removing repeated
    * substrings beats removing whole near-dup documents): find the maximal
    * character spans of each document whose every `k`-gram also occurs in
    * at least `minDf − 1` OTHER documents. The published pipeline builds a
    * corpus-wide suffix array; the distributed re-expression is positional
    * k-gram frequency — every char position emits its k-gram hash, a
    * global distinct-doc frequency marks "duplicated" positions, and
    * consecutive marked positions coalesce into maximal spans with the
    * standard gaps-and-islands window (`pos − row_number`), entirely
    * per-doc.
    *
    * Output: one row per span — (id, span_start, span_end, span_len,
    * n_grams), 1-based inclusive char offsets.
    *
    * Scale shape: O(total chars) gram rows (the same budget as
    * tokenizing), computed ONCE and shuffled ONCE on the gram hash: the
    * distinct-doc frequency is a window count over the gram-hash
    * partitioning (first-occurrence flags summed across the partition),
    * not a groupBy + join-back — the join form re-exploded and re-hashed
    * every gram a second time for the probe side, a full extra pass over
    * the corpus' characters at 100 TB. Then one window per doc. Grams
    * travel as 64-bit hashes, never strings — `family` picks xxhash64
    * (production) or the portable MD5 family (the q133 oracle replay; the
    * usual 2-4× oracle tax, SCALE.md). A df cap is unnecessary: frequency
    * only gates a boolean mark, so hot boilerplate grams cost one counter,
    * not a pair blowup. */
  def repeatedSpans(df: DataFrame, idCol: String, textCol: String,
                    k: Int = 16, minDf: Int = 2,
                    family: graft.functions.HashFamily =
                      graft.functions.XxHashFamily): DataFrame = {
    require(k >= 2 && minDf >= 2, "need k >= 2 and minDf >= 2")
    val g = df
      .where(length(col(textCol)) >= k)
      .select(col(idCol),
        explode(sequence(lit(1L),
          (length(col(textCol)) - lit(k - 1)).cast("long"))).as("pos"),
        col(textCol))
      .select(col(idCol), col("pos"),
        family.hash(0, expr(s"substring($textCol, pos, $k)")).as("__gh"))
    // distinct docs per gram without leaving the gram-hash partitioning:
    // rows of one gram sort by (id, pos), the first row of each id raises
    // a flag, and the unbounded sum of flags is the document frequency —
    // both windows ride ONE Exchange hashpartitioning(__gh)
    val wgOrd = Window.partitionBy(col("__gh"))
      .orderBy(col(idCol), col("pos"))
    val wgAll = Window.partitionBy(col("__gh"))
    val marked = g
      .withColumn("__nd", when(lag(col(idCol), 1).over(wgOrd).isNull
        .or(lag(col(idCol), 1).over(wgOrd) =!= col(idCol)), 1L)
        .otherwise(0L))
      .withColumn("__df", sum(col("__nd")).over(wgAll))
      .where(col("__df") >= minDf)
      .select(col(idCol), col("pos"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    marked
      .withColumn("__grp", col("pos") - row_number().over(w))
      .groupBy(col(idCol), col("__grp"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(k - 1)).as("span_end"),
        (max(col("pos")) - min(col("pos")) + lit(k)).as("span_len"),
        count(lit(1)).as("n_grams"))
      .drop("__grp")
  }

  /** Exact n-gram Jaccard near-dup pairs (id_a < id_b, jaccard >= threshold).
    * The threshold test uses integer arithmetic (no float boundary):
    * common * den >= num * (na + nb - common) for threshold = num/den.
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String, n: Int,
                   thresholdNum: Int, thresholdDen: Int,
                   maxDf: Int = 0): DataFrame = {
    // n_sh (the doc's distinct-shingle count) is just the size of the
    // shingle array — attached at generation, so no per-doc aggregation and
    // no count joins ever happen. The whole operator is TWO shuffles:
    // groupBy(shingle) to build posting lists, groupBy(pair) to count
    // co-occurrences.
    val sh = df
      .withColumn("__sh", graft.plans.WordShingles(col(textCol), n))
      .select(col(idCol), size(col("__sh")).as("n_sh"),
        explode(col("__sh")).as("shingle"))
    // One groupBy-shingle pass replaces the shingle self-join: singleton
    // shingles (document frequency 1 — the vast majority) never produce a
    // pair, so they die in the size>=2 filter instead of flowing through a
    // shuffle join; hot shingles emit their id×id combinations locally from
    // the posting list sorted by id. `maxDf > 0` engages the winnowPairs
    // df-cap discipline at THIS operator: posting lists longer than maxDf
    // are non-discriminative stop-shingles and are dropped BEFORE the
    // quadratic emit — the cap that bounds pair volume at corpus scale
    // (a boilerplate shingle shared by 100k docs would emit 5·10⁹ pairs
    // from one shuffle group). Lossy ONLY for pairs whose overlap lives
    // mostly in hot shingles: `common` shrinks while na/nb stay full-size,
    // so borderline stop-shingle-heavy pairs can drop below the Jaccard
    // threshold. Default 0 = exact (the oracle/golden lanes).
    sh.groupBy(col("shingle"))
      .agg(sort_array(collect_list(struct(col(idCol).as("id"),
        col("n_sh")))).as("ids"))
      .where(if (maxDf > 0) size(col("ids")).between(2, maxDf)
             else size(col("ids")) >= 2)
      // native pair emit (round 17): same (i, j)-ordered combinations as
      // the interpreted flatten/transform/slice chain, without the
      // per-pair lambda dispatch and per-element tail re-copy
      .select(explode(graft.plans.OrderedPairs(col("ids"))).as("p"))
      .select(col("p.a.id").as("id_a"), col("p.b.id").as("id_b"),
        col("p.a.n_sh").as("na"), col("p.b.n_sh").as("nb"))
      .groupBy(col("id_a"), col("id_b"), col("na"), col("nb"))
      .agg(count(lit(1)).as("common"))
      .where(col("common") * thresholdDen >=
        lit(thresholdNum) * (col("na") + col("nb") - col("common")))
      .withColumn("jaccard",
        col("common").cast("double") / (col("na") + col("nb") - col("common")))
      .select("id_a", "id_b", "common", "na", "nb", "jaccard")
  }

  /** Winnowed-fingerprint near-dup candidate pairs — the MOSS pipeline:
    * per-doc winnowing sketch ([[TextAnalysis.winnowFingerprints]], narrow),
    * then pairs of docs sharing ≥ `minShared` selected fingerprints.
    *
    * Same two-shuffle posting-list shape as [[jaccardPairs]] (groupBy
    * fingerprint → emit pairs locally → groupBy pair), with one addition:
    * fingerprints in more than `maxDf` docs are dropped as
    * stop-fingerprints BEFORE the pair emit. That cap is what bounds the
    * quadratic posting-list blowup at corpus scale — a boilerplate 16-gram
    * shared by 100k docs would otherwise emit 5·10⁹ pairs from one
    * shuffle group; near-dup signal lives in RARE grams, so the cap costs
    * recall only on pairs that already share many other fingerprints.
    * Unlike MinHash banding ([[minhashLshPairs]]), shared-count here is a
    * deterministic function of the two documents' content alone, so the
    * whole pipeline replays exactly in SQL with the portable family. */
  def winnowPairs(df: DataFrame, idCol: String, textCol: String,
                  k: Int = 16, w: Int = 8, minShared: Int = 5, maxDf: Int = 20,
                  family: graft.functions.HashFamily =
                    graft.functions.XxHashFamily): DataFrame = {
    require(minShared >= 1, "minShared must be >= 1")
    require(maxDf >= 2, "maxDf must be >= 2 (pairs need df >= 2)")
    val fps = df.select(col(idCol),
      explode(TextAnalysis.winnowFingerprints(col(textCol), k, w, family))
        .as("fp"))
    fps.groupBy(col("fp"))
      .agg(sort_array(collect_list(col(idCol))).as("ids"))
      .where(size(col("ids")).between(2, maxDf))
      // native pair emit — see jaccardPairs
      .select(explode(graft.plans.OrderedPairs(col("ids"))).as("p"))
      .groupBy(col("p.a").as("id_a"), col("p.b").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** MinHash signatures: for each of `numHashes` seeded hash functions keep
    * the min over the doc's shingles. Returns (id, h0..h{k-1}). */
  def minhashSignatures(shingles: DataFrame, idCol: String, numHashes: Int,
                        family: graft.functions.HashFamily =
                          graft.functions.XxHashFamily): DataFrame = {
    // digest each shingle ONCE (family.base), then derive the k members
    // arithmetically — k× fewer string hashes on the hot path
    val based = shingles.withColumn("__hb", family.base(col("shingle")))
    val aggs = (0 until numHashes)
      .map(i => min(family.derive(i, col("__hb"))).as(s"h$i"))
    based.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** MinHash + LSH banding: signatures are split into `bands` bands of
    * `numHashes/bands` rows hashed to a bucket; docs sharing any (band,
    * bucket) become candidates; candidates are kept when the estimated
    * Jaccard (fraction of equal minhash components) >= threshold.
    *
    * This is the 100 TB dedup path: shuffle keys are (band, bucket), the
    * all-pairs join never materializes.
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      shingleN: Int = 3, numHashes: Int = 32, bands: Int = 8,
                      threshold: Double = 0.5,
                      family: graft.functions.HashFamily =
                        graft.functions.XxHashFamily): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    val sh = wordShingles(df, idCol, textCol, shingleN)
    val sig = minhashSignatures(sh, idCol, numHashes, family)
    val bandStructs = (0 until bands).map { b =>
      val slice = (0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}"))
      struct(lit(b).as("band"), family.combine(slice).as("bucket"))
    }
    // The full signature rides along with each bucket row (bands× a few
    // hundred bytes per doc), so the estimated Jaccard is computed INSIDE
    // the band join — no cached signature frame held past the call (the old
    // shape leaked its cache into the session), no join back to signatures,
    // two fewer shuffles. At 100 TB the payload duplication is dwarfed by
    // the shuffles it removes.
    val buckets = sig.select(col(idCol),
        array((0 until numHashes).map(i => col(s"h$i")): _*).as("__sig"),
        explode(array(bandStructs: _*)).as("bb"))
      .select(col(idCol), col("__sig"), col("bb.band"), col("bb.bucket"))
    val matches = aggregate(
      zip_with(col("__sa"), col("__sb"), (a, b) => when(a === b, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x)
    buckets.as("x").join(buckets.as("y"), Seq("band", "bucket"))
      .where(col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"),
        col("x.__sig").as("__sa"), col("y.__sig").as("__sb"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("est_jaccard", matches.cast("double") / numHashes)
      .where(col("est_jaccard") >= threshold)
      .select("id_a", "id_b", "est_jaccard")
  }

  /** Incremental corpus dedup — the production shape of dedup at 100 TB:
    * screen a NEW ingest batch against the HISTORICAL corpus without
    * re-shuffling history per batch.
    *
    *   1. exact: the batch's content fingerprints probe the historical
    *      fingerprint index. At scale that index is a bucketed-by-
    *      fingerprint artifact (optionally behind a Bloom-filter
    *      pre-screen), so history contributes a bucketed scan per batch,
    *      never a shuffle.
    *   2. near-dup: surviving docs' MinHash band buckets equi-join the
    *      historical band-bucket index (precomputed once per corpus
    *      version); exact signature comparison runs only inside candidate
    *      buckets; best match = max estimated Jaccard, min historical id
    *      tiebreak.
    *
    * Every new-batch doc comes back labeled `exact_dup` (fingerprint
    * collision with history — match_id = min colliding id, no est),
    * `near_dup` (est_jaccard ≥ threshold vs some historical doc), or
    * `unique`. Exact wins over near. Within-batch duplicates are the
    * batch-local problem ([[exactDupGroups]] / [[minhashLshPairs]] on the
    * batch alone); this operator is the batch-vs-history stage.
    * est_jaccard is k/numHashes — an exact binary fraction for
    * power-of-two numHashes, so engines agree bit-for-bit. */
  def incrementalDedup(newBatch: DataFrame, history: DataFrame,
                       idCol: String, textCol: String,
                       shingleN: Int = 3, numHashes: Int = 32, bands: Int = 8,
                       threshold: Double = 0.5,
                       family: graft.functions.HashFamily =
                         graft.functions.XxHashFamily): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    val fp = TextAnalysis.fingerprint(col(textCol))
    val histIdx = history
      .select(fp.as("__fp"), col(idCol).as("__hid"))
      .groupBy("__fp").agg(min(col("__hid")).as("exact_match_id"))
    val exact = newBatch.select(col(idCol), col(textCol))
      .withColumn("__fp", fp)
      .join(histIdx, Seq("__fp"), "left")

    // The sketch runs over the WHOLE batch, not the exact-survivors — the
    // survivor filter would make every signature stage depend on (and
    // re-evaluate) the fingerprint probe join; sketching the few exact
    // dups too is cheaper than a second pass over the plan, and their
    // near fields are masked in the final projection, so the output is
    // identical to the survivor-filtered form.
    def sigOf(df: DataFrame) = minhashSignatures(
      wordShingles(df, idCol, textCol, shingleN), idCol, numHashes, family)
    // signatures ride the bucket rows (see minhashLshPairs): the estimate
    // is computed inside the candidate join, so neither signature frame is
    // cached — nothing persisted survives the call
    def bucketsOf(df: DataFrame, idAs: String, sigAs: String) = {
      val bandStructs = (0 until bands).map { b =>
        val slice = (0 until rowsPerBand).map(r =>
          col(s"h${b * rowsPerBand + r}"))
        struct(lit(b).as("band"), family.combine(slice).as("bucket"))
      }
      sigOf(df).select(col(idCol).as(idAs),
          array((0 until numHashes).map(i => col(s"h$i")): _*).as(sigAs),
          explode(array(bandStructs: _*)).as("bb"))
        .select(col(idAs), col(sigAs), col("bb.band"), col("bb.bucket"))
    }
    val est = aggregate(
      zip_with(col("__sa"), col("__sb"), (a, b) => when(a === b, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x).cast("double") / numHashes
    val best = graft.operators.Dedup.keepFirst(
      bucketsOf(newBatch.select(col(idCol), col(textCol)), "__nid", "__sa")
        .join(bucketsOf(history, "__hid", "__sb"), Seq("band", "bucket"))
        .dropDuplicates("__nid", "__hid")
        .withColumn("__est", est)
        .where(col("__est") >= threshold),
      Seq("__nid"), Seq(col("__est").desc, col("__hid").asc))
      .select(col("__nid").as(idCol), col("__hid").as("near_match_id"),
        col("__est").as("est_jaccard"))

    // near fields masked for exact dups (their sketch rows exist but the
    // survivor-filtered form never computed them — same visible output)
    exact.select(col(idCol), col("exact_match_id"))
      .join(best, Seq(idCol), "left")
      .select(col(idCol),
        when(col("exact_match_id").isNotNull, lit("exact_dup"))
          .when(col("near_match_id").isNotNull, lit("near_dup"))
          .otherwise(lit("unique")).as("status"),
        coalesce(col("exact_match_id"), col("near_match_id")).as("match_id"),
        when(col("exact_match_id").isNull, col("est_jaccard"))
          .as("est_jaccard"))
  }

  /** Re-split clusters whose members duplicate a constraint key (the
    * reference's "duplicate report years"): greedy first-fit in member-id
    * order — each member goes to the first sub-cluster not yet containing
    * its key. Reference: `split_clusters`
    * (`/root/reference/src/pudl/analysis/record_linkage/link_cross_year.py:170-240`;
    * greedy first-fit stands in for its agglomerative re-split, deviation
    * documented).
    *
    * First-fit collapses to a single window expression: the j-th occurrence
    * of a key within a cluster (in id order) always lands in sub-cluster
    * j−1. Induction: if every earlier occurrence i sits in sub i−1, then
    * subs 0..j−2 all contain the key, sub j−1 does not (only occurrence j
    * could have been placed there), and if sub j−1 doesn't exist yet the
    * new sub is created at exactly index j−1 (subs 0..j−2 exist). So
    * `sub_cluster = row_number over (cluster, key | order by id) − 1` —
    * one shuffle on the cluster key, whole-stage codegen, no per-cluster
    * local state (the earlier `flatMapGroups` form is equivalent;
    * NearDupSplitSpec proves it against a set-based simulation).
    *
    * Input rows: (cluster, id, key). Output: (id, cluster, sub_cluster)
    * where no (cluster, sub_cluster) contains a duplicate key.
    */
  def splitClusters(df: DataFrame, clusterCol: String, idCol: String,
                    keyCol: String, keepKey: Boolean = false): DataFrame = {
    // keepKey = true additionally passes the ORIGINAL-typed key column
    // through (round 18): linkIdsCrossYear's finalize needs (id, key,
    // sub_cluster) and previously re-attached the key with one more join
    // over the whole record set. Default output is unchanged (q119's
    // oracle pins the 3-column shape).
    val base = df.select(Seq(
        col(idCol).cast("long").as(idCol),
        col(clusterCol).cast("long").as(clusterCol),
        col(keyCol).cast("string").as("__splitkey")) ++
        (if (keepKey) Seq(col(keyCol)) else Nil): _*)
      .withColumn("sub_cluster",
        (row_number().over(Window.partitionBy(col(clusterCol),
          col("__splitkey")).orderBy(col(idCol))) - 1).cast("int"))
    if (keepKey)
      base.select(col(idCol), col(clusterCol), col("sub_cluster"), col(keyCol))
    else base.select(col(idCol), col(clusterCol), col("sub_cluster"))
  }

  /** sklearn-style AVERAGE-linkage agglomerative labels for a small point
    * set: repeatedly merge the closest pair of clusters (mean pairwise
    * distance) while that distance is below `threshold`. Deterministic:
    * ties resolve to the first (i, j) in min-member order, and final labels
    * are numbered by each cluster's minimum point index. O(n³) on n =
    * cluster size — clusters are tiny by construction (the reference runs
    * sklearn per overmerged cluster for exactly this reason,
    * `link_cross_year.py:170-240`). */
  private[graft] def agglomerate(dist: Array[Array[Double]],
                                 threshold: Double): Array[Int] = {
    val n = dist.length
    val clusters = scala.collection.mutable.ArrayBuffer
      .tabulate(n)(i => List(i))
    var done = n <= 1
    while (!done && clusters.length > 1) {
      var bi = -1; var bj = -1; var best = Double.MaxValue
      for (i <- clusters.indices; j <- (i + 1) until clusters.length) {
        var s = 0.0; var c = 0
        for (p <- clusters(i); q <- clusters(j)) { s += dist(p)(q); c += 1 }
        val d = s / c
        if (d < best) { best = d; bi = i; bj = j }
      }
      if (best >= threshold) done = true
      else {
        clusters(bi) = clusters(bi) ++ clusters(bj)
        clusters.remove(bj)
      }
    }
    val labels = Array.fill(n)(-1)
    clusters.sortBy(_.min).zipWithIndex
      .foreach { case (m, k) => m.foreach(p => labels(p) = k) }
    labels
  }

  /** Reference-parity cluster re-split (`split_clusters`,
    * `/root/reference/src/pudl/analysis/record_linkage/link_cross_year.py:170-240`):
    * clusters whose members duplicate the constraint key (report year) are
    * re-clustered by AVERAGE-linkage agglomerative clustering over cosine
    * distance with `distanceThreshold` — sklearn semantics, including the
    * consequence that near-identical same-year records legitimately stay
    * together (the reference trusts distance cohesion, not the year
    * constraint). Clusters without duplicate keys pass through unsplit.
    *
    * Scale: one shuffle on the cluster key; the O(n³) agglomeration runs
    * per cluster inside `flatMapGroups` on member counts bounded by the
    * eps-graph's component sizes. [[splitClusters]] (the windowed greedy
    * first-fit) remains the default in [[graft.linkage.Linkage]]: it
    * guarantees key uniqueness per sub-cluster and replays in SQL.
    *
    * Input rows: (cluster, id, key, emb: array<float>). Output: (id,
    * cluster, sub_cluster). */
  def splitClustersAgglomerative(df: DataFrame, clusterCol: String,
                                 idCol: String, keyCol: String,
                                 embCol: String,
                                 distanceThreshold: Double): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(clusterCol).cast("long"), col(idCol).cast("long"),
        col(keyCol).cast("string"), col(embCol).cast("array<float>"))
      .as[(Long, Long, String, Array[Float])]
      .groupByKey(_._1)
      .flatMapGroups { (cluster, it) =>
        val members = it.toArray.sortBy(_._2)
        val dupKeys = members.groupBy(_._3).exists(_._2.length > 1)
        if (!dupKeys) members.iterator.map(m => (m._2, cluster, 0))
        else {
          def cosDist(a: Array[Float], b: Array[Float]): Double = {
            var dot = 0.0; var na = 0.0; var nb = 0.0
            var i = 0
            while (i < a.length) {
              dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
              nb += b(i).toDouble * b(i); i += 1
            }
            val den = math.sqrt(na) * math.sqrt(nb)
            if (den == 0.0) 1.0 else 1.0 - dot / den
          }
          val n = members.length
          val dist = Array.tabulate(n, n)((i, j) =>
            if (i == j) 0.0 else cosDist(members(i)._4, members(j)._4))
          val labels = agglomerate(dist, distanceThreshold)
          members.iterator.zipWithIndex.map { case (m, i) =>
            (m._2, cluster, labels(i))
          }
        }
      }
      .toDF(idCol, clusterCol, "sub_cluster")
  }

  /** SimHash near-dup pairs: signatures within `maxHamming` bits. Candidate
    * generation is the classic band trick — split the 64-bit signature into
    * `bands` equal bit-bands; any pair within maxHamming < bands Hamming
    * distance must agree exactly on at least one band (pigeonhole), so
    * candidates meet on a (band, band-bits) equi-join and the exact
    * `bit_count` filter runs only inside buckets. Same blocking shape as
    * MinHash-LSH/IVF: the all-pairs comparison never materializes. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, bands: Int = 4,
                   family: graft.functions.HashFamily =
                     graft.functions.XxHashFamily): DataFrame = {
    require(maxHamming < bands, "need maxHamming < bands for pigeonhole recall")
    require(family.bits % bands == 0, "bands must divide signature width")
    val sig = simhash(df, idCol, textCol, family)
    val width = family.bits / bands
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        shiftrightunsigned(col("simhash"), b * width)
          .bitwiseAND((1L << width) - 1).as("bits"))
    }
    val buckets = sig.select(col(idCol), col("simhash"),
      explode(array(bandStructs: _*)).as("bb"))
      .select(col(idCol), col("simhash"), col("bb.band"), col("bb.bits"))
    buckets.as("x").join(buckets.as("y"), Seq("band", "bits"))
      .where(col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash")))
          .as("hamming"))
      .where(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
  }

  /** 64-bit SimHash over word hashes: bit i of the signature is the sign of
    * the sum of (+1/-1) votes from each token's hash bit i. Hamming-close
    * signatures ≈ similar docs. Pure expressions — codegen-friendly. */
  def simhash(df: DataFrame, idCol: String, textCol: String,
              family: graft.functions.HashFamily =
                graft.functions.XxHashFamily): DataFrame = {
    val nBits = family.bits
    val toks = df.select(col(idCol),
      explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .withColumn("h", family.hash(0, col("tok")))
    val bitVotes = (0 until nBits).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1).otherwise(-1))
        .as(s"b$i")
    }
    val votes = toks.groupBy(col(idCol)).agg(bitVotes.head, bitVotes.tail: _*)
    val sig = (0 until nBits).map { i =>
      when(col(s"b$i") > 0, shiftleft(lit(1L), i)).otherwise(0L)
    }.reduce(_.bitwiseOR(_))
    votes.withColumn("simhash", sig).select(col(idCol), col("simhash"))
  }
}
