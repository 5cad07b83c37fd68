package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Unigram-LM subword tokenizer — the SentencePiece family (Kudo,
  * ACL 2018: "Subword Regularization"), the other major tokenizer beside
  * BPE (`TextAnalysis.bpeMergeTable`, q143). Training is hard
  * (Viterbi) EM over the word-frequency dictionary: segment every word
  * with the current piece scores, count pieces weighted by word
  * frequency, re-score as smoothed log-probabilities; repeat.
  *
  * Float discipline: piece scores are integer NANOS
  * (`round(ln(p)·1e9)`), so the Viterbi DP is EXACT integer arithmetic —
  * a float DP would tie-break on ulps and diverge across engines; the
  * integer DP with an explicit tie rule (equal score → smaller start =
  * longer last piece) replays bit-for-bit in DuckDB's recursive-CTE twin
  * (`UnigramSql` in `lanes.TextLanes`). EM round trips (counts → ln → nanos)
  * follow the q126 rule: one ln per cell from exact integer counts,
  * rounded once.
  *
  * Spark-first shape — NO UDFs anywhere:
  *  - candidate piece scores come from an equi-JOIN of exploded
  *    (word, start, len) substrings against the vocab table (vocab can be
  *    any size — nothing broadcasts into a lambda closure), re-aggregated
  *    into one flat score array per word;
  *  - the DP itself is the native [[graft.plans.UnigramViterbi]]
  *    expression (`CodegenFallback`): one node per word row running the
  *    integer DP in Scala, bit-identical to the SQL twin's recursive CTE;
  *  - the unit of work is the word DICTIONARY (distinct words ×
  *    frequency), which is vocabulary-bounded no matter the corpus size —
  *    the same reduction SentencePiece itself relies on.
  *
  * The graded recipe (q171-q173, q175/q176/q191 and the corpus capstone)
  * is stated once: [[wordDict]] → [[train]] (seed of all characters plus
  * the top 24 substrings, two EM rounds) → [[encodeWords]] /
  * [[piecesPerWord]].
  */
object Unigram {

  /** ln(1e-10) in nanos: the score of a single character the vocabulary
    * lacks. The SQL twins print it into their text (q201's bigram
    * oracle spells it out). */
  val UnkNano: Long = -23025850930L

  /** Very negative sentinel for the DP fold — far below any real score
    * (scores are ≥ n·unkNano ≈ −2·10¹¹ for fixture-sized words) but safe
    * from overflow. The SQL twin prints it into its text. */
  val NegInf: Long = -4611686018427387904L

  /** (word, start j, len l, piece) for every substring of length
    * 1..maxPieceLen — l runs to maxPieceLen even past the word end (null
    * piece) so the per-word score array has EXACTLY n·maxPieceLen slots
    * and the DP can index it as (j−1)·maxPieceLen + l. */
  private def substrings(words: DataFrame, wordCol: String,
                         maxPieceLen: Int): DataFrame =
    words
      // sequence(1, 0) would DESCEND — empty words are the caller's bug,
      // dropped here so they can't corrupt the position explode
      .where(length(col(wordCol)) >= 1)
      .withColumn("j", explode(sequence(lit(1), length(col(wordCol)))))
      .withColumn("l", explode(sequence(lit(1), lit(maxPieceLen))))
      .withColumn("piece",
        when(col("j") + col("l") - 1 <= length(col(wordCol)),
          col(wordCol).substr(col("j"), col("l"))))

  /** Seed vocabulary: every single character (coverage) plus the top-k
    * multi-char substrings by weighted occurrence count, scored as
    * smoothed log-probabilities in nanos.
    *
    * @param words word dictionary: (`wordCol`, `cntCol`)
    * @return (piece, cnt, score_nano)
    */
  def seedVocab(words: DataFrame, wordCol: String, cntCol: String,
                k: Int, maxPieceLen: Int = 4,
                alpha: Double = 0.5): DataFrame = {
    val occ = substrings(words, wordCol, maxPieceLen)
      .where(col("piece").isNotNull)
      .groupBy("piece").agg(sum(col(cntCol)).as("cnt"))
    val picked = occ.where(length(col("piece")) === 1)
      .unionByName(
        occ.where(length(col("piece")) > 1)
          .orderBy(col("cnt").desc, col("piece").asc).limit(k))
    rescore(picked, alpha)
  }

  /** Vocabulary pruning — SentencePiece trains with a shrink schedule:
    * seed large, EM, drop the least-useful pieces, EM again until the
    * target size. The utility proxy here is the EM usage count (the
    * pieces Viterbi stopped choosing contribute least likelihood);
    * single characters are never pruned (coverage). Deterministic:
    * (cnt DESC, piece ASC). Re-score after pruning ([[rescoreCounts]])
    * so probabilities renormalize over the surviving vocab. */
  def prune(vocab: DataFrame, keepMulti: Int): DataFrame =
    vocab.where(length(col("piece")) === 1)
      .unionByName(
        vocab.where(length(col("piece")) > 1)
          .orderBy(col("cnt").desc, col("piece").asc).limit(keepMulti))
      .select("piece", "cnt")

  /** Public form of the score normalization, for prune→rescore→EM
    * compositions. */
  def rescoreCounts(counts: DataFrame, alpha: Double = 0.5): DataFrame =
    rescore(counts, alpha)

  /** Smoothed log-probability scores over a (piece, cnt) frame:
    * `score_nano = round(ln((cnt+α)/(tot+α·V))·1e9)` with V = |vocab| —
    * both engines build the identical IEEE ratio and round once.
    *
    * The normalizer is a ONE-ROW aggregate broadcast back onto the frame,
    * not an unpartitioned Window: `Window.partitionBy()` funnels the whole
    * vocab through a single partition (bounded here, but a production
    * vocab of 256k pieces should renormalize without any single-partition
    * exchange, and the broadcast side is exactly one row either way). */
  private def rescore(counts: DataFrame, alpha: Double): DataFrame = {
    val totals = counts.agg(
      sum(col("cnt")).as("__tot"), count(lit(1)).as("__v"))
    counts.crossJoin(broadcast(totals))
      .select(col("piece"), col("cnt"),
        round(log((col("cnt") + lit(alpha)) /
            (col("__tot") + lit(alpha) * col("__v"))) * lit(1e9))
          .cast("long").as("score_nano"))
  }

  /** Per-word flat candidate score array: slot (j−1)·maxPieceLen + l
    * holds the score of the piece starting at j with length l — NULL when
    * the piece is not in the vocabulary or overruns the word; single
    * characters fall back to `unkNano` so segmentation never dead-ends. */
  def scoreArrays(words: DataFrame, wordCol: String, vocab: DataFrame,
                  maxPieceLen: Int, unkNano: Long): DataFrame =
    substrings(words, wordCol, maxPieceLen)
      // broadcast: the vocab is tokenizer-bounded (≤ ~1M pieces — tens of
      // MB) while the substring explode is dictionary × maxPieceLen rows;
      // without the hint the checkpointed vocab's unknown stats forced a
      // SortMergeJoin that SHUFFLED the exploded side every EM round
      // (round 17 plan audit: 2 Exchange + 2 Sort per round → 0)
      .join(broadcast(vocab.select(col("piece"), col("score_nano"))),
        Seq("piece"), "left")
      .withColumn("__s",
        when(col("l") === 1 && col("piece").isNotNull,
          coalesce(col("score_nano"), lit(unkNano)))
        .otherwise(when(col("piece").isNotNull, col("score_nano"))))
      .groupBy(words.columns.map(col): _*)
      .agg(transform(
        array_sort(collect_list(struct(col("j"), col("l"), col("__s")))),
        e => e.getField("__s")).as("score_arr"))

  /** Exact integer Viterbi segmentation: adds `pieces: array<string>` and
    * `score_nano: long` to a frame that already carries `score_arr` from
    * [[scoreArrays]]. Tie rule: equal score prefers the SMALLER start
    * (longer last piece) — deterministic and engine-portable.
    *
    * Round 17: the DP runs as the native
    * [[graft.plans.UnigramViterbi]] expression — ONE compact node per
    * row instead of two nested `aggregate` HOFs with the candidate
    * window unrolled (~10³ expression nodes that every EM round
    * re-analyzed and re-compiled, plus interpreted per-cell lambda
    * dispatch and an O(n²) `concat(acc, array(best))` accumulator copy).
    * Bit-identical by construction: same slot layout, same
    * longest-first strict-`>` tie rule, same `substringSQL` slicing —
    * UnigramSpec pins the trace against the SQL twin. */
  def viterbiSegment(withArr: DataFrame, wordCol: String,
                     maxPieceLen: Int): DataFrame =
    withArr
      .withColumn("__vit",
        graft.plans.UnigramViterbi(col(wordCol), col("score_arr"),
          maxPieceLen))
      .withColumn("pieces", col("__vit").getField("pieces"))
      .withColumn("score_nano", col("__vit").getField("score"))
      .drop("__vit")

  /** One hard-EM round: Viterbi-segment the word dictionary under the
    * current scores, count pieces weighted by word frequency (pieces the
    * segmentation never uses keep a zero count — they stay in the vocab,
    * α-smoothed), re-score. Vocabulary membership is FIXED across rounds
    * (the pruning schedule is a separate concern); unknown single chars
    * can only appear if the seed missed them, and surface as themselves. */
  def emRound(words: DataFrame, wordCol: String, cntCol: String,
              vocab: DataFrame, maxPieceLen: Int, unkNano: Long,
              alpha: Double = 0.5): DataFrame = {
    val seg = viterbiSegment(
      scoreArrays(words, wordCol, vocab, maxPieceLen, unkNano),
      wordCol, maxPieceLen)
    val used = seg
      .select(col(cntCol), explode(col("pieces")).as("piece"))
      .groupBy("piece").agg(sum(col(cntCol)).as("cnt"))
    rescore(
      // broadcast: `used` is vocab-bounded (pieces the segmentation chose
      // ⊆ vocab) — same rationale as the scoreArrays hint
      vocab.select("piece").join(broadcast(used), Seq("piece"), "left")
        .select(col("piece"), coalesce(col("cnt"), lit(0L)).as("cnt")),
      alpha)
  }

  /** Every whitespace word of `docs`' `text` column, one row per
    * occurrence, with the `keep` columns alongside; empty tokens (double
    * spaces) dropped. */
  private def docWords(docs: DataFrame, keep: Seq[String]): DataFrame =
    docs.select(
        keep.map(col) :+ explode(split(col("text"), " ")).as("word"): _*)
      .where(length(col("word")) >= 1)

  /** The word dictionary (word, cnt) of `docs`' `text`, checkpointed:
    * it is tiny by contract and every EM round reads it, so round R+1's
    * plan does not carry the corpus scan. */
  def wordDict(docs: DataFrame): DataFrame =
    docWords(docs, Nil)
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .localCheckpoint()

  /** The trained vocabulary (piece, cnt, score_nano) of a [[wordDict]]:
    * all characters plus the top 24 substrings, then two hard-EM rounds.
    * The seed and round 1 are checkpointed so each round's plan holds one
    * Viterbi pass, not the whole chain; the last round is left lazy for
    * the caller, who checkpoints it if it reads it more than once. */
  def train(words: DataFrame): DataFrame =
    (1 to 2).foldLeft(seedVocab(words, "word", "cnt", k = 24)) { (v, _) =>
      emRound(words, "word", "cnt", v.localCheckpoint(), 4, UnkNano)
    }

  /** Each dictionary word's Viterbi segmentation under `vocab`: the
    * [[wordDict]] columns plus `pieces` and `score_nano`. */
  def encodeWords(words: DataFrame, vocab: DataFrame): DataFrame =
    viterbiSegment(scoreArrays(words, "word", vocab, 4, UnkNano), "word", 4)

  /** Every word occurrence of `docs` (with its `keep` columns) joined to
    * its dictionary word's piece count `__wp` and path score `__ws` under
    * `vocab`. The dictionary is encoded once; the corpus is read once
    * more, by this join, whatever its size. Callers sum per document. */
  def piecesPerWord(docs: DataFrame, keep: Seq[String], words: DataFrame,
                    vocab: DataFrame): DataFrame =
    docWords(docs, keep).join(
      encodeWords(words, vocab).select(col("word"),
        size(col("pieces")).cast("long").as("__wp"),
        col("score_nano").as("__ws")),
      Seq("word"))
}
