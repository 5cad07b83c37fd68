package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Bigram language model with stupid backoff (Brants et al., EMNLP 2007,
  * "Large Language Models in Machine Translation" §4) — the n > 1 member of
  * the LM-quality family next to the trained-unigram scorer (the CCNet /
  * LLaMA perplexity-filter staple, Wenzek et al. 2020; reference corpus
  * filtering keeps an LM score per doc the same way).
  *
  * Determinism/portability: scores are integer nanos computed ONCE per
  * bigram/unigram TYPE — `round(ln(p)·1e9)` on one IEEE double ratio, the
  * q175/q191 discipline — so a document's log-score is an EXACT integer sum:
  * partition-order-proof, retry-stable, and bit-replayable by a SQL oracle.
  *
  * Scale shape: the corpus pays one doc-key exchange for the lag window
  * (position ranks and the bigram lag share it); every model table is
  * DICTIONARY-bounded (bigram/unigram types, not tokens), so training
  * shuffles shrink to the type space and scoring is a data-sized stream
  * joined against bounded score tables. Nothing here grows with corpus
  * size except the streams themselves.
  */
object BigramLm {

  /** Beginning-of-sentence sentinel: the context of each doc's first token. */
  val Bos = "<s>"

  /** `(idCol, pos, prev, cur)` bigram stream: whitespace tokens (split on
    * `\s+` AFTER trim, so runs of whitespace never yield empty mid-array
    * cells and positions are dense by construction; the single empty cell
    * of a blank doc is dropped), the [[Bos]] sentinel standing in for the
    * first token's context. Empty docs contribute no rows. One doc-key
    * exchange for the lag window. */
  def bigramStream(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val byDoc = Window.partitionBy(col(idCol))
    df.select(col(idCol), posexplode(TextAnalysis.tokens(col(textCol)))
        .as(Seq("pos", "__tok")))
      .where(col("__tok") =!= "")
      .withColumn("prev", coalesce(
        lag(col("__tok"), 1).over(byDoc.orderBy(col("pos"))), lit(Bos)))
      .select(col(idCol), col("pos"), col("prev"), col("__tok").as("cur"))
  }

  /** MLE model tables from a (filtered) bigram stream:
    * `(prev, cur, score_nano)` with `score_nano = round(ln(c(prev,cur) /
    * c(prev·))·1e9)` — the per-context normalizer is the SUM of the bigram
    * counts sharing the context, so each conditional sums to 1 — and
    * `(cur, uni_nano)` with `uni_nano = round(ln(c(cur)/N)·1e9)`. Both
    * tables are dictionary-bounded; the total-count normalizers are one-row
    * broadcast aggregates (never an unpartitioned window). */
  def trainFromStream(bg: DataFrame): (DataFrame, DataFrame) = {
    // Every token occurs exactly ONCE as `cur`, so the context counts, the
    // unigram counts and the grand total are all integer sums over the
    // dictionary-bounded bigram TYPE table — the training stream pays one
    // corpus pass (the bcnt shuffle) and nothing else rescans it. The
    // always-true guard pins (prev, cur, __cnt) into EVERY consumer branch
    // so column pruning cannot narrow any branch's copy of the subtree —
    // identical copies reuse the ONE exchange at runtime (the q138
    // ReuseExchange discipline; PlanSpec asserts it on the final plan).
    val bcnt = bg.groupBy(col("prev"), col("cur"))
      .agg(count(lit(1)).as("__cnt"))
      .where(col("prev").isNotNull && col("cur").isNotNull &&
        col("__cnt") >= 1L)
    val ctx = bcnt.groupBy(col("prev")).agg(sum(col("__cnt")).as("__ctx"))
    val bscore = bcnt.join(ctx, "prev")
      .select(col("prev"), col("cur"),
        round(log(col("__cnt").cast("double") / col("__ctx").cast("double"))
          * 1e9).cast("long").as("score_nano"))
    val tot = bcnt.agg(sum(col("__cnt")).as("__n"))
    val uscore = bcnt.groupBy(col("cur")).agg(sum(col("__cnt")).as("__ucnt"))
      .crossJoin(broadcast(tot))
      .select(col("cur"),
        round(log(col("__ucnt").cast("double") / col("__n").cast("double"))
          * 1e9).cast("long").as("uni_nano"))
    (bscore, uscore)
  }

  /** Score every doc of `df` under a model trained on the `trainPred`
    * subset (a predicate over the stream's columns, e.g.
    * `col("doc_id") % 2 === 0` — train/apply split is what makes the
    * backoff path reachable: scoring the training corpus itself never
    * backs off).
    *
    * Stupid backoff per bigram token: the trained conditional if the type
    * was seen, else `round(ln(backoff)·1e9) + uni_nano(cur)` (both engines
    * compute ln(backoff) themselves — no hand-carried constant to drift),
    * with `unkNano` as the floor for words unseen even as unigrams.
    * Output per doc (empty docs kept at zero): `(idCol, n_bigrams,
    * n_backoff, score_nano)`. */
  def scoreDocs(df: DataFrame, idCol: String, textCol: String,
                trainPred: Column, backoff: Double = 0.4,
                unkNano: Long = Unigram.UnkNano): DataFrame = {
    val bg = bigramStream(df, idCol, textCol)
    val (bscore, uscore) = trainFromStream(bg.where(trainPred))
    val backoffNano = round(log(lit(backoff)) * 1e9).cast("long")
    val scored = bg
      .join(bscore, Seq("prev", "cur"), "left")
      .join(uscore, Seq("cur"), "left")
      .select(col(idCol),
        coalesce(col("score_nano"),
          backoffNano + coalesce(col("uni_nano"), lit(unkNano))).as("__s"),
        col("score_nano").isNull.cast("long").as("__bo"))
    df.select(col(idCol))
      .join(scored.groupBy(col(idCol)).agg(
        count(col("__s")).as("__nb"), sum(col("__bo")).as("__nbo"),
        sum(col("__s")).as("__sc")), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__nb"), lit(0L)).as("n_bigrams"),
        coalesce(col("__nbo"), lit(0L)).as("n_backoff"),
        coalesce(col("__sc"), lit(0L)).as("score_nano"))
  }
}
