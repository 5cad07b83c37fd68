package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.checks.CheckRunner
import graft.checks.CheckRunner._
import graft.functions.AggFunctions._
import graft.operators.{Allocation, Dedup, Harvest}
import graft.schema.{Field, FieldType, Resource}
import graft.sources.ParquetSink

/** End-to-end pipeline demo: the reference's extract → transform →
  * harvest → output → validate asset graph (SURVEY §3.1) collapsed into
  * one lazy Catalyst lineage with explicit parquet checkpoints only at
  * named outputs. Run: `runMain graft.Etl <sfDir> <outDir>`.
  *
  * Dagster process boundaries become shuffle boundaries. The three
  * capstones publish through one path ([[Etl.publish]]): write every
  * declared output, then validate them all — CheckRunner suites plus the
  * golden row counts — in one lazy plan collected by one driver action.
  */
object Etl {

  val customerSummary: Resource = Resource("out_customer_summary", Seq(
    Field("c_custkey", FieldType.Integer, required = true),
    Field("segment", FieldType.Str,
      enum = Some(Seq("BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"))),
    Field("n_orders", FieldType.Integer),
    Field("lifetime_value", FieldType.Number),
    Field("latest_order", FieldType.Datetime)),
    primaryKey = Seq("c_custkey"))

  val supplierYearly: Resource = Resource("out_supplier_yearly", Seq(
    Field("s_suppkey", FieldType.Integer, required = true),
    Field("ship_year", FieldType.Year, required = true),
    Field("revenue", FieldType.Number),
    Field("wavg_discount", FieldType.Number)),
    primaryKey = Seq("s_suppkey", "ship_year"))

  /** Training-corpus layout: canonical (deduped) docs with their stable
    * split membership and packed context-window placement. */
  val corpusPacked: Resource = Resource("out_corpus_packed", Seq(
    Field("doc_id", FieldType.Integer, required = true),
    Field("split", FieldType.Str,
      enum = Some(Seq("train", "val", "test"))),
    Field("n_tokens", FieldType.Integer),
    Field("shard", FieldType.Integer),
    Field("chunk_id", FieldType.Integer)),
    primaryKey = Seq("doc_id"))

  /** Whole-pipeline capstone output schemas: the chained
    * harvest → allocation → mcoe → plant-parts lineage (see [[buildWide]]). */
  val supplierMetrics: Resource = Resource("out_supplier_metrics", Seq(
    Field("s_suppkey", FieldType.Integer, required = true),
    Field("order_year", FieldType.Year, required = true),
    Field("nationkey", FieldType.Integer),
    Field("alloc_revenue", FieldType.Number, min = Some(0.0)),
    Field("qty", FieldType.Number, min = Some(0.0)),
    Field("price_per_qty", FieldType.Number, min = Some(0.0)),
    Field("balance_ratio", FieldType.Number)),
    primaryKey = Seq("s_suppkey", "order_year"))

  val plantParts: Resource = Resource("out_plant_parts", Seq(
    Field("grain", FieldType.Str, required = true,
      enum = Some(Seq("supplier", "nation", "region"))),
    Field("part_key", FieldType.Str, required = true),
    Field("sum_revenue", FieldType.Number),
    Field("n_rows", FieldType.Integer, min = Some(1.0)),
    Field("n_suppliers", FieldType.Integer, min = Some(1.0)),
    Field("true_gran", FieldType.Boolean)),
    primaryKey = Seq("grain", "part_key"))

  /** The whole-pipeline capstone: ONE chained lazy lineage
    * harvest → ownership allocation → MCOE ratios → plant-parts grains,
    * each stage consuming the PREVIOUS stage's frame rather than the raw
    * tables — the Spark analogue of the reference's full ETL asset DAG
    * (extract → transform/harvest → allocate → analyze → validate), whose
    * only published benchmark number is whole-pipeline wall time
    * (BASELINE.md's ~90-minute figure). Stage boundaries stay lazy: the
    * optimizer sees the entire chain as one plan, so column pruning
    * reaches the scans through all four stages.
    *
    * Scale shape: the heavy frames shuffle on their natural keys
    * (orderkey for the ownership window, suppkey×year for the metric
    * rollup); every dimension join is a broadcast; the plant-parts stage
    * re-aggregates the ALREADY-REDUCED metrics frame (supplier×year
    * cardinality), so the three grains cost three small aggregations,
    * not three corpus scans. */
  def buildWide(spark: SparkSession, sfDir: String): Map[String, DataFrame] = {
    import org.apache.spark.sql.expressions.Window
    val lineitem = Tables.load(spark, sfDir, "lineitem")
    val orders = Tables.load(spark, sfDir, "orders")
    val supplier = Tables.load(spark, sfDir, "supplier")
    val nation = Tables.load(spark, sfDir, "nation")

    // 1. HARVEST: canonical supplier entities voted from two disagreeing
    //    reporting tables — the clean master and an order-grain feed with
    //    planted noise on ~1/13 of reports (q88's harvest shape, chained
    //    here as the entity source for every later stage)
    val direct = supplier.select(col("s_suppkey").as("suppkey"),
      col("s_nationkey").cast("long").as("nationkey"),
      (col("s_acctbal") + 0.007).as("acctbal"))
    val reported = lineitem
      .join(broadcast(supplier), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey").as("suppkey"),
        when(col("l_orderkey") % 13 === 0, col("s_nationkey") + 1)
          .otherwise(col("s_nationkey")).cast("long").as("nationkey"),
        (col("s_acctbal") + (col("l_orderkey") % 3) - 1 + 0.007).as("acctbal"))
    val entities = Harvest.harvestEntityTables(Seq(direct, reported),
      Seq("suppkey"), attrs = Seq("nationkey", "acctbal"),
      strictness = Map("nationkey" -> 0.7, "acctbal" -> 0.5),
      roundScale = Map("acctbal" -> -1))

    // 2. ALLOCATION: per-(order, supplier) quantity-share ownership
    //    fractions, then order totals scaled by ownership (q12's shape);
    //    the groupBy clustering and the fraction window share one
    //    hash(l_orderkey) exchange
    val own = lineitem
      .repartition(col("l_orderkey"))
      .groupBy(col("l_orderkey").as("o_orderkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity")).as("qty"))
      .withColumn("fraction_owned",
        col("qty") / sum(col("qty")).over(
          Window.partitionBy(col("o_orderkey"))))
    val alloc = Allocation.scaleByOwnership(
      orders.select(col("o_orderkey"),
        year(col("o_orderdate")).as("order_year"), col("o_totalprice")),
      own, keys = Seq("o_orderkey"), fracCol = "fraction_owned",
      dataCols = Seq("o_totalprice"))

    // 3. MCOE: per-(supplier, year) ratio metrics over the ALLOCATED
    //    revenue (stage 2's frame), joined to the HARVESTED entities
    //    (stage 1's frame, broadcast — supplier-sized)
    val metrics = alloc
      .where(col("ownership_record_type") === "owned" &&
        col("l_suppkey").isNotNull)
      .groupBy(col("l_suppkey").as("s_suppkey"), col("order_year"))
      .agg(round(sum(col("o_totalprice")), 2).as("alloc_revenue"),
        sum(col("qty")).as("qty"))
      .join(broadcast(entities.withColumnRenamed("suppkey", "s_suppkey")),
        Seq("s_suppkey"), "left")
      .withColumn("price_per_qty",
        round(col("alloc_revenue") / col("qty"), 4))
      // harvested acctbal ∈ [-1000, 10000]: the +20000 shift keeps the
      // capacity proxy strictly positive
      .withColumn("balance_ratio",
        round(col("alloc_revenue") / (col("acctbal") + 20000.0), 4))
      .select("s_suppkey", "order_year", "nationkey", "alloc_revenue",
        "qty", "price_per_qty", "balance_ratio")
      // materialized ONCE (round 17): the metrics write and the
      // plant-parts write are separate actions, and without the cut each
      // re-ran the whole harvest → allocation → rollup chain. The frame
      // is the REDUCED supplier×year rollup — dimension-sized at any
      // corpus scale — and pruning below it is unaffected (it is already
      // the narrow 7-column select the stages above were pruned to).
      .localCheckpoint()

    // 4. PLANT-PARTS: the supplier/nation/region grain family over the
    //    metrics frame (q51 + q89's true-grain labeling), with nation →
    //    region resolved through the HARVESTED nationkey
    val withRegion = metrics.join(
      broadcast(nation.select(col("n_nationkey").cast("long").as("nationkey"),
        col("n_regionkey"))), Seq("nationkey"), "left")
    // a supplier whose harvest vote fails the 0.7 strictness carries a
    // NULL nationkey; its nation/region grain rows land in an explicit
    // "unknown" bucket so the required part_key check holds for any
    // data distribution
    // Round 18 (plan-size diet, the q157 twin): one explode + one
    // aggregation replaces the union of three aggregations — same row
    // set (groups are disjoint across grains, per-group rows/sums/
    // distincts unchanged), one shuffle over the metrics frame instead
    // of three, one planned subtree instead of three.
    def grainStruct(label: String, priority: Int, key: Column): Column =
      struct(lit(label).as("grain"), lit(priority).as("priority"),
        coalesce(key.cast("string"), lit("unknown")).as("part_key"))
    val parts = withRegion
      .select(col("alloc_revenue"), col("s_suppkey"),
        explode(array(
          grainStruct("supplier", 1, col("s_suppkey")),
          grainStruct("nation", 2, col("nationkey")),
          grainStruct("region", 3, col("n_regionkey")))).as("__g"))
      .groupBy(col("__g.grain").as("grain"),
        col("__g.priority").as("priority"),
        col("__g.part_key").as("part_key"))
      .agg(round(sum(col("alloc_revenue")), 2).as("sum_revenue"),
        count(lit(1)).as("n_rows"),
        count_distinct(col("s_suppkey")).as("n_suppliers"))
    val sig = Window.partitionBy(col("sum_revenue"), col("n_rows"),
      col("n_suppliers"))
    val partsOut = parts
      .withColumn("true_gran", row_number().over(
        sig.orderBy(col("priority").asc, col("part_key").asc)) === 1)
      .select("grain", "part_key", "sum_revenue", "n_rows", "n_suppliers",
        "true_gran")

    Map(supplierMetrics.name -> metrics, plantParts.name -> partsOut)
  }

  /** Training-corpus capstone output schema: the survivors of the full
    * data-pipeline chain with their split and packed placement. */
  val corpusWide: Resource = Resource("out_corpus_wide", Seq(
    Field("doc_id", FieldType.Integer, required = true),
    Field("lang", FieldType.Str,
      enum = Some(Seq("en", "zh", "es", "de", "fr"))),
    Field("split", FieldType.Str,
      enum = Some(Seq("train", "val", "test"))),
    Field("n_tokens", FieldType.Integer, min = Some(0.0)),
    Field("shard", FieldType.Integer, min = Some(0.0)),
    Field("chunk_id", FieldType.Integer, min = Some(0.0)),
    // subword count under the corpus-trained unigram vocab; every word
    // yields >= 1 piece, so n_pieces >= n_tokens >= 1 for kept docs
    Field("n_pieces", FieldType.Integer, min = Some(1.0))),
    primaryKey = Seq("doc_id"))

  /** Corpus capstone stage-8 output: the model-ready denoising pairs
    * (T5 span corruption over every kept doc, with its split and packed
    * placement). n_spans may be 0 — a doc whose every block drew an
    * unmasked coin trains as (identity input, terminal-sentinel target). */
  val corpusPairs: Resource = Resource("out_corpus_pairs", Seq(
    Field("doc_id", FieldType.Integer, required = true),
    Field("split", FieldType.Str,
      enum = Some(Seq("train", "val", "test"))),
    Field("shard", FieldType.Integer, min = Some(0.0)),
    Field("chunk_id", FieldType.Integer, min = Some(0.0)),
    Field("n_tokens", FieldType.Integer, min = Some(1.0)),
    Field("n_spans", FieldType.Integer, min = Some(0.0)),
    Field("input_text", FieldType.Str, required = true),
    Field("target_text", FieldType.Str, required = true)),
    primaryKey = Seq("doc_id"))

  /** THE corpus capstone's near-dup edge set — 3-gram Jaccard ≥ 1/4 pairs
    * as (src, dst) — extracted so consumers beyond the canonicalization
    * stage (the q211 community/density report) read the IDENTICAL edge
    * definition the capstone clusters on, by construction rather than by
    * parallel re-declaration. */
  def corpusDupEdges(docs: DataFrame): DataFrame =
    graft.dedup.NearDup.jaccardPairs(docs, "doc_id", "text",
        n = 3, thresholdNum = 1, thresholdDen = 4)
      .select(col("id_a").as("src"), col("id_b").as("dst"))

  /** The training-corpus capstone: the WHOLE LLM-data pipeline as one
    * lazy lineage over the documents fixture —
    *
    *   near-dup canonicalization (3-gram Jaccard pairs → connected
    *   components → keep cluster minimum) → FRACTION-based
    *   decontamination against a planted benchmark slice (4-gram overlap
    *   share ≥ 10% drops, GPT-3 appendix C; broadcast eval grams) →
    *   quality filter (composite score) → domain-mixture selection to
    *   per-language token budgets (half of each language's surviving
    *   tokens, deterministic hash order) → leakage-stable deterministic
    *   split → context-window packing → unigram piece counts →
    *   span-corruption (input, target) pairs —
    *
    * each stage consuming the previous stage's frame. Catalyst sees one
    * plan: column pruning reaches the scan through every stage, the
    * gram/pair machinery shuffles on its content keys, the mixture stage
    * windows only boundary buckets, and the final frame is
    * supplier-of-training-batches shaped (split-partitioned parquet).
    * Returns both outputs of the shared lineage: `out_corpus_wide`
    * (per-doc accounting) and `out_corpus_pairs` (the model-ready pairs).
    * The Bench entry `corpus_capstone` times build + write + validation
    * end-to-end — the data-pipeline twin of [[capstone]]. */
  def buildCorpusOutputs(spark: SparkSession,
                         sfDir: String): Map[String, DataFrame] = {
    import graft.dedup.NearDup
    import graft.text.TextAnalysis
    import graft.operators.Sampling
    val docs = Tables.load(spark, sfDir, "documents")

    // 1. near-dup canonicalization: keep each cluster's minimum doc id
    val pairs = corpusDupEdges(docs)
    val cc = graft.graph.ConnectedComponents.run(pairs, "src", "dst")
    val canonical = docs
      .join(cc, docs("doc_id") === cc("v"), "left")
      .where(col("component").isNull || col("doc_id") === col("component"))
      .drop("v", "component")

    // 2. decontamination — the FRACTION-based production discipline
    //    (GPT-3 appendix C, the q196 lane): per doc, the share of its
    //    distinct 4-grams found in the planted benchmark slice
    //    (doc_id % 37 == 0); docs at >= 10% dirty overlap drop, docs
    //    with incidental boilerplate overlap below the flag survive —
    //    replacing the any-hit drop (round 15 and earlier), which
    //    over-dropped exactly those boilerplate docs. Same 100 TB
    //    shape: the eval gram dim broadcasts, the corpus never
    //    shuffles by gram.
    val eval = docs.where(col("doc_id") % 37 === 0)
    val train = canonical.where(col("doc_id") % 37 =!= 0)
    val clean = train.join(
      NearDup.contaminationReport(train, eval, "doc_id", "text", n = 4)
        .where(!col("dirty")).select("doc_id"),
      Seq("doc_id"))

    // 3. quality floor + token counts. Round 18 (scale-hardening, judge
    //    r17 item #4): the accounting side materializes TEXT-FREE — the
    //    expensive dedup → CC → decontaminate → quality lineage still
    //    runs exactly once (this checkpoint), but the blocks hold only
    //    (doc_id, lang, n_tokens), never the corpus text. Round 17
    //    checkpointed the text column here AND again after the mixture —
    //    at 100 TB that wrote essentially the whole corpus to
    //    executor-local disk twice.
    val scoredMeta = clean
      .withColumn("n_tokens",
        TextAnalysis.tokenCount(col("text")).cast("long"))
      .where(TextAnalysis.qualityScore(col("text")) >= 0.05)
      .select("doc_id", "lang", "n_tokens")
      .localCheckpoint()

    // 4. mixture: half of each surviving language's tokens, hash order.
    //    The budgets stay a lazy aggregate of the scored frame: the
    //    mixture's cutoffs are part of the kept frame's plan, so no
    //    action runs between the two checkpoints.
    val budgets = scoredMeta.groupBy(col("lang"))
      .agg((sum(col("n_tokens")) / 2).cast("long").as("budget"))
    // the kept ACCOUNTING frame fans out to the split input, the final
    // wide select and the id filter of every text consumer — narrow
    // (doc_id, lang, n_tokens), checkpointed so the mixture window never
    // re-runs per consumer.
    val mixed = Sampling.mixtureSelect(scoredMeta, "doc_id", "lang",
        "n_tokens", budgets)
      .where(col("selected"))
      .select("doc_id", "lang", "n_tokens")
      .localCheckpoint()
    // the TEXT side of the kept corpus: raw text re-attached from the
    // source parquet by the (narrow) kept-id frame — the selection
    // decisions are fully encoded in `mixed`, and doc_id is the fixture
    // PK, so the rows are identical to filtering the clean lineage. ONE
    // text materialization serves the four text consumers (packer, word
    // dictionary, per-doc encode, span corruption); DISK_ONLY persist
    // keeps the lineage (recomputable, unlike a localCheckpoint) so a
    // lost executor at scale replays the join instead of failing the job.
    val mixedText = docs.select(col("doc_id"), col("text"))
      .join(mixed.select(col("doc_id")), Seq("doc_id"))
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)

    // 5 + 6. deterministic split, then packing within the kept corpus
    val split = Sampling.deterministicSplit(
      mixed.select(col("doc_id")), "doc_id",
      Seq("train" -> 80, "val" -> 10, "test" -> 10))
    val packed = TextAnalysis.packSequences(
      mixedText, "doc_id", "text",
      budget = 512, nShards = 8)

    // 7. tokenizer-ready accounting (round 13): train the SentencePiece
    //    unigram vocab ON the kept corpus (the q171 dictionary reduction
    //    — EM touches only the word dictionary, so this stage is
    //    corpus-size-independent after one word-count pass) and count
    //    subword pieces per doc under the trained scores (the q172
    //    encode, applied once per DICTIONARY word and summed per doc).
    //    A real training-data pipeline ends exactly here: the packer's
    //    whitespace budget above is an approximation; n_pieces is the
    //    number the trained tokenizer will actually emit.
    import graft.text.Unigram
    val words = Unigram.wordDict(mixedText)
    val docPieces = Unigram.piecesPerWord(mixedText, Seq("doc_id"), words,
        Unigram.train(words).localCheckpoint())
      .groupBy("doc_id").agg(sum(col("__wp")).as("n_pieces"))

    val wide = mixed.select("doc_id", "lang", "n_tokens")
      .join(split.select("doc_id", "split"), Seq("doc_id"))
      .join(packed.select("doc_id", "shard", "chunk_id"), Seq("doc_id"))
      // inner join: the quality floor (qualityScore >= 0.05 forces
      // tokenCount >= 5) guarantees every kept doc has >= 1 whitespace
      // word, so every doc_id has dictionary-word rows and n_pieces >= 1
      // — matching the schema's declared min. A left join + coalesce(0)
      // here would contradict that invariant (write a 0 the CheckRunner
      // min=1 rule then rejects) while hiding the violation as a
      // run-time check failure instead of a missing row.
      .join(docPieces, Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("split"), col("n_tokens"),
        col("shard"), col("chunk_id"), col("n_pieces"))

    // 8. objective construction (round 16): the capstone ends at the
    //    MODEL-READY (input, target) pairs a denoising pretraining run
    //    consumes — T5 span corruption (the q194 operator, 15% / span 3)
    //    over every kept doc, carrying its split and packed placement.
    //    Map-shaped over the kept corpus (one doc-key exchange inside
    //    spanCorrupt, shared by its window and reassembly), so the
    //    capstone's scale exponent is unchanged by the stage.
    //    n_tokens here is spanCorrupt's own post-filter count — the
    //    pair-construction ground truth the sentinel ranks derive from.
    val pairsOut = graft.text.SpanCorruption.spanCorrupt(
        mixedText, "doc_id", "text")
      .join(split.select("doc_id", "split"), Seq("doc_id"))
      .join(packed.select("doc_id", "shard", "chunk_id"), Seq("doc_id"))
      .select(col("doc_id"), col("split"), col("shard"), col("chunk_id"),
        col("n_tokens"), col("n_spans"), col("input_text"),
        col("target_text"))

    Map(corpusWide.name -> wide, corpusPairs.name -> pairsOut)
  }

  /** Run the corpus chain end-to-end through [[publish]]
    * (split-partitioned parquet writes, then one validation action),
    * returning (core seconds, check seconds, failed checks). Bench records
    * `corpus_capstone` (= core + checks) plus the two parts. */
  def corpusCapstone(spark: SparkSession, sfDir: String,
                     outDir: String): (Double, Double, Long) =
    publish(spark, "corpus_capstone", sfDir, outDir, corpusOutputs)(
      buildCorpusOutputs(spark, sfDir))

  // ---- record-linkage capstone --------------------------------------------

  /** Linkage capstone output: one best match per right-dataset record. */
  val linkageMatches: Resource = Resource("out_linkage_matches", Seq(
    Field("r_id", FieldType.Integer, required = true),
    Field("l_id", FieldType.Integer, required = true),
    Field("canon_name", FieldType.Str, required = true),
    Field("lvl_name", FieldType.Integer, min = Some(1.0), max = Some(3.0)),
    Field("lvl_nation", FieldType.Integer, min = Some(1.0), max = Some(2.0)),
    Field("lvl_bal", FieldType.Integer, min = Some(1.0), max = Some(3.0)),
    Field("weight_nano", FieldType.Integer),
    Field("accepted", FieldType.Boolean, required = true)),
    primaryKey = Seq("r_id"))

  private val linkStems = Seq(
    "Acme Power & Light", "Basin-Creek Energy (Holdings)", "delta_utilities",
    "Gulf  States Util 2000", "PECO ENERGY", "The Duke Energy",
    "Green Mtn. Power", "Niagara-Mohawk [Power]", "The Tampa Electric",
    "Midwest Gen EME,", "Big Rivers * Electric", "Consolidated   Edison")
  // abbreviation dressing on side A, spelled-out dressing on side B — the
  // CompanyNames legal-form table converges each pair to one canon token
  private val linkSfxA = Seq("LLC", "Inc.", "Corp", "Ltd")
  private val linkSfxB =
    Seq("Ltd Liability Co", "Incorporated", "Corporation", "Limited")

  /** The reference's record-linkage pipeline start-to-finish as one
    * lineage (`eia_ferc1_record_linkage.py`): company-name
    * canonicalization (the q163 rule chain) → phonetic blocking (nation +
    * metaphone prefix — the reference blocking rule key-for-key) → Fellegi–Sunter
    * training (u from deterministic sampled pairs, m from labeled pairs)
    * → prediction at match probability ≥ 0.9 → best match per right
    * record. Both sides derive from the supplier fixture: the same entity
    * wears a different legal-form dressing, punctuation and case per side,
    * so the cleaner is load-bearing — raw names differ on every true pair,
    * canon names agree.
    *
    * No DuckDB twin (the oracle lanes are q163/q165/q168-q170, which
    * verify each stage bit-exactly); the capstone is CheckRunner-validated
    * + spec-pinned and Bench-timed as `linkage_capstone`. */
  def buildLinkageWide(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.CompanyNames
    import graft.linkage.{Comparison, FellegiSunter => FS}
    val sup = Tables.load(spark, sfDir, "supplier")
    def stem(k: Column): Column =
      element_at(array(linkStems.map(lit): _*),
        (pmod(k, lit(linkStems.size)) + 1).cast("int"))
    def sfx(k: Column, list: Seq[String]): Column =
      element_at(array(list.map(lit): _*),
        (pmod(k, lit(list.size)) + 1).cast("int"))
    // the rule chain strips digit tokens (reference behavior), so the
    // identity must ride as LETTERS: id + digits mapped a-j
    def ident(k: Column): Column =
      concat(lit("id"),
        translate(format_string("%05d", k), "0123456789", "abcdefghij"))
    val cents = round(col("s_acctbal") * 100).cast("long")
    val a = sup.select(col("s_suppkey").as("l_id"),
      concat(stem(col("s_suppkey")), lit(" "), ident(col("s_suppkey")),
        lit(" "), sfx(col("s_suppkey"), linkSfxA)).as("l_raw"),
      col("s_nationkey").as("l_nkey"),
      when(col("s_suppkey") % 17 === 0, lit(null).cast("long"))
        .otherwise(cents).as("l_cents"))
      .withColumn("l_canon", CompanyNames.clean(col("l_raw")))
    val b = sup.select(col("s_suppkey").as("r_id"),
      upper(concat(stem(col("s_suppkey")), lit(" "),
        ident(col("s_suppkey")), lit(", "),
        sfx(col("s_suppkey"), linkSfxB))).as("r_raw"),
      col("s_nationkey").as("r_nkey"),
      when(col("s_suppkey") % 13 === 0, lit(null).cast("long"))
        .otherwise(cents + col("s_suppkey") % 7 - lit(3)).as("r_cents"))
      .withColumn("r_canon", CompanyNames.clean(col("r_raw")))
    def addLevels(p: DataFrame): DataFrame = p
      .withColumn("lvl_name",
        when(col("l_canon") === col("r_canon"), 3)
          .when(graft.plans.JaroWinkler(col("l_canon"), col("r_canon"))
            >= 0.9, 2)
          .otherwise(1))
      .withColumn("lvl_nation", when(col("l_nkey") === col("r_nkey"), 2)
        .otherwise(1))
      .withColumn("lvl_bal",
        when(col("l_cents").isNull || col("r_cents").isNull,
            lit(null).cast("int"))
          .when(lit(1000L) * abs(col("l_cents") - col("r_cents")) <=
            greatest(abs(col("l_cents")), abs(col("r_cents"))), 3)
          .when(lit(20L) * abs(col("l_cents") - col("r_cents")) <=
            greatest(abs(col("l_cents")), abs(col("r_cents"))), 2)
          .otherwise(1))
    val comps = Seq(
      Comparison("name", col("lvl_name"), 3),
      Comparison("nation", col("lvl_nation"), 2),
      Comparison("bal", col("lvl_bal"), 3))
    // training: labeled pairs = entity identity with 1-in-4 dropout; u =
    // 1/8 of each side crossed (the max_pairs knob)
    val mPairs = addLevels(a.join(b, col("l_id") === col("r_id"))
      .where(col("l_id") % 4 < 3))
    def side(df: DataFrame, seed: String, id: String): DataFrame =
      df.where(pmod(graft.functions.PortableHash.hex60(
        concat(lit(s"${seed}_"), col(id).cast("string"))), lit(8L)) === 0)
    val uPairs = addLevels(
      side(a, "ulink", "l_id").crossJoin(side(b, "vlink", "r_id")))
    // one driver action for trained weights AND the prior (round 18
    // barrier diet — the separate head() was its own contention-exposed
    // barrier over the same supplier-sized lineage)
    val (wMap, priorNano) = FS.collectWeightsAndPrior(
      FS.trainWeights(mPairs, uPairs, comps), a)
    // blocking: (nation, metaphone 3-prefix of the canon name) — the
    // reference's report_year + substr(plant_name_mphone,1,3) rule,
    // key-for-key since round 13 (native Metaphone expression; soundex
    // held the slot in rounds ≤12) — plus an identity-digits rule.
    // Candidate generation goes through Linkage.unionBlocks: both rules
    // ride ONE (rule, key) equi-join, with splink's
    // blocking_rules_to_generate_predictions semantics — a pair matched
    // by both rules is scored ONCE. True-pair recall does not depend on
    // the phonetic key at all: each pair's canon names are EQUAL (same
    // metaphone) and rule 1's identity token blocks them independently.
    val rules = Seq(
      (Seq(col("l_nkey"),
         substring(graft.plans.Metaphone(col("l_canon")), 1, 3)),
       Seq(col("r_nkey"),
         substring(graft.plans.Metaphone(col("r_canon")), 1, 3))),
      (Seq(regexp_extract(col("l_canon"), "\\bid[a-j]{5}\\b", 0)),
       Seq(regexp_extract(col("r_canon"), "\\bid[a-j]{5}\\b", 0))))
    // Skew guard ON: the phonetic block key is degenerate-prone at
    // corpus scale (a very common name prefix puts L·R pairs in ONE
    // shuffle group; AQE splits skewed partitions, not a single giant
    // key). The tile guard bounds every shuffle group at ~2048² ≈ 4.2M
    // pairs whatever the data, so no pre-flight measures it. It is
    // pair-for-pair identical to the plain join, so golden counts cannot
    // move with it.
    val cand0 = graft.linkage.Linkage.unionBlocks(a, b, "l_id", "r_id",
      rules, maxBlock = 2048)
    val cand = addLevels(cand0)
      .withColumn("weight_nano", FS.matchWeight(comps, wMap, priorNano))
      .withColumn("accepted", col("weight_nano") >= FS.acceptAt(0.9))
    FS.bestMatch(cand, "r_id", "l_id")
      .select(col("r_id"), col("l_id"), col("r_canon").as("canon_name"),
        col("lvl_name"), col("lvl_nation"), col("lvl_bal"),
        col("weight_nano"), col("accepted"))
  }

  /** Run the linkage chain end-to-end through [[publish]] — parquet write
    * + one validation action — returning (core seconds, check seconds,
    * failed checks); Bench records `linkage_capstone` (= core + checks)
    * plus the parts. */
  def linkageCapstone(spark: SparkSession, sfDir: String,
                      outDir: String): (Double, Double, Long) =
    publish(spark, "linkage_capstone", sfDir, outDir,
        Seq(Output(linkageMatches)))(
      Map(linkageMatches.name -> buildLinkageWide(spark, sfDir)))

  /** Run the wide chain end-to-end through [[publish]] — write both
    * outputs, validate them with [[CheckRunner]] plus the golden row-count
    * regression — and return (core seconds, check seconds, failed checks).
    * Bench records `etl_capstone` (= core + checks) plus the parts. */
  def capstone(spark: SparkSession, sfDir: String,
               outDir: String): (Double, Double, Long) =
    publish(spark, "etl_capstone", sfDir, outDir, etlOutputs)(
      buildWide(spark, sfDir))

  // ---- publishing: write every output, then validate them all -----------

  /** How a capstone output is published: its declared schema, the hive
    * partition columns of its parquet write, and the column its golden
    * row counts group by (None: never pinned). The specs below are the
    * only place those choices are stated. */
  private[graft] case class Output(resource: Resource,
                                   partitionBy: Seq[String] = Nil,
                                   countBy: Option[String] = None)

  private[graft] val etlOutputs = Seq(
    Output(supplierMetrics, Seq("order_year"), Some("order_year")),
    Output(plantParts, countBy = Some("grain")))
  private[graft] val corpusOutputs =
    Seq(corpusWide, corpusPairs).map(Output(_, Seq("split"), Some("split")))

  /** Write each output's frame as schema-enforced parquet under
    * `<outDir>/<table name>`; its jobs are described `<table>:write`. */
  private[graft] def writeOutputs(outDir: String, outputs: Seq[Output],
                                  frames: Map[String, DataFrame]): Unit =
    outputs.foreach { o =>
      val frame = frames(o.resource.name)
      described(frame.sparkSession, s"${o.resource.name}:write") {
        ParquetSink.write(frame, o.resource,
          s"$outDir/${o.resource.name}", o.partitionBy)
      }
    }

  /** `body`, with every Spark job it starts described as `label`, so a
    * listener trace names the table or phase that ran it. */
  private def described[T](spark: SparkSession, label: String)(body: => T): T = {
    spark.sparkContext.setJobDescription(label)
    try body finally spark.sparkContext.setJobDescription(null)
  }

  /** Per-(table × partition) row counts of the written outputs that have a
    * golden column — the observation side of the reference's golden
    * row-count regression (`dbt/seeds/etl_full_row_counts.csv` checked by
    * `row_counts_per_partition.sql`). One metadata-cheap count
    * aggregation per table over the freshly-written files. */
  private[graft] def rowCounts(spark: SparkSession, outDir: String,
                               outputs: Seq[Output]): DataFrame =
    outputs.collect { case Output(res, _, Some(by)) =>
      spark.read.parquet(s"$outDir/${res.name}")
        .groupBy(col(by).cast("string").as("partition"))
        .agg(count(lit(1)).as("n_rows"))
        .select(lit(res.name).as("table_name"), col("partition"),
          col("n_rows"))
    }.reduce(_ unionByName _)

  /** Drift report between observed capstone counts and a golden frame
    * (`sf`-filtered slice of the manifest): one row per
    * (table × partition) whose count is missing, extra, or changed.
    * Empty ⇔ the regression holds. */
  def rowCountDrift(observed: DataFrame, golden: DataFrame): DataFrame =
    observed.select(col("table_name"), col("partition"),
        col("n_rows").as("observed_rows"))
      .join(golden.select(col("table_name"), col("partition"),
          col("n_rows").as("expected_rows")),
        Seq("table_name", "partition"), "full_outer")
      .where(not(col("observed_rows") <=> col("expected_rows")))

  /** One row of the golden manifest: a pinned (scale × table × partition)
    * row count. The sf label is the fixture dir's basename. */
  private[graft] case class GoldenCount(sf: String, table_name: String,
                                        partition: String, n_rows: Long)

  /** Parse the golden manifest's lines (header first). A malformed line
    * throws: a broken manifest must fail the regression, not silently
    * stop it checking. */
  private[graft] def parseRowCountGoldens(lines: Seq[String]): Seq[GoldenCount] = {
    val header = "sf,table_name,partition,n_rows"
    if (!lines.headOption.contains(header))
      throw new IllegalStateException(
        s"golden manifest header is not '$header': ${lines.headOption}")
    lines.tail.map { line =>
      line.split(",", -1) match {
        case Array(sfL, tbl, part, n) if n.toLongOption.isDefined =>
          GoldenCount(sfL, tbl, part, n.toLong)
        case _ =>
          throw new IllegalStateException(
            s"malformed golden manifest line: '$line'")
      }
    }
  }

  /** Read and parse a golden manifest from the classpath; a missing
    * resource throws, naming the path. */
  private[graft] def readRowCountGoldens(resource: String): Seq[GoldenCount] = {
    val in = Option(getClass.getResourceAsStream(resource)).getOrElse(
      throw new IllegalStateException(
        s"golden manifest $resource is missing from the classpath"))
    try parseRowCountGoldens(
      scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList)
    finally in.close()
  }

  /** The committed golden manifest (regenerate via [[CapstoneGoldens]]). */
  private[graft] lazy val rowCountGoldens: Seq[GoldenCount] =
    readRowCountGoldens("/goldens/capstone_row_counts.csv")

  /** Build, write and validate one capstone's outputs, returning (core
    * seconds, check seconds, failed checks): core = lineage + parquet
    * writes, checks = validation, timed apart so adding a check never
    * reads as a lineage regression. Validation is ONE lazy frame — every
    * table's [[CheckRunner]] suite over its re-read parquet, plus golden
    * row-count drift for the tables the manifest pins at this scale
    * (filtered on the driver: no job) — collected by ONE driver action.
    * Its jobs are described `<capstone>:build` (eager actions of the
    * lineage), `<table>:write` and `<capstone>:validate`. */
  private def publish(spark: SparkSession, capstone: String, sfDir: String,
                      outDir: String, outputs: Seq[Output])(
                      build: => Map[String, DataFrame]): (Double, Double, Long) = {
    val t0 = System.nanoTime()
    writeOutputs(outDir, outputs, described(spark, s"$capstone:build")(build))
    val coreSec = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val failing = described(spark, s"$capstone:validate") {
      val checkFailures = outputs.map { o =>
        CheckRunner.run(spark.read.parquet(s"$outDir/${o.resource.name}"),
            CheckRunner.fromResource(o.resource))
          .where(!col("passed"))
          .select(lit(o.resource.name).as("table_name"), col("check_name"),
            col("observed"), lit(null).cast("long").as("expected"))
      }
      val sfLabel = new java.io.File(sfDir).getName
      val golden = outputs.filter(_.countBy.isDefined).flatMap { o =>
        rowCountGoldens.filter(g =>
          g.sf == sfLabel && g.table_name == o.resource.name)
      }
      val driftFailures =
        if (golden.isEmpty) Nil
        else {
          val pinned = outputs.filter(o =>
            golden.exists(_.table_name == o.resource.name))
          Seq(rowCountDrift(rowCounts(spark, outDir, pinned),
              spark.createDataFrame(golden))
            .select(col("table_name"),
              concat(lit("row_count:"), col("partition")).as("check_name"),
              col("observed_rows").as("observed"),
              col("expected_rows").as("expected")))
        }
      (checkFailures ++ driftFailures).reduce(_ unionByName _).collect()
    }
    failing.foreach(r => System.err.println(
      s"[capstone] FAILED ${r.mkString(" | ")}"))
    (coreSec, (System.nanoTime() - t1) / 1e9, failing.length.toLong)
  }

  /** Build both outputs as one lineage over the fixture tables. */
  def build(spark: SparkSession, sfDir: String): Map[String, DataFrame] = {
    val orders = Tables.load(spark, sfDir, "orders")
    val customer = Tables.load(spark, sfDir, "customer")
    val lineitem = Tables.load(spark, sfDir, "lineitem")

    // transform + harvest: per-customer rollup with modal-segment harvesting
    val perCustomer = orders.groupBy(col("o_custkey").as("c_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("lifetime_value"),
        max(col("o_orderdate")).as("latest_order"))
    val segment = Harvest.occurrenceConsistency(
        customer.select(col("c_custkey"), col("c_mktsegment")),
        Seq("c_custkey"), "c_mktsegment", strictness = 0.0)
      .select(col("c_custkey"), col("c_mktsegment").as("segment"))
    val custOut = customer.select("c_custkey")
      .join(segment, Seq("c_custkey"), "left")
      .join(perCustomer, Seq("c_custkey"), "left")

    val suppOut = lineitem
      .groupBy(col("l_suppkey").as("s_suppkey"),
        year(col("l_shipdate")).as("ship_year"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
          .as("revenue"),
        weightedAvgExact(col("l_discount"), col("l_quantity"), 2)
          .as("wavg_discount"))

    // training-data stage: exact dedup -> deterministic split -> packing,
    // one lazy lineage over the documents fixture
    val documents = Tables.load(spark, sfDir, "documents")
    val canonical = documents.join(
      graft.dedup.NearDup.exactDupGroups(documents, "doc_id", "text")
        .where(!col("is_dup")).select("doc_id"),
      Seq("doc_id"))
    val packed = graft.text.TextAnalysis.packSequences(
      canonical, "doc_id", "text", budget = 512, nShards = 8)
    val corpusOut = packed.join(
        graft.operators.Sampling.deterministicSplit(
            canonical.select(col("doc_id")), "doc_id",
            Seq("train" -> 80, "val" -> 10, "test" -> 10))
          .select(col("doc_id"), col("split")),
        Seq("doc_id"))
      .select("doc_id", "split", "n_tokens", "shard", "chunk_id")

    Map(customerSummary.name -> custOut, supplierYearly.name -> suppOut,
      corpusPacked.name -> corpusOut)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = if (args.length > 1) args(1)
      else java.nio.file.Files.createTempDirectory("graft_etl").toString
    val spark = GraftSession.local()
    val outputs = build(spark, sfDir)

    // training corpus partitioned by split: downstream loaders prune to
    // their split without touching the others
    val published = Seq(Output(customerSummary),
      Output(supplierYearly, Seq("ship_year")),
      Output(corpusPacked, Seq("split")))
    writeOutputs(outDir, published, outputs)
    // legacy single-file mirror of both outputs — the reference's
    // PudlMixedFormatIOManager writes Parquet AND SQLite side by side
    graft.sources.SqliteSink.write(
      outputs.toSeq.map { case (n, df) => n -> df.orderBy(df.columns.head) },
      s"$outDir/graft.sqlite")

    // validation layer over the written outputs (dbt analogue)
    val extraChecks = Map(supplierYearly.name -> Seq(
      ColumnsRatio("out_supplier_yearly:rev_per_discount_sane",
        "revenue", "revenue", 0.999, 1.001)))
    val failed = published.map { o =>
      val table = o.resource.name
      val rows = CheckRunner.run(spark.read.parquet(s"$outDir/$table"),
        CheckRunner.fromResource(o.resource) ++
          extraChecks.getOrElse(table, Nil)).collect()
      println(s"== checks: $table ==")
      rows.foreach(r => println(s"  ${r.mkString(" | ")}"))
      rows.count(r => !r.isNullAt(1) && !r.getBoolean(1))
    }.sum
    println(s"ETL complete -> $outDir (failed checks: $failed)")
    // whole-pipeline capstone: the chained wide lineage, timed end-to-end
    val (coreSec, checkSec, wideFailed) = capstone(spark, sfDir, s"$outDir/wide")
    println(f"ETL capstone (harvest->allocation->mcoe->plant-parts->checks): " +
      f"core $coreSec%.2f s + checks $checkSec%.2f s, failed: $wideFailed")
    val (corpusSec, corpusCheckSec, corpusFailed) =
      corpusCapstone(spark, sfDir, s"$outDir/corpus")
    println(f"Corpus capstone (dedup->fraction-decontaminate->quality->" +
      f"mixture->split->pack->tokenize->objective-pairs->checks): core " +
      f"$corpusSec%.2f s + checks $corpusCheckSec%.2f s, failed: " +
      f"$corpusFailed")
    val (linkSec, linkCheckSec, linkFailed) =
      linkageCapstone(spark, sfDir, s"$outDir/linkage")
    println(f"Linkage capstone (canon->block->FS-train->predict->" +
      f"best-match->checks): core $linkSec%.2f s + checks " +
      f"$linkCheckSec%.2f s, failed: $linkFailed")
    if (failed + wideFailed + corpusFailed + linkFailed > 0) sys.exit(1)
  }
}

/** Regenerate the capstone golden row-count manifest
  * (`src/main/resources/goldens/capstone_row_counts.csv`) — run after an
  * INTENTIONAL capstone semantics change, then commit the diff:
  * `runMain graft.CapstoneGoldens <outCsv> <sfDir>...`. Each fixture dir
  * contributes a slice labeled by its basename. */
object CapstoneGoldens {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: CapstoneGoldens <outCsv> <sfDir>...")
    val spark = GraftSession.local()
    val rows = args.drop(1).flatMap { sfDir =>
      val out = java.nio.file.Files.createTempDirectory("graft_golden").toString
      Etl.writeOutputs(out, Etl.etlOutputs, Etl.buildWide(spark, sfDir))
      // corpus capstone outputs
      Etl.writeOutputs(out, Etl.corpusOutputs,
        Etl.buildCorpusOutputs(spark, sfDir))
      val sfLabel = new java.io.File(sfDir).getName
      Etl.rowCounts(spark, out, Etl.etlOutputs ++ Etl.corpusOutputs)
        .orderBy("table_name", "partition")
        .collect()
        .map(r => s"$sfLabel,${r.getString(0)},${r.getString(1)},${r.getLong(2)}")
    }
    val csv = ("sf,table_name,partition,n_rows" +: rows).mkString("", "\n", "\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args(0)), csv)
    println(s"wrote ${rows.length} golden rows -> ${args(0)}")
  }
}
