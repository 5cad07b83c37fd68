package graft

/** Physical-plan assertions: the scale properties SCALE.md claims are
  * checked here against the actual executed plans, so a regression that
  * turns a broadcast into a shuffle (or an equi-join into a nested loop)
  * fails the suite, not just the benchmark. */
class PlanSpec extends SparkSpec {

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan.toString

  test("JaroWinklerAlgo matches DuckDB jaro_winkler_similarity semantics") {
    import graft.plans.JaroWinklerAlgo.compute
    // expected values probed from DuckDB 1.x jaro_winkler_similarity
    assert(compute("MARTHA", "MARHTA") == 0.9611111111111111)
    assert(compute("DIXON", "DICKSONX") == 0.8133333333333332)
    assert(compute("DWAYNE", "DUANE") == 0.8400000000000001)
    assert(compute("abc", "abc") == 1.0)
    assert(compute("abc", "") == 0.0)
    assert(compute("", "") == 0.0) // DuckDB: both-empty is 0, not 1
    assert(compute("ab", "ba") == 0.0) // window 0: no matches
    assert(compute("prefixaaaa", "prefixbbbb") == 0.8400000000000001)
    assert(compute("CRATE", "TRACE") == 0.7333333333333334) // no common prefix
    // boost gate: jaro 0.683 < 0.7 -> NO prefix boost despite shared prefix
    assert(compute("x", "xyyyyyyyyyyyyyyyyyyy") == 0.6833333333333332 ||
      compute("x", "xyyyyyyyyyyyyyyyyyyy") == 0.6833333333333333)
    assert(compute("ab", "abzzzzzzzzzzzz") == 0.7714285714285715 ||
      compute("ab", "abzzzzzzzzzzzz") == 0.7714285714285714)
  }

  test("constant-matrix natives built twice are equal; q43's plan text is stable") {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.execution.FormattedMode
    import org.apache.spark.sql.graftaccess.Internals
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    import graft.plans.{PlaneProjections, PlaneSignBits, PqEncodeCodes}
    val e = Internals.column(org.apache.spark.sql.catalyst.expressions
      .AttributeReference("e", ArrayType(FloatType, containsNull = false))())
    // every call builds fresh arrays: equality must come from the values
    def planes = Array.tabulate(12)(i => (i % 5 - 2).toFloat)
    def codebooks = Seq.tabulate(2, 3)((mi, j) => Array(mi.toFloat, j - 1f))
    val builds: Seq[() => Column] = Seq(
      () => PlaneSignBits(e, planes, 4),
      () => PlaneProjections(e, planes, 4),
      () => PqEncodeCodes(e, codebooks))
    for (build <- builds) {
      val (a, b) = (Internals.expression(build()), Internals.expression(build()))
      assert(a == b, s"$a != $b")
      assert(a.semanticEquals(b), s"$a !~ $b")
      assert(a.hashCode == b.hashCode, s"$a")
    }
    def q43Plan: String = SparkEntry.queries("q43_lsh_ann")(spark, sf)
      .queryExecution.explainString(FormattedMode)
      .replaceAll("#\\d+", "#").replaceAll("plan_id=\\d+", "plan_id=")
    val (p1, p2) = (q43Plan, q43Plan)
    assert(p1 == p2, s"\n$p1\n---\n$p2")
  }

  test("q02 star join broadcasts dims, no nested-loop join") {
    val p = plan("q02_region_revenue")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q03 filter + projection reach the parquet scan") {
    val p = plan("q03_filter_project")
    assert(p.contains("PushedFilters: ["))
    assert(p.contains("IsNotNull(l_shipdate)") ||
      p.contains("GreaterThanOrEqual(l_shipdate"))
    // pruned read: non-projected columns never reach the scan
    val scan = p.linesIterator.find(_.contains("FileScan")).get
    assert(scan.contains("l_shipdate") && !scan.contains("l_extendedprice") &&
      !scan.contains("l_discount"), scan)
  }

  test("q82 spatial join is an equi-join on grid cells") {
    val p = plan("q82_overlay_alloc")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q87 row-map dim is broadcast") {
    val p = plan("q87_row_map")
    assert(p.contains("BroadcastHashJoin"))
  }

  test("q01 aggregation is map-side partial + final hash aggregation") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("partial_sum"), "map-side combine missing")
    assert("HashAggregate".r.findAllIn(p).size >= 2)
  }

  test("q42 cosine top-k: broadcast cross join, ONE shuffle, rank cap map-side") {
    // exact brute force over a bounded query set: the corpus broadcasts
    // into a nested-loop cross join, so the pair product never shuffles;
    // the one shuffle is the per-query top-k window's, capped map-side by
    // WindowGroupLimit; scores come from the native dot product
    val p = plan("q42_cosine_topk")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert("BroadcastExchange".r.findAllIn(p).size == 1, p)
    assert("WindowGroupLimit".r.findAllIn(p).size == 2, p)
    assert(p.contains("float_dot_product"), p)
  }

  test("q43 LSH ANN: candidates meet on ONE (tbl, bucket) equi-join") {
    // each side explodes its 8 tables' memberships once (one
    // plane_sign_bits node per table); the only joins are the (tbl,
    // bucket) candidate join; two shuffles: the (q_id, c_id) dedup and
    // the per-query top-k window
    val p = plan("q43_lsh_ann")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    val joins = p.linesIterator.filter(l =>
      l.contains("HashJoin") || l.contains("SortMergeJoin")).toSeq
    assert(joins.size == 1 && joins.head.contains("tbl") &&
      joins.head.contains("bucket"), joins.mkString("\n"))
    assert("Generate explode".r.findAllIn(p).size == 2, p)
    assert("plane_sign_bits".r.findAllIn(p).size == 16, p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2, p)
  }

  test("q99 blocked orphan assignment never forms a cross product") {
    val p = plan("q99_orphan_assign_lsh")
    // candidates must meet on the (band, bits) equi-join, neither as a
    // cartesian product nor as a broadcast nested loop
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q85 IVF cell routing is shuffle-free scan-side work") {
    val df = SparkEntry.queries("q85_ivf_ann")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // corpus-side cell assignment is a per-row expression over constant
    // centroids: the only exchanges allowed are the candidate join and the
    // per-query top-k window, never a cross product
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q102 sequence packing is ONE shuffle (the shard window)") {
    val p = plan("q102_pack_sequences")
    assert("Exchange".r.findAllIn(p).size == 1, p)
    assert(p.contains("Window"), p)
  }

  test("q103 split assignment is a narrow projection — no shuffle at all") {
    val p = plan("q103_split_assign")
    assert(!p.contains("Exchange"), p)
  }

  test("q106 interval join is an equi-join on buckets, never a nested loop") {
    val p = plan("q106_interval_join")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q108 general-polygon overlay is an equi-join on grid cells") {
    val p = plan("q108_polygon_overlay")
    // candidate pairs meet on the (cx, cy) cell key; the exact
    // triangulate-and-clip area runs only inside candidates
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q111 territory compile: group union is one shuffle, join no cross") {
    val p = plan("q111_territory_compile")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // per-utility union runs in mapGroups after a single hash exchange
    assert(p.contains("MapGroups") || p.contains("mapGroups"), p)
  }

  test("q104 vocab top-k is TakeOrdered, not a full sort") {
    val p = plan("q104_ngram_vocab")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("partial_count"), "map-side combine missing")
  }

  test("q114 z-order key is a narrow projection — no shuffle at all") {
    val p = plan("q114_zorder_key")
    assert(!p.contains("Exchange"), p)
  }

  test("q134 chunking is one generator, zero shuffles") {
    val p = plan("q134_chunk_windows")
    assert(!p.contains("Exchange"), p)
    assert(p.contains("Generate"), p)
  }

  test("q135 budget select never builds a single-partition global window") {
    // the naive form would be `Window [...] ORDER BY score` over ONE
    // partition — the bucketed exact path must only ever window the
    // boundary bucket under a hash exchange
    val p = plan("q135_budget_select")
    assert(!p.contains("SinglePartition"), p)
  }

  test("q121 gopher stats are a pure per-row fold — no shuffle, no explode") {
    // dup-occurrence counts ride array_sort + one linear aggregate per
    // row; a 100 TB scoring pass must be a map, not an exploded gram
    // frame with exchanges
    val p = plan("q121_gopher_quality")
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Generate"), p)
  }

  test("q115/q116 KMV sketches aggregate map-side (partial before exchange)") {
    // the shuffle must carry <= k-long sketch buffers per group per
    // mapper, not raw rows: partial_kmvagg runs BEFORE the exchange
    val p5 = plan("q115_kmv_distinct")
    assert(p5.contains("ObjectHashAggregate"), p5)
    assert(p5.toLowerCase.contains("partial_kmvagg"), p5)
    val p6 = plan("q116_kmv_two_level")
    assert(p6.toLowerCase.contains("partial_kmvstateout"), p6)
    assert(p6.toLowerCase.contains("partial_kmvmergeagg"), p6)
  }

  test("q117 SCD2 intervals: both windows share ONE exchange and sort") {
    val p = plan("q117_scd2_intervals")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert("Window".r.findAllIn(p).size >= 2, p)
  }

  test("q133 repeated spans: gram frame computed once — two shuffles, no join") {
    // the distinct-doc frequency gate is a window count riding the SAME
    // gram-hash exchange as the first-occurrence flags; a groupBy +
    // join-back here would re-explode and re-hash every gram (a second
    // full pass over the corpus' characters at 100 TB)
    val p = plan("q133_repeated_spans")
    assert(!p.contains("Join"), "frequency gate regressed to a join:\n" + p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2, p)
  }

  test("q132 stratum cap: rank truncation runs map-side (WindowGroupLimit Partial)") {
    // capPerStratum relies on Spark pushing a per-partition rank cap
    // below the exchange: each mapper forwards <= cap rows per stratum,
    // so a billion-row stratum never flows through one sorter. Verified
    // on Spark 4.1.2 (round 8); this assertion locks the guarantee.
    val p = plan("q132_stratum_cap")
    assert(p.linesIterator.exists(l =>
      l.contains("WindowGroupLimit") && l.contains("Partial")),
      "map-side WindowGroupLimit missing — stratum cap would sort whole strata on one task:\n" + p)
  }

  test("q130 semDedup candidates meet on (cluster, band, bits) — no unbanded self-join") {
    val p = plan("q130_semdedup")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    val joins = p.linesIterator.filter(l =>
      l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") ||
        l.contains("BroadcastHashJoin")).toSeq
    assert(joins.exists(_.contains("bits")),
      "banded sign-bit blocking missing from the candidate join:\n" + p)
    // any join keyed on the cluster must also carry the signature bits —
    // a cluster-only self-join is the O(|cluster|^2) scale-killer
    assert(!joins.exists(l => l.contains("cluster") && !l.contains("bits")),
      "unbanded within-cluster self-join found:\n" + joins.mkString("\n"))
  }

  test("q211 dup-graph report: equi-joins only — no cartesian, no nested loop") {
    // triangle wedge join + closing probe + LPA neighbor join + the final
    // vertex join all key on vertex ids / shingles; any BNLJ or cartesian
    // here would be the O(n²) wedge/pair blowup the degree ordering and
    // the shingle blocking exist to prevent
    val p = plan("q211_dup_graph_report")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q139 weighted sample: rank truncation runs map-side (WindowGroupLimit Partial)") {
    // same guarantee as q132: each mapper forwards <= k rows per stratum
    // into the exchange, so a billion-row stratum never sorts on one task
    val p = plan("q139_weighted_sample")
    assert(p.linesIterator.exists(l =>
      l.contains("WindowGroupLimit") && l.contains("Partial")),
      "map-side WindowGroupLimit missing from weightedSample:\n" + p)
  }

  test("q138 BM25: top-k is TakeOrdered; tf exchange is reused, not recomputed") {
    val df = SparkEntry.queries("q138_bm25_topk")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // distributed top-k, never a global sort or single-partition window
    // over the full scored corpus
    assert(p.contains("TakeOrderedAndProject"), p)
    // the (doc, term) tf shuffle feeds BOTH the df-per-term aggregate and
    // the scoring branch: one corpus explode, one exchange, reused — a
    // second corpus pass here is the q133-class double-scan bug. AQE
    // performs the reuse at runtime (identical canonicalized stages), so
    // assert on the FINAL adaptive plan after execution.
    df.collect()
    val fp = df.queryExecution.executedPlan.toString
    assert(fp.contains("ReusedQueryStage") || fp.contains("ReusedExchange"),
      "tf exchange not reused — corpus explode would run twice:\n" + fp)
  }

  test("q140 embed pooling: two hash exchanges, map-side partial sums") {
    val p = plan("q140_embed_pool")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_sum"), "map-side combine missing:\n" + p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2, p)
  }

  test("q141 CDC apply: map-side rank cap on changes, co-partitioned merge") {
    val p = plan("q141_apply_changelog")
    // the latest-change dedup must forward <= 1 row per key per mapper
    assert(p.linesIterator.exists(l =>
      l.contains("WindowGroupLimit") && l.contains("Partial")),
      "map-side WindowGroupLimit missing from the changes dedup:\n" + p)
    // one co-partitioned merge — never a broadcast of the data or a cross
    assert(p.contains("SortMergeJoin FullOuter") ||
      p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q144 BPE encode plan is a pure per-row map — zero shuffles") {
    // training runs eagerly (bounded 5-row collect); the RETURNED encode
    // plan must be a narrow projection with the merges as literals
    val p = plan("q144_bpe_encode")
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Join"), p)
  }

  test("q146 funnel: all step windows + final collapse share ONE exchange") {
    val p = plan("q146_funnel")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert("Window".r.findAllIn(p).size >= 3, p)
  }

  test("q147 profile: one scan, one aggregate, never an Expand") {
    val p = plan("q147_profile")
    // multi-count(distinct) would compile to Expand (row × #distinct-aggs
    // blowup); the KMV-based profile must not
    assert(!p.contains("Expand"), p)
    assert("FileScan".r.findAllIn(p).size == 1, p)
    assert(p.contains("ObjectHashAggregate"), p) // KMV imperative agg
  }

  test("q148 PageRank: equi-joins only, distributed top-k") {
    val p = plan("q148_pagerank")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q156 capstone chain: dims broadcast, ownership agg + window share one exchange") {
    val p = plan("q156_capstone_metrics")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the harvested-entity join is a broadcast (supplier-sized dim)
    assert(p.contains("BroadcastHashJoin"), p)
    // the repartition(l_orderkey) feeds BOTH the (order, supplier)
    // aggregate and the ownership-total window without a second
    // exchange on the same key: at most 4 hash exchanges total
    // (ownership, reported-vote, entity-vote, final rollup)
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 4, p)
  }

  test("q158 trained match: scoring reads the one materialized pair frame") {
    // the candidate-pair join + guard + training all run eagerly off ONE
    // localCheckpoint (round 12); the RETURNED scoring plan must read
    // that cached frame — not re-run the join — apply the literal
    // trained weights per-row, and pay exactly one window exchange
    val p = plan("q158_trained_match")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("Scan ExistingRDD"), p) // checkpointed pairs, no re-join
    assert(p.contains("EXP("), p)             // literal-weight sigmoid inline
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q165 phonetic block: equi-join on (nation, soundex prefix), no cross") {
    // blocking_rule shape: the candidate set forms on an equi-join over
    // the per-row phonetic key — never a cartesian; the 100-row supplier
    // side broadcasts; top-1 is a WindowGroupLimit-capped window
    val p = plan("q165_phonetic_block")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("soundex"), p)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q174 metaphone block: equi-join on (nation, mphone prefix), no cross") {
    // the reference's actual blocking rule (substr(mphone,1,3)) — same
    // shape contract as q165: equi-join on the per-row phonetic key,
    // supplier side broadcasts at fixture scale, top-1 capped by
    // WindowGroupLimit; the metaphone call itself stays in the join key
    // projection (codegen'd native expression)
    val p = plan("q174_metaphone_block")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("metaphone"), p)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q177 union blocks: ONE fused rule join + ONE pair-dedup exchange, no cross") {
    // splink's multi-rule candidate union, fused (round 18): both rules
    // ride ONE equi-join on the (rule, encoded key) explode — no Union of
    // per-rule joins, each side's metaphone lineage planned once — and
    // the cross-rule dedup stays a single hash exchange on the (l, r)
    // pair key
    val p = plan("q177_union_blocks")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("metaphone"), p)
    assert("Exchange hashpartitioning\\(c_custkey".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Union"), p)
    assert("Generate explode".r.findAllIn(p).size == 2, p) // one per side
  }

  test("q188 full 10-rule union: ONE fused rule join + ONE pair-dedup exchange, no cross") {
    // the reference's full production blocking set: all ten overlapping
    // rules must compile to ONE blocked equi-join on the (rule, encoded
    // key) explode (round 18 — rule count must not multiply joins or
    // side re-computation) flowing into a SINGLE (l, r) pair-key dedup
    // exchange, and no rule may degrade to a nested loop
    val p = plan("q188_union_blocks_full")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("metaphone"), p)
    assert("Exchange hashpartitioning\\(c_custkey".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Union"), p)
    assert("Generate explode".r.findAllIn(p).size == 2, p) // one per side
  }

  test("q190 splink predict: no cross, ONE pair-dedup + ONE best-match exchange") {
    // the assembled production predict: ten blocked equi-joins -> one
    // pair-key dedup window -> plan-literal weight arithmetic (no
    // transcendentals, no float) -> one right-id top-1 window. Exactly
    // two data-sized hash exchanges beyond the per-rule joins.
    val p = plan("q190_splink_predict")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert("Exchange hashpartitioning\\(c_custkey".r.findAllIn(p).size == 1, p)
    assert("Exchange hashpartitioning\\(s_suppkey".r.findAllIn(p).size == 1, p)
    assert(!p.toLowerCase.contains("log("), p) // weights are literals
  }

  test("q193 splink clustering: no cartesian anywhere in the pipeline") {
    // predict subtree (q190's) + accepted-edge CC + singleton left join:
    // edges are always blocked equi-joins, the CC tier under 5M edges is
    // the driver union-find (one collect bounded by the edge contract).
    val p = plan("q193_splink_cluster")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.toLowerCase.contains("log("), p)
  }

  test("q194 span corruption: one doc-key exchange, window + agg share it") {
    // posexplode -> window on doc_id -> groupBy doc_id: the aggregation
    // must REUSE the window's hash partitioning, so exactly one
    // data-sized exchange on doc_id appears (plus none anywhere else —
    // the hash coin and sentinel strings are per-row expressions).
    val p = plan("q194_span_corrupt")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert("Exchange hashpartitioning\\(doc_id".r.findAllIn(p).size == 1, p)
  }

  test("q198 2-D skew-guarded join: tile salts in the join key, no cross") {
    // both-sides-hot planted key: the join must stay an equi-join whose
    // key carries BOTH tile salts (row-salt __sl + col-salt __sr), with
    // the per-side replication expressed as a Generate (explode of the
    // salt sequence) — never a cartesian/nested-loop fallback
    val p = plan("q198_skew2d_join")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("__sl"), p)
    assert(p.contains("__sr"), p)
    assert(p.contains("Generate"), p)
  }

  test("linkage capstone: salted candidate join is ONE fused (rule, key) join") {
    // the capstone's guarded candidate generation (maxBlock > 0) rides
    // the same fused (rule, key) join as q177/q188: no Union of per-rule
    // joins, and each side's tagging explode planned once in the final
    // adaptive plan. (The guard's block-size tables are their own query
    // stages; at fixture scale they hold no hot block, so AQE folds the
    // hot-key left joins away.) The only other generators are the tile
    // guard's salt replications, one per side.
    val df = Etl.buildLinkageWide(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(p.contains("Final Plan"), p)
    assert(!p.contains("Union"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    val tagging = p.linesIterator.filter(l =>
      l.contains("Generate explode(array(struct(r, 0, k")).toSeq
    assert(tagging.count(_.contains("l_canon")) == 1, p)
    assert(tagging.count(_.contains("r_canon")) == 1, p)
    assert("Generate explode\\(sequence".r.findAllIn(p).size == 2, p)
  }

  test("q199 multi-probe LSH: candidates stay an equi-join; probes query-side") {
    // corpus side carries BASE memberships only (same 8 structs as q43 —
    // one persisted index serves both); the probe expansion (margins,
    // bit flips) lives entirely in the bounded QUERY side's Generate.
    // Candidate generation must stay a hash equi-join on (tbl, bucket).
    val p = plan("q199_multiprobe_lsh")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("plane_sign_bits"), p)
    // exactly one side expands probes: the flip XOR appears once per table
    // (query side), never in the corpus side's membership Generate
    val gens = p.linesIterator.filter(_.contains("plane_projections")).size
    assert(gens >= 1, "query-side margin projections missing:\n" + p)
  }

  test("q201 bigram LM: bcnt shuffle reused across all model tables") {
    // train tables (conditional, context, unigram, total) all derive from
    // the ONE bigram-type aggregate; the always-true guard pins its
    // columns so every branch's copy canonicalizes identically and AQE
    // reuses the stage — without it the corpus explode runs 3x.
    val df = SparkEntry.queries("q201_bigram_lm")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    df.collect()
    val fp = df.queryExecution.executedPlan.toString
    assert(fp.contains("ReusedQueryStage") || fp.contains("ReusedExchange"),
      "bcnt exchange not reused — corpus explode would run 3x:\n" + fp)
  }

  test("q203 batched BM25: tf exchange reused, rank-capped window") {
    val df = SparkEntry.queries("q203_bm25_batch")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    // per-query top-k is a rank-capped window, pushed map-side
    assert(p.contains("WindowGroupLimit"), p)
    // ONE corpus token explode feeds both the df aggregate and scoring
    df.collect()
    val fp = df.queryExecution.executedPlan.toString
    assert(fp.contains("ReusedQueryStage") || fp.contains("ReusedExchange"),
      "tf exchange not reused — corpus explode would run twice:\n" + fp)
  }

  test("q202/q205/q206: probed and rerank lanes stay equi-join shaped") {
    for (q <- Seq("q202_semdedup_probed", "q205_orphan_probed")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q:\n$p")
    }
    // q206's FIRST stage is PQ-ADC, which scans all corpus codes per query
    // BY DESIGN (the corpus rides as m-byte codes; the bounded query side
    // broadcasts) — so a broadcast nested loop there is the operator, not
    // a regression. The rerank stage itself must stay hash-join shaped.
    val p = plan("q206_pq_rerank")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), "rerank vector fetch:\n" + p)
  }

  test("q189 full 10-rule block profile: counts only, no pairs, no window") {
    val p = plan("q189_block_profile_full")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("partial_count"), p)
  }

  test("q181 train order: corpus window partitions on shard; ONE bounded single-partition exchange") {
    // the data-sized window must be hash-partitioned on the shard key;
    // the only SinglePartition exchange is the nShards-row offset frame
    // (bounded by construction), and the offsets come back via broadcast
    val p = plan("q181_train_order")
    assert("Exchange SinglePartition".r.findAllIn(p).size == 1, p)
    assert(p.contains("hashpartitioning(shard"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q178 block profile: counts only — no join wider than key cardinalities") {
    // the pre-flight must never materialize pairs: per-rule plan is two
    // hash aggregates (map-side partial) joined on the block key, then a
    // scalar aggregate; no window, no generator, no cross product
    val p = plan("q178_block_profile")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("partial_count"), p)
  }

  test("q159 PQ ADC: encode per-row, one window exchange, queries broadcast") {
    // codebook seeding runs eagerly (bounded 64-row collect); the
    // RETURNED plan scores the BOUNDED query side against the encoded
    // corpus (an intentional broadcast cross of ≤20 rows — the sq8TopK
    // shape; at scale this composes with IVF routing). What must hold:
    // exactly ONE broadcast (the query side) and ONE hash exchange (the
    // per-query top-k window) — encode itself adds no shuffle, and the
    // group-limit truncates map-side before it.
    val p = plan("q159_pq_adc")
    assert("BroadcastExchange".r.findAllIn(p).size == 1, p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q160 dbt checks 2: per-check one-row aggregates, no Expand") {
    val p = plan("q160_dbt_checks2")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Expand"), p)
  }

  test("q162 IVF-PQ: candidates meet on the cell equi-join, never a cross product") {
    val p = plan("q162_ivfpq")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q113 winnow pairs: two shuffles (fingerprint, pair), no cross join") {
    val p = plan("q113_winnow_pairs")
    // the winnowing sketch itself is within-row (narrow); only the
    // posting-list groupBy and the pair-count groupBy shuffle
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "pairs must come from posting lists, not a self-join: " + p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2, p)
  }
}
