package graft
package lanes

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.NearDup
import graft.similarity.Similarity
import graft.text.{TextAnalysis, Unigram}
import graft.graph.ConnectedComponents
import OracleFragments.{ccReach, wordShingles3}

/** Corpus, text and dedup lanes: text analysis, exact and near-dup
  * detection, the training-data pipeline (quality, sampling, packing,
  * decontamination, tokenizers, retrieval, span corruption). */
object TextLanes extends LaneFamily {

  // ---- text analysis: token counting --------------------------------------
  lane("q36_token_stats") { (s, dir) =>
    t(s, dir, "documents")
      .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")))
      .withColumn("n_bpeish", TextAnalysis.bpeishTokenCount(col("text")))
      .withColumn("len_matches_field", length(col("text")) === col("n_chars"))
      .select("doc_id", "n_tokens", "n_bpeish", "len_matches_field")
  }.oracle(
    """SELECT doc_id,
      |  CASE WHEN len(trim(text)) = 0 THEN 0
      |       ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
      |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9 ]')) AS n_bpeish,
      |  (len(text) = n_chars) AS len_matches_field
      |FROM documents""".stripMargin)

  // ---- text analysis: quality scoring -------------------------------------
  lane("q37_quality_score") { (s, dir) =>
    t(s, dir, "documents")
      .withColumn("punct_ratio", TextAnalysis.punctRatio(col("text")))
      .withColumn("mean_token_len", TextAnalysis.meanTokenLen(col("text")))
      .withColumn("quality", TextAnalysis.qualityScore(col("text")))
      .select("doc_id", "punct_ratio", "mean_token_len", "quality")
  }.oracle(
    """WITH x AS (
      |  SELECT doc_id, text,
      |    CASE WHEN len(trim(text)) = 0 THEN 0
      |         ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
      |    CAST(len(regexp_extract_all(lower(text), '[^a-z0-9\s]')) AS DOUBLE)
      |      / len(text) AS punct_ratio
      |  FROM documents)
      |SELECT doc_id, punct_ratio,
      |  CAST(len(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) / n_tokens
      |    AS mean_token_len,
      |  least(1.0, CAST(n_tokens AS DOUBLE) / 100.0) * (1.0 - punct_ratio)
      |    AS quality
      |FROM x""".stripMargin)

  // ---- text analysis: heuristic language ID -------------------------------
  lane("q38_lang_id") { (s, dir) =>
    TextAnalysis.langId(s, t(s, dir, "documents"), "doc_id", "text")
      .select("doc_id", "lang", "lang_pred", "lexicon_hits")
  }.oracle(
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
      |  FROM documents),
      |lex(tok, lang) AS (VALUES
      |  ('the','en'),('a','en'),('data','en'),
      |  ('el','es'),('la','es'),('los','es'),
      |  ('der','de'),('und','de'),('das','de'),
      |  ('le','fr'),('et','fr'),('les','fr')),
      |scores AS (
      |  SELECT toks.doc_id, lex.lang AS lang_pred, count(*) AS hits
      |  FROM toks JOIN lex USING (tok) GROUP BY 1, 2),
      |top AS (
      |  SELECT doc_id, lang_pred, hits,
      |    row_number() OVER (PARTITION BY doc_id
      |      ORDER BY hits DESC, lang_pred ASC) AS rk
      |  FROM scores)
      |SELECT d.doc_id, d.lang, coalesce(tp.lang_pred, 'und') AS lang_pred,
      |  coalesce(tp.hits, 0) AS lexicon_hits
      |FROM documents d
      |LEFT JOIN (SELECT * FROM top WHERE rk = 1) tp USING (doc_id)""".stripMargin)

  // ---- dedup: exact fingerprint groups ------------------------------------
  lane("q39_exact_dedup") { (s, dir) =>
    NearDup.exactDupGroups(t(s, dir, "documents"), "doc_id", "text")
  }.oracle(
    """WITH fp AS (
      |  SELECT doc_id,
      |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
      |  FROM documents)
      |SELECT doc_id, fingerprint,
      |  min(doc_id) OVER (PARTITION BY fingerprint) AS canonical_id,
      |  count(*) OVER (PARTITION BY fingerprint) AS group_size,
      |  (doc_id <> min(doc_id) OVER (PARTITION BY fingerprint)) AS is_dup
      |FROM fp""".stripMargin)

  // ---- dedup: exact n-gram Jaccard near-dup pairs -------------------------
  lane("q40_ngram_jaccard") { (s, dir) =>
    NearDup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text",
      n = 3, thresholdNum = 1, thresholdDen = 4)
  }.oracle(
    s"""WITH $wordShingles3,
      |counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      |pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT id_a, id_b, common, ca.n_sh AS na, cb.n_sh AS nb,
      |  CAST(common AS DOUBLE) / (ca.n_sh + cb.n_sh - common) AS jaccard
      |FROM pairs
      |JOIN counts ca ON ca.doc_id = id_a
      |JOIN counts cb ON cb.doc_id = id_b
      |WHERE common * 4 >= 1 * (ca.n_sh + cb.n_sh - common)""".stripMargin)

  /** q41's MinHash sketch over `sh(doc_id, shingle)`, which q100 replays:
    * 32 portable universal hashes (`consts`), shingle ids (`sx`), per-doc
    * minima (`hs`) and 8 band buckets of 4 rows (`bnd`). */
  private def minhashBands: String =
    """consts AS (
      |  SELECT i,
      |    ('0x' || substr(md5('a_' || i::VARCHAR), 1, 15))::BIGINT
      |      % 2147483646 + 1 AS a,
      |    ('0x' || substr(md5('b_' || i::VARCHAR), 1, 15))::BIGINT
      |      % 2147483647 AS b
      |  FROM range(0, 32) t(i)),
      |sx AS (
      |  SELECT doc_id,
      |    ('0x' || substr(md5(shingle), 1, 15))::BIGINT % 2147483647 AS x
      |  FROM sh),
      |hs AS (
      |  SELECT doc_id, i, min((a * x + b) % 2147483647) AS h
      |  FROM sx CROSS JOIN consts GROUP BY 1, 2),
      |bnd AS (
      |  SELECT doc_id, i // 4 AS band,
      |    ('0x' || substr(md5(string_agg(h::VARCHAR, '_' ORDER BY i)), 1, 15))::BIGINT
      |      AS bucket
      |  FROM hs GROUP BY 1, 2)""".stripMargin

  // ---- dedup: MinHash + LSH (the 100 TB path). The portable MD5-prefix
  // hash lets the DuckDB oracle replay the whole sketch — signatures,
  // band buckets, candidate pairs — exactly.
  lane("q41_minhash_lsh") { (s, dir) =>
    NearDup.minhashLshPairs(t(s, dir, "documents"), "doc_id", "text",
      shingleN = 3, numHashes = 32, bands = 8, threshold = 0.35)
  }.oracle(
    s"""WITH $wordShingles3,
      |$minhashBands,
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM bnd a JOIN bnd b
      |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
      |eq AS (
      |  SELECT id_a, id_b, sum(CASE WHEN ha.h = hb.h THEN 1 ELSE 0 END) AS neq
      |  FROM cand
      |  JOIN hs ha ON ha.doc_id = id_a
      |  JOIN hs hb ON hb.doc_id = id_b AND hb.i = ha.i
      |  GROUP BY 1, 2)
      |SELECT id_a, id_b, CAST(neq AS DOUBLE) / 32 AS est_jaccard
      |FROM eq WHERE CAST(neq AS DOUBLE) / 32 >= 0.35""".stripMargin)

  // ---- dedup capstone: near-dup groups → canonical document -------------
  // Full pipeline: shingle → exact-Jaccard pairs → connected components →
  // min-id canonical per group (the LSH path q41 feeds the same CC at
  // scale). Every document appears once with its canonical id.
  lane("q69_neardup_canonical") { (s, dir) =>
    val docs = t(s, dir, "documents")
    val pairs = NearDup.jaccardPairs(docs, "doc_id", "text",
      n = 3, thresholdNum = 1, thresholdDen = 4)
    val cc = ConnectedComponents.run(
      pairs.select(col("id_a").as("src"), col("id_b").as("dst")), "src", "dst")
    docs.select(col("doc_id"))
      .join(cc, docs("doc_id") === cc("v"), "left")
      .withColumn("canonical_id", coalesce(col("component"), col("doc_id")))
      .withColumn("is_dup", col("doc_id") =!= col("canonical_id"))
      .select("doc_id", "canonical_id", "is_dup")
  }.oracle(
    s"""WITH RECURSIVE
      |$wordShingles3,
      |counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      |pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |ed AS (
      |  SELECT id_a AS src, id_b AS dst FROM pairs
      |  JOIN counts ca ON ca.doc_id = id_a
      |  JOIN counts cb ON cb.doc_id = id_b
      |  WHERE common * 4 >= 1 * (ca.n_sh + cb.n_sh - common)),
      |sym AS (SELECT src AS a, dst AS b FROM ed
      |        UNION SELECT dst AS a, src AS b FROM ed),
      |$ccReach,
      |cc AS (SELECT v, min(c) AS component FROM reach GROUP BY v)
      |SELECT d.doc_id, coalesce(cc.component, d.doc_id) AS canonical_id,
      |  (d.doc_id <> coalesce(cc.component, d.doc_id)) AS is_dup
      |FROM documents d LEFT JOIN cc ON d.doc_id = cc.v""".stripMargin)

  // ---- dedup: SimHash signatures + banded Hamming pairs. The portable
  // hash (60-bit MD5 prefix) lets the oracle rebuild signatures, bands and
  // Hamming distances bit-for-bit in SQL.
  lane("q93_simhash_pairs") { (s, dir) =>
    NearDup.simhashPairs(t(s, dir, "documents"), "doc_id", "text",
        maxHamming = 3, bands = 4)
      .withColumn("hamming", col("hamming").cast("long"))
  }.oracle(
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
      |  FROM documents),
      |h AS (
      |  SELECT doc_id, ('0x' || substr(md5('0_' || tok), 1, 15))::BIGINT AS hv
      |  FROM toks),
      |votes AS (
      |  SELECT doc_id, i, sum(CASE WHEN (hv >> i) & 1 = 1 THEN 1 ELSE -1 END) AS v
      |  FROM h CROSS JOIN range(0, 60) t(i) GROUP BY 1, 2),
      |sig AS (
      |  SELECT doc_id,
      |    sum(CASE WHEN v > 0 THEN (1::BIGINT << i) ELSE 0::BIGINT END)::BIGINT AS sg
      |  FROM votes GROUP BY 1),
      |bb AS (
      |  SELECT doc_id, sg, b, (sg >> (b * 15)) & 32767 AS bits
      |  FROM sig CROSS JOIN range(0, 4) t(b)),
      |pairs AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
      |    CAST(bit_count(xor(a.sg, b.sg)) AS BIGINT) AS hamming
      |  FROM bb a JOIN bb b
      |    ON a.b = b.b AND a.bits = b.bits AND a.doc_id < b.doc_id)
      |SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 3""".stripMargin)

  // ---- training-data pipeline: incremental batch-vs-history dedup -------
  // The production dedup shape: a new ingest batch screened against the
  // historical corpus (exact fingerprint probe, then MinHash band-bucket
  // candidates, history never re-shuffled). The portable hash lets the
  // oracle replay fingerprints, signatures, buckets, best-match and labels.
  lane("q100_incremental_dedup") { (s, dir) =>
    // single-file fixture scan = one task; spread the docs so the
    // per-shingle MD5 grind (portable hash) runs on every core
    val docs = t(s, dir, "documents")
      .repartition(s.sparkContext.defaultParallelism)
    NearDup.incrementalDedup(
      docs.where(col("doc_id") >= 400), docs.where(col("doc_id") < 400),
      "doc_id", "text", shingleN = 3, numHashes = 32, bands = 8,
      threshold = 0.35)
  }.oracle(
    // Incremental batch-vs-history dedup: exact fingerprint probe (q39's
    // normalization), then the q41 MinHash machinery restricted to
    // new-batch survivors × history, best match by (est DESC, hist id ASC).
    raw"""WITH fph AS (
      |  SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
      |    min(doc_id) AS exact_match_id
      |  FROM documents WHERE doc_id < 400 GROUP BY 1),
      |ex AS (
      |  SELECT n.doc_id, fph.exact_match_id
      |  FROM documents n LEFT JOIN fph
      |    ON md5(trim(regexp_replace(lower(n.text), '\s+', ' ', 'g'))) = fph.fp
      |  WHERE n.doc_id >= 400),
      |$wordShingles3,
      |$minhashBands,
      |cand AS (
      |  SELECT DISTINCT n.doc_id AS nid, h.doc_id AS hid
      |  FROM bnd n JOIN bnd h ON n.band = h.band AND n.bucket = h.bucket
      |  WHERE n.doc_id >= 400 AND h.doc_id < 400
      |    AND n.doc_id IN (SELECT doc_id FROM ex WHERE exact_match_id IS NULL)),
      |eq AS (
      |  SELECT nid, hid, sum(CASE WHEN ha.h = hb.h THEN 1 ELSE 0 END) AS neq
      |  FROM cand
      |  JOIN hs ha ON ha.doc_id = nid
      |  JOIN hs hb ON hb.doc_id = hid AND hb.i = ha.i
      |  GROUP BY 1, 2),
      |best AS (
      |  SELECT nid, hid, est FROM (
      |    SELECT nid, hid, CAST(neq AS DOUBLE) / 32 AS est,
      |      row_number() OVER (PARTITION BY nid
      |        ORDER BY CAST(neq AS DOUBLE) / 32 DESC, hid ASC) AS rn
      |    FROM eq WHERE CAST(neq AS DOUBLE) / 32 >= 0.35) WHERE rn = 1)
      |SELECT ex.doc_id,
      |  CASE WHEN ex.exact_match_id IS NOT NULL THEN 'exact_dup'
      |       WHEN best.hid IS NOT NULL THEN 'near_dup'
      |       ELSE 'unique' END AS status,
      |  coalesce(ex.exact_match_id, best.hid) AS match_id,
      |  best.est AS est_jaccard
      |FROM ex LEFT JOIN best ON best.nid = ex.doc_id""".stripMargin)

  // ---- training-data pipeline: greedy sequence packing -------------------
  // Concat-then-chunk into fixed 512-token context windows, 32 independent
  // shards — per-doc placement (shard stream offsets, starting window,
  // window span) as pure window arithmetic.
  lane("q102_pack_sequences") { (s, dir) =>
    TextAnalysis.packSequences(t(s, dir, "documents"), "doc_id", "text",
      budget = 512, nShards = 32)
  }.oracle(
    """WITH toks AS (
      |  SELECT doc_id, doc_id % 32 AS shard,
      |    CASE WHEN len(trim(text)) = 0 THEN 0
      |         ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens
      |  FROM documents),
      |off AS (
      |  SELECT doc_id, shard, n_tokens,
      |    CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id)
      |         AS BIGINT) AS end_off
      |  FROM toks)
      |SELECT doc_id, n_tokens, shard, end_off,
      |  CAST(end_off - n_tokens AS BIGINT) AS start_off,
      |  CAST(floor((end_off - n_tokens) / 512.0) AS BIGINT) AS chunk_id,
      |  CAST((end_off - n_tokens) % 512 AS BIGINT) AS chunk_pos,
      |  CASE WHEN n_tokens = 0 THEN 0
      |       ELSE CAST(floor((end_off - 1) / 512.0) AS BIGINT)
      |            - CAST(floor((end_off - n_tokens) / 512.0) AS BIGINT) + 1
      |  END AS n_chunks
      |FROM off""".stripMargin)

  // ---- training-data pipeline: deterministic train/val/test split --------
  // Salted portable-hash bucket per doc id → stable 80/10/10 membership
  // that reruns, backfills and other engines reproduce exactly.
  lane("q103_split_assign") { (s, dir) =>
    graft.operators.Sampling.deterministicSplit(
        t(s, dir, "documents").select(col("doc_id"), col("lang")),
        "doc_id", Seq("train" -> 80, "val" -> 10, "test" -> 10))
      .select("doc_id", "lang", "split_bucket", "split")
  }.oracle(
    """WITH b AS (
      |  SELECT doc_id, lang,
      |    ('0x' || substr(md5('split_' || doc_id::VARCHAR), 1, 15))::BIGINT
      |      % 100 AS split_bucket
      |  FROM documents)
      |SELECT doc_id, lang, split_bucket,
      |  CASE WHEN split_bucket < 80 THEN 'train'
      |       WHEN split_bucket < 90 THEN 'val'
      |       ELSE 'test' END AS split
      |FROM b""".stripMargin)

  // ---- training-data pipeline: n-gram vocabulary (top-k by doc freq) -----
  lane("q104_ngram_vocab") { (s, dir) =>
    TextAnalysis.ngramVocab(t(s, dir, "documents"), "doc_id", "text",
      n = 2, k = 200)
  }.oracle(
    """WITH words AS (
      |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS wl
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, wl[i] || ' ' || wl[i+1] AS shingle
      |  FROM words, unnest(range(1, len(wl))) t(i)
      |  WHERE len(wl) >= 2)
      |SELECT shingle, count(*) AS doc_freq FROM sh
      |GROUP BY shingle
      |ORDER BY doc_freq DESC, shingle ASC
      |LIMIT 200""".stripMargin)

  // ---- training-data pipeline: stratified deterministic sampling --------
  // Corpus mixing: downsample English to 40%, keep 90% of zh, 70% of the
  // rest — membership a pure salted-hash function of the doc id.
  lane("q107_stratified_sample") { (s, dir) =>
    graft.operators.Sampling.stratifiedSample(
        t(s, dir, "documents").select(col("doc_id"), col("lang")),
        "doc_id", "lang", Map("en" -> 40, "zh" -> 90), defaultPercent = 70)
      .select("doc_id", "lang", "split_bucket")
  }.oracle(
    """WITH b AS (
      |  SELECT doc_id, lang,
      |    ('0x' || substr(md5('strat_' || doc_id::VARCHAR), 1, 15))::BIGINT
      |      % 100 AS split_bucket
      |  FROM documents)
      |SELECT doc_id, lang, split_bucket FROM b
      |WHERE split_bucket <
      |  CASE lang WHEN 'en' THEN 40 WHEN 'zh' THEN 90 ELSE 70 END""".stripMargin)

  // ---- winnowing fingerprints (MOSS) near-dup candidate pairs ------------
  // Rolling-gram fingerprint selection + shared-count pairing
  // (TextAnalysis.winnowFingerprints / NearDup.winnowPairs). The portable
  // hash lets the DuckDB oracle replay the full pipeline — gram hashes,
  // window minima, df cap, pair counts — bit-for-bit. On this fixture every
  // pair with n_shared >= 5 has true token-Jaccard >= 0.9 (measured), so
  // the sketch finds exactly the planted near-dups.
  lane("q113_winnow_pairs") { (s, dir) =>
    graft.dedup.NearDup.winnowPairs(t(s, dir, "documents"), "doc_id", "text",
      k = 16, w = 8, minShared = 5, maxDf = 20)
  }.oracle(
    // winnowing replay: gram hashes via the portable seeded family
    // (md5('0_'||gram) 60-bit prefix), window minima via a trailing-frame
    // window min over complete windows only, then the same df-capped
    // shared-count pairing (fixture docs are all >= k+w-1 chars, so the
    // short-doc min-of-all branch never fires)
    """WITH d AS (
      |  SELECT doc_id,
      |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS txt
      |  FROM documents),
      |pos AS (
      |  SELECT doc_id, txt,
      |    unnest(generate_series(0, length(txt) - 16)) AS i
      |  FROM d WHERE length(txt) >= 16),
      |h AS (
      |  SELECT doc_id, i, length(txt) - 16 AS maxi,
      |    ('0x' || substr(md5('0_' || substr(txt, i + 1, 16)), 1, 15))::BIGINT
      |      AS hv
      |  FROM pos),
      |wmin AS (
      |  SELECT doc_id,
      |    min(hv) OVER (PARTITION BY doc_id ORDER BY i
      |                  ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS fp
      |  FROM h QUALIFY i <= maxi - 7),
      |fps AS (
      |  SELECT DISTINCT doc_id, fp FROM wmin
      |  UNION
      |  -- short-document branch: fewer grams than the window (the engine
      |  -- emits ONE min-of-all fingerprint so near-dup short docs still
      |  -- collide); without this the replay silently dropped such docs
      |  SELECT doc_id, min(hv) AS fp FROM h WHERE maxi < 7 GROUP BY doc_id),
      |pl AS (SELECT fp, count(*) AS df FROM fps GROUP BY 1),
      |pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
      |  JOIN pl ON a.fp = pl.fp
      |  WHERE pl.df <= 20)
      |SELECT id_a, id_b, count(*) AS n_shared
      |FROM pairs GROUP BY 1, 2 HAVING count(*) >= 5""".stripMargin)

  // ---- training-data pipeline: Gopher-style repetition/quality stats -----
  // Word count, mean word length, dup-word/dup-2gram occurrence fractions,
  // top-2gram concentration, symbol ratio, and the composite pass flag in
  // exact integer arithmetic (arXiv:2112.11446 §A1.1). Thresholds chosen
  // against the corpus distribution (dup-2gram p50 0.056 / p90 0.13) so
  // the fixture exercises both outcomes.
  lane("q121_gopher_quality") { (s, dir) =>
    TextAnalysis.gopherStats(t(s, dir, "documents"), "doc_id", "text")
  }.oracle(
    """WITH w AS (
      |  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
      |    CAST(len(regexp_extract_all(lower(text), '[^a-z0-9\s]'))
      |      AS BIGINT) AS n_symbols,
      |    string_split(text, ' ') AS ws
      |  FROM documents),
      |u AS (
      |  SELECT doc_id, 1 AS n, unnest(ws) AS unit FROM w
      |  UNION ALL
      |  SELECT doc_id, 2, unnest(list_transform(range(1, len(ws)),
      |    i -> ws[i] || ' ' || ws[i+1])) FROM w),
      |c AS (SELECT doc_id, n, unit, count(*) AS c FROM u GROUP BY 1, 2, 3),
      |a AS (
      |  SELECT doc_id,
      |    CAST(sum(CASE WHEN n = 1 THEN c ELSE 0 END) AS BIGINT) AS n_words,
      |    CAST(sum(CASE WHEN n = 1 THEN length(unit) * c ELSE 0 END)
      |      AS BIGINT) AS word_chars,
      |    CAST(sum(CASE WHEN n = 1 AND c > 1 THEN c ELSE 0 END)
      |      AS BIGINT) AS dup_word_occ,
      |    CAST(sum(CASE WHEN n = 2 THEN c ELSE 0 END) AS BIGINT) AS n_grams,
      |    CAST(max(CASE WHEN n = 2 THEN c ELSE 0 END) AS BIGINT)
      |      AS top_gram_c,
      |    CAST(sum(CASE WHEN n = 2 AND c > 1 THEN c ELSE 0 END)
      |      AS BIGINT) AS dup_gram_occ
      |  FROM c GROUP BY 1)
      |SELECT a.doc_id, w.n_chars, w.n_symbols, a.n_words,
      |  a.word_chars / a.n_words AS mean_word_len,
      |  a.dup_word_occ / a.n_words AS frac_dup_words,
      |  CASE WHEN a.n_grams = 0 THEN 0.0
      |       ELSE a.top_gram_c / a.n_grams END AS top_2gram_frac,
      |  CASE WHEN a.n_grams = 0 THEN 0.0
      |       ELSE a.dup_gram_occ / a.n_grams END AS frac_dup_2grams,
      |  w.n_symbols / w.n_chars AS symbol_ratio,
      |  (a.n_words >= 25 AND a.n_words <= 1000
      |    AND a.word_chars >= a.n_words * 3
      |    AND a.word_chars <= a.n_words * 10
      |    AND a.top_gram_c * 10 <= a.n_grams
      |    AND a.dup_gram_occ * 100 <= a.n_grams * 8) AS passes_gopher
      |FROM a JOIN w USING (doc_id)""".stripMargin)

  // ---- training-data pipeline: PII scan + redaction ----------------------
  // Deterministic PII injection from the doc id (so every class has known
  // planted counts, including zero), then the per-class counts + typed
  // placeholder rewrite. Pure per-row regex, zero shuffle.
  lane("q122_pii_redact") { (s, dir) =>
    val id = col("doc_id")
    val injected = t(s, dir, "documents").select(id, concat(col("text"),
      when(id % 3 === 0, concat(lit(" reach user"), id.cast("string"),
        lit("@mail.example.com"))).otherwise(lit("")),
      when(id % 5 === 0, concat(lit(" ssn 123-45-"),
        lpad((id % 10000).cast("string"), 4, "0"))).otherwise(lit("")),
      when(id % 7 === 0, concat(lit(" call 202-555-"),
        lpad((id % 10000).cast("string"), 4, "0"), lit(" from 10.0."),
        (id % 256).cast("string"), lit("."),
        ((id * 7) % 256).cast("string"))).otherwise(lit(""))).as("text"))
    TextAnalysis.piiScan(injected, "text").drop("text")
  }.oracle(
    """WITH i AS (
      |  SELECT doc_id, text ||
      |    CASE WHEN doc_id % 3 = 0 THEN ' reach user' || doc_id::VARCHAR
      |      || '@mail.example.com' ELSE '' END ||
      |    CASE WHEN doc_id % 5 = 0 THEN ' ssn 123-45-'
      |      || lpad((doc_id % 10000)::VARCHAR, 4, '0') ELSE '' END ||
      |    CASE WHEN doc_id % 7 = 0 THEN ' call 202-555-'
      |      || lpad((doc_id % 10000)::VARCHAR, 4, '0') || ' from 10.0.'
      |      || (doc_id % 256)::VARCHAR || '.'
      |      || ((doc_id * 7) % 256)::VARCHAR ELSE '' END AS t
      |  FROM documents),
      |n AS (
      |  SELECT doc_id, t,
      |    CAST(len(regexp_extract_all(t,
      |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
      |      AS BIGINT) AS n_emails,
      |    CAST(len(regexp_extract_all(t, '\b\d{3}-\d{2}-\d{4}\b'))
      |      AS BIGINT) AS n_ssns,
      |    CAST(len(regexp_extract_all(t, '\b\d{3}-\d{3}-\d{4}\b'))
      |      AS BIGINT) AS n_phones,
      |    CAST(len(regexp_extract_all(t,
      |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips
      |  FROM i)
      |SELECT doc_id, n_emails, n_ssns, n_phones, n_ips,
      |  (n_emails > 0 OR n_ssns > 0 OR n_phones > 0 OR n_ips > 0)
      |    AS has_pii,
      |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |    '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
      |    '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g'),
      |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g')
      |    AS redacted
      |FROM n""".stripMargin)

  // ---- training-data pipeline: corpus-level line dedup (C4 pass) ---------
  // Documents are re-lined into 4-word chunks (the corpus has no newlines;
  // both engines build identical lines), then every occurrence of any line
  // with corpus frequency >= 3 is dropped and the text reassembled in
  // order. At sf0.01 the pass removes 183 boilerplate-line occurrences.
  lane("q123_line_dedup") { (s, dir) =>
    val ws = split(col("text"), " ")
    val lined = t(s, dir, "documents").select(col("doc_id"),
      array_join(transform(
        sequence(lit(0), ceil(size(ws) / lit(4.0)).cast("int") - 1),
        i => array_join(slice(ws, i * lit(4) + 1, lit(4)), " ")), "\n")
        .as("text"))
    graft.dedup.NearDup.dedupCorpusLines(lined, "doc_id", "text", "\n",
      minDf = 3)
  }.oracle(
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
      |  FROM documents),
      |l AS (
      |  SELECT doc_id,
      |    unnest(range(0, CAST(ceil(len(ws) / 4.0) AS BIGINT))) AS idx,
      |    unnest(list_transform(range(0, CAST(ceil(len(ws) / 4.0)
      |        AS BIGINT)),
      |      i -> array_to_string(ws[i*4+1 : i*4+4], ' '))) AS line
      |  FROM w),
      |c AS (SELECT line, count(*) AS df FROM l GROUP BY 1),
      |f AS (SELECT l.doc_id, l.idx, l.line, c.df
      |  FROM l JOIN c USING (line))
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
      |  CAST(count(CASE WHEN df < 3 THEN 1 END) AS BIGINT) AS n_kept,
      |  coalesce(string_agg(CASE WHEN df < 3 THEN line END,
      |    chr(10) ORDER BY idx), '') AS cleaned_text
      |FROM f GROUP BY doc_id""".stripMargin)

  // ---- training-data pipeline: temperature-weighted domain resampling ----
  // A skewed 4-domain fixture (8:4:2:2 per 16 ids) flattened with
  // alpha = 0.5 at a 50% token budget — rare domains keep a higher
  // fraction, membership a pure salted-hash function of the doc id.
  lane("q124_temperature_sample") { (s, dir) =>
    val m = col("doc_id") % 16
    val d = t(s, dir, "documents").select(col("doc_id"),
      when(m < 8, "big").when(m < 12, "mid").when(m < 14, "small")
        .otherwise("rare").as("domain"))
    graft.operators.Sampling.temperatureResample(d, "doc_id", "domain",
        alpha = 0.5, budgetFrac = 0.5)
      .select("doc_id", "domain", "n_domain", "keep_p", "u")
  }.oracle(
    """WITH d AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 16 < 8 THEN 'big'
      |         WHEN doc_id % 16 < 12 THEN 'mid'
      |         WHEN doc_id % 16 < 14 THEN 'small'
      |         ELSE 'rare' END AS domain
      |  FROM documents),
      |s AS (
      |  SELECT domain, CAST(count(*) AS BIGINT) AS n_domain,
      |    CAST(round(pow(count(*), 0.5) * 1e6) AS BIGINT) AS score
      |  FROM d GROUP BY 1),
      |t AS (SELECT CAST(sum(n_domain) AS BIGINT) AS nn,
      |    CAST(sum(score) AS BIGINT) AS ss FROM s),
      |p AS (
      |  SELECT domain, n_domain,
      |    least(CAST(1.0 AS DOUBLE), CAST(0.5 AS DOUBLE) * nn * score
      |      / (ss * n_domain)) AS keep_p
      |  FROM s, t),
      |j AS (
      |  SELECT d.doc_id, d.domain, p.n_domain, p.keep_p,
      |    ('0x' || substr(md5('temp_' || d.doc_id::VARCHAR), 1, 15))::BIGINT
      |      / 1152921504606846976.0 AS u
      |  FROM d JOIN p USING (domain))
      |SELECT doc_id, domain, n_domain, keep_p, u FROM j
      |WHERE u < keep_p""".stripMargin)

  // ---- training-data pipeline: bigram-LM perplexity quality filter -------
  // CCNet-style scoring with a corpus-trained add-k bigram LM; per-term
  // logs are integer-rounded to 1e-9 before the per-doc sum, so the
  // result is summation-order-proof. Threshold chosen against the corpus
  // distribution (avg_logp p25..p75 spans -3.42..-3.38 at sf0.01) for a
  // pass/fail mix at both scales.
  lane("q126_perplexity_filter") { (s, dir) =>
    TextAnalysis.perplexityScore(t(s, dir, "documents"), "doc_id", "text",
      addK = 0.5, passThreshold = -3.41)
  }.oracle(
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
      |  FROM documents),
      |allw AS (SELECT unnest(ws) AS w1 FROM w),
      |uni AS (SELECT w1, count(*) AS c1 FROM allw GROUP BY 1),
      |v AS (SELECT count(*) AS V FROM uni),
      |g AS (SELECT doc_id,
      |    unnest(list_transform(range(1, len(ws)), i -> ws[i])) AS w1,
      |    unnest(list_transform(range(1, len(ws)), i -> ws[i+1])) AS w2
      |  FROM w),
      |bi AS (SELECT w1, w2, count(*) AS c12 FROM g GROUP BY 1, 2),
      |sc AS (
      |  SELECT doc_id, CAST(round(ln(
      |      (c12 + CAST(0.5 AS DOUBLE)) / (c1 + CAST(0.5 AS DOUBLE) * V))
      |      * 1e9) AS BIGINT) AS t
      |  FROM g JOIN bi USING (w1, w2) JOIN uni USING (w1), v),
      |a AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
      |    (CAST(sum(t) AS BIGINT) / 1e9) / count(*) AS avg_logp
      |  FROM sc GROUP BY 1)
      |SELECT doc_id, n_grams, avg_logp,
      |  avg_logp > -3.41 AS ppl_ok
      |FROM a""".stripMargin)

  // ---- training-data pipeline: length-bucketed batch layout audit --------
  // Both batching policies (arrival order vs length-bucketed) over the
  // same sharded corpus, with per-batch padding waste — the measured
  // layout win of bucketed batching. Pure integer window arithmetic.
  lane("q127_batch_layout") { (s, dir) =>
    val d = t(s, dir, "documents")
    val len = size(split(col("text"), " "))
    val naive = operators.Layout.batchByLength(d, "doc_id", len,
        batchSize = 16, nShards = 8, byLength = false)
      .withColumn("policy", lit("naive"))
    val bucketed = operators.Layout.batchByLength(d, "doc_id", len,
        batchSize = 16, nShards = 8, byLength = true)
      .withColumn("policy", lit("bucketed"))
    naive.unionByName(bucketed)
      .select("policy", "shard", "batch_id", "n_docs", "max_len",
        "sum_len", "padding")
  }.oracle(
    """WITH d AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS len,
      |    doc_id % 8 AS shard
      |  FROM documents),
      |n AS (
      |  SELECT shard, len, CAST(floor((row_number() OVER (
      |    PARTITION BY shard ORDER BY doc_id) - 1) / 16.0) AS BIGINT)
      |    AS batch_id
      |  FROM d),
      |b AS (
      |  SELECT shard, len, CAST(floor((row_number() OVER (
      |    PARTITION BY shard ORDER BY len, doc_id) - 1) / 16.0) AS BIGINT)
      |    AS batch_id
      |  FROM d),
      |na AS (
      |  SELECT 'naive' AS policy, shard, batch_id,
      |    CAST(count(*) AS BIGINT) AS n_docs, max(len) AS max_len,
      |    CAST(sum(len) AS BIGINT) AS sum_len
      |  FROM n GROUP BY 2, 3),
      |ba AS (
      |  SELECT 'bucketed' AS policy, shard, batch_id,
      |    CAST(count(*) AS BIGINT) AS n_docs, max(len) AS max_len,
      |    CAST(sum(len) AS BIGINT) AS sum_len
      |  FROM b GROUP BY 2, 3)
      |SELECT policy, shard, batch_id, n_docs, max_len, sum_len,
      |  max_len * n_docs - sum_len AS padding
      |FROM (SELECT * FROM na UNION ALL SELECT * FROM ba)""".stripMargin)

  // ---- training-data pipeline: benchmark decontamination -----------------
  // Every 37th doc plays the held-out eval benchmark; the rest is the
  // training corpus. A train doc is contaminated when it shares any word
  // 4-gram with the eval set (GPT-3 appendix-C style n-gram overlap;
  // n = 4 gives a discriminating mix on this fixture — 2.7% flagged at
  // sf0.01, 33% at sf0.1 — where 3-grams saturate and 5-grams vanish).
  // Eval grams are a broadcast dim; the corpus is never shuffled by gram.
  lane("q128_decontaminate") { (s, dir) =>
    val docs = t(s, dir, "documents")
    graft.dedup.NearDup.decontaminate(
      docs.where(col("doc_id") % 37 =!= 0),
      docs.where(col("doc_id") % 37 === 0),
      "doc_id", "text", n = 4)
  }.oracle(
    """WITH words AS (
      |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS wl
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |    wl[i] || ' ' || wl[i+1] || ' ' || wl[i+2] || ' ' || wl[i+3] AS shingle
      |  FROM words, unnest(range(1, len(wl) - 2)) t(i)
      |  WHERE len(wl) >= 4),
      |ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 37 = 0),
      |hits AS (
      |  SELECT s.doc_id, count(*) AS n_eval_hits
      |  FROM sh s JOIN ev ON s.shingle = ev.shingle
      |  WHERE s.doc_id % 37 <> 0
      |  GROUP BY 1)
      |SELECT d.doc_id, coalesce(h.n_eval_hits, 0) AS n_eval_hits,
      |  coalesce(h.n_eval_hits, 0) >= 1 AS contaminated
      |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
      |WHERE d.doc_id % 37 <> 0""".stripMargin)

  // ---- training-data pipeline: contamination overlap report ---------------
  // The GPT-3 appendix-C analysis on q128's machinery: per training doc,
  // its distinct 4-gram count, eval hits, the overlap share in exact
  // integer nanos, and the 10% dirty flag — the triage report between
  // any-hit dropping and keeping everything. Same train/eval split and
  // broadcast shape as q128.
  lane("q196_contamination_report") { (s, dir) =>
    val docs = t(s, dir, "documents")
    graft.dedup.NearDup.contaminationReport(
      docs.where(col("doc_id") % 37 =!= 0),
      docs.where(col("doc_id") % 37 === 0),
      "doc_id", "text", n = 4)
  }.oracle(
    // q196: the fraction-based contamination report over q128's shingle
    // machinery — n_grams, hits, floor(1e9*hits/grams), dirty at 10%.
    """WITH words AS (
      |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS wl
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |    wl[i] || ' ' || wl[i+1] || ' ' || wl[i+2] || ' ' || wl[i+3] AS shingle
      |  FROM words, unnest(range(1, len(wl) - 2)) t(i)
      |  WHERE len(wl) >= 4),
      |ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 37 = 0),
      |st AS (
      |  SELECT s.doc_id, count(*) AS n_grams,
      |    count(ev.shingle) AS n_eval_hits
      |  FROM sh s LEFT JOIN ev ON s.shingle = ev.shingle
      |  WHERE s.doc_id % 37 <> 0
      |  GROUP BY 1)
      |SELECT d.doc_id,
      |  coalesce(st.n_grams, 0) AS n_grams,
      |  coalesce(st.n_eval_hits, 0) AS n_eval_hits,
      |  CASE WHEN coalesce(st.n_grams, 0) = 0 THEN 0
      |       ELSE CAST((1000000000 * st.n_eval_hits) // st.n_grams
      |         AS BIGINT) END AS overlap_nano,
      |  CASE WHEN coalesce(st.n_grams, 0) = 0 THEN 0
      |       ELSE CAST((1000000000 * st.n_eval_hits) // st.n_grams
      |         AS BIGINT) END >= 100000000 AS dirty
      |FROM documents d LEFT JOIN st ON d.doc_id = st.doc_id
      |WHERE d.doc_id % 37 <> 0""".stripMargin)

  // ---- training-data pipeline: leakage-safe split ------------------------
  // Split assignment keyed on the near-dup cluster canonical (3-gram
  // Jaccard >= 1/4, same edge semantics as q69), so no near-duplicate pair
  // ever straddles train/test. Singletons hash exactly like q103's plain
  // split on the same salt.
  lane("q129_leakage_split") { (s, dir) =>
    graft.operators.Sampling.leakageSafeSplit(t(s, dir, "documents"),
      "doc_id", "text",
      splits = Seq("train" -> 80, "val" -> 10, "test" -> 10))
  }.oracle(
    s"""WITH RECURSIVE
      |$wordShingles3,
      |counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      |pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |ed AS (
      |  SELECT id_a AS src, id_b AS dst FROM pairs
      |  JOIN counts ca ON ca.doc_id = id_a
      |  JOIN counts cb ON cb.doc_id = id_b
      |  WHERE common * 4 >= 1 * (ca.n_sh + cb.n_sh - common)),
      |sym AS (SELECT src AS a, dst AS b FROM ed
      |        UNION SELECT dst AS a, src AS b FROM ed),
      |$ccReach,
      |cc AS (SELECT v, min(c) AS component FROM reach GROUP BY v),
      |canon AS (
      |  SELECT d.doc_id, coalesce(cc.component, d.doc_id) AS canonical_id
      |  FROM documents d LEFT JOIN cc ON d.doc_id = cc.v),
      |bkt AS (
      |  SELECT doc_id, canonical_id,
      |    ('0x' || substr(md5('split_' || canonical_id::VARCHAR), 1, 15))
      |      ::BIGINT % 100 AS split_bucket
      |  FROM canon)
      |SELECT doc_id, canonical_id, split_bucket,
      |  CASE WHEN split_bucket < 80 THEN 'train'
      |       WHEN split_bucket < 90 THEN 'val'
      |       ELSE 'test' END AS split
      |FROM bkt""".stripMargin)

  // ---- training-data pipeline: fixed-size per-stratum corpus cap ---------
  // Exactly min(30, |lang|) docs per language by bottom-k salted hash —
  // the absolute-budget companion to q107's fixed-rate stratified sample.
  lane("q132_stratum_cap") { (s, dir) =>
    graft.operators.Sampling.capPerStratum(
        t(s, dir, "documents").select(col("doc_id"), col("lang")),
        "doc_id", "lang", cap = 30)
      .select(col("doc_id"), col("lang"), col("sample_rank"))
  }.oracle(
    """WITH r AS (
      |  SELECT doc_id, lang,
      |    CAST(row_number() OVER (PARTITION BY lang ORDER BY
      |      ('0x' || substr(md5('cap_' || doc_id::VARCHAR), 1, 15))::BIGINT
      |        ASC, doc_id ASC) AS INTEGER) AS sample_rank
      |  FROM documents)
      |SELECT doc_id, lang, sample_rank FROM r
      |WHERE sample_rank <= 30""".stripMargin)

  // ---- training-data pipeline: span-level repeated-substring dedup -------
  // Positional 16-gram frequency re-expression of suffix-array substring
  // dedup (arXiv:2107.06499): maximal spans whose every 16-gram occurs in
  // >= 2 docs. Portable gram hashes for the oracle replay.
  lane("q133_repeated_spans") { (s, dir) =>
    graft.dedup.NearDup.repeatedSpans(t(s, dir, "documents"),
      "doc_id", "text", k = 16, minDf = 2)
  }.oracle(
    // Repeated-span replay: positional 16-gram portable hashes, global
    // distinct-doc frequency >= 2 marks positions, gaps-and-islands
    // (pos - row_number) coalesces runs into maximal spans.
    """WITH pos AS (
      |  SELECT doc_id, text,
      |    unnest(generate_series(1::BIGINT, length(text) - 15)) AS pos
      |  FROM documents WHERE length(text) >= 16),
      |h AS (
      |  SELECT doc_id, pos,
      |    ('0x' || substr(md5('0_' || substr(text, pos::INTEGER, 16)), 1, 15))::BIGINT
      |      AS gh
      |  FROM pos),
      |freq AS (
      |  SELECT gh FROM h GROUP BY gh HAVING count(DISTINCT doc_id) >= 2),
      |marked AS (SELECT doc_id, pos FROM h JOIN freq USING (gh)),
      |grp AS (
      |  SELECT doc_id, pos,
      |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS g
      |  FROM marked)
      |SELECT doc_id, min(pos) AS span_start, max(pos) + 15 AS span_end,
      |  max(pos) - min(pos) + 16 AS span_len, count(*) AS n_grams
      |FROM grp GROUP BY doc_id, g""".stripMargin)

  // ---- training-data pipeline: sliding-window chunking -------------------
  // RAG / long-context segmentation: 64-token windows advancing by 48 so
  // consecutive chunks share 16 tokens; every token covered, final window
  // may be short, empty docs still yield one chunk. Pure map — one
  // generator, zero shuffles (plan-asserted).
  lane("q134_chunk_windows") { (s, dir) =>
    TextAnalysis.chunkDocuments(t(s, dir, "documents"), "doc_id", "text",
      chunkSize = 64, overlap = 16)
  }.oracle(
    // Sliding-window chunk replay: window i of 64 tokens starts at token
    // i*48 (16-token overlap), i in [0, max(1, ceil((n-16)/48))).
    """WITH w AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |c AS (
      |  SELECT doc_id, ws,
      |    greatest(1, (len(ws) - 16 + 47) // 48) AS n_chunks
      |  FROM w),
      |u AS (
      |  SELECT doc_id, ws, unnest(range(0, n_chunks)) AS i FROM c)
      |SELECT doc_id, i AS chunk_id, i * 48 AS token_start,
      |  CAST(len(list_slice(ws, (i*48+1)::INTEGER, (i*48+64)::INTEGER))
      |    AS BIGINT) AS n_tokens,
      |  array_to_string(list_slice(ws, (i*48+1)::INTEGER,
      |    (i*48+64)::INTEGER), ' ') AS chunk_text
      |FROM u""".stripMargin)

  // ---- training-data pipeline: budget-capped quality selection -----------
  // "Best docs until 40k tokens": rank by (quality desc, id), keep while
  // the preceding cumulative token count is under budget. Bucketed exact
  // form — only the single boundary score-bucket is window-ranked; the
  // oracle replays the equivalent naive global window.
  lane("q135_budget_select") { (s, dir) =>
    val base = t(s, dir, "documents").select(col("doc_id"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
      TextAnalysis.qualityScore(col("text")).as("score"))
    graft.operators.Sampling.budgetSelect(base, "doc_id", "n_tokens",
      "score", budget = 40000L)
  }.oracle(
    // Budget-select replay: the NAIVE global-order window (the bucketed
    // Spark path is provably identical — floor buckets refine the order).
    """WITH t AS (
      |  SELECT doc_id,
      |    CAST(CASE WHEN len(trim(text)) = 0 THEN 0
      |         ELSE len(string_split_regex(trim(text), '\s+')) END
      |      AS BIGINT) AS n_tokens,
      |    least(1.0, CAST(CASE WHEN len(trim(text)) = 0 THEN 0
      |         ELSE len(string_split_regex(trim(text), '\s+')) END
      |        AS DOUBLE) / 100.0) *
      |      (1.0 - CAST(len(regexp_extract_all(lower(text), '[^a-z0-9\s]'))
      |        AS DOUBLE) / len(text)) AS score
      |  FROM documents),
      |o AS (
      |  SELECT doc_id, n_tokens, score,
      |    coalesce(sum(n_tokens) OVER (ORDER BY score DESC, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS cum_before
      |  FROM t)
      |SELECT doc_id, n_tokens, score, cum_before < 40000 AS selected
      |FROM o""".stripMargin)

  // ---- training-data pipeline: URL canonicalization + eTLD+1 ------------
  // Web-corpus identity: URL-level dedup / domain mixing must key on the
  // CANONICAL url (else cosmetic variants count separately). Synthesized
  // URLs exercise scheme case, default ports, www prefixes, empty paths,
  // queries, fragments, multi-label public suffixes and a malformed lane.
  lane("q136_url_canonical") { (s, dir) =>
    val d = col("doc_id")
    val host = element_at(array(lit("Example.COM"),
      lit("news.example.co.uk"), lit("www.Data.example.org"),
      lit("blog.example.com"), lit("cdn.example.net")), (d % 5 + 1).cast("int"))
    val scheme = when(d % 2 === 0, lit("HTTP")).otherwise(lit("https"))
    val port = when(d % 3 === 0,
      when(d % 2 === 0, lit(":80")).otherwise(lit(":443"))).otherwise(lit(""))
    val path = when(d % 4 === 0, lit(""))
      .otherwise(concat(lit("/Page/"), (d % 50).cast("string")))
    val query = when(d % 7 === 0,
      concat(lit("?id="), (d % 9).cast("string"))).otherwise(lit(""))
    val frag = when(d % 6 === 0,
      concat(lit("#Sec"), (d % 4).cast("string"))).otherwise(lit(""))
    val base = t(s, dir, "documents").select(d,
      when(d % 11 === 0, lit("not a url"))
        .otherwise(concat(scheme, lit("://"), host, port, path, query, frag))
        .as("url_raw"))
    base.select(d, col("url_raw"),
      TextAnalysis.canonicalizeUrl(col("url_raw")).as("url_canonical"),
      TextAnalysis.urlHost(col("url_raw")).as("host"))
      .withColumn("registered_domain",
        TextAnalysis.registeredDomain(col("host")))
  }.oracle(
    // URL canonicalization replay: same extract regex, default-port strip,
    // www strip, fragment drop, empty-path slash; eTLD+1 via last-2/last-3
    // labels against the multi-label suffix list.
    """WITH base AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 11 = 0 THEN 'not a url'
      |    ELSE (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END)
      |      || '://' ||
      |      (['Example.COM','news.example.co.uk','www.Data.example.org',
      |        'blog.example.com','cdn.example.net'])[doc_id % 5 + 1] ||
      |      (CASE WHEN doc_id % 3 = 0 THEN
      |        (CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE ':443' END)
      |        ELSE '' END) ||
      |      (CASE WHEN doc_id % 4 = 0 THEN ''
      |        ELSE '/Page/' || CAST(doc_id % 50 AS VARCHAR) END) ||
      |      (CASE WHEN doc_id % 7 = 0 THEN '?id=' ||
      |        CAST(doc_id % 9 AS VARCHAR) ELSE '' END) ||
      |      (CASE WHEN doc_id % 6 = 0 THEN '#Sec' ||
      |        CAST(doc_id % 4 AS VARCHAR) ELSE '' END)
      |    END AS url_raw
      |  FROM documents),
      |ex AS (
      |  SELECT doc_id, url_raw,
      |    lower(regexp_extract(url_raw,
      |      '^\s*([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]+)([^#]*)(#.*)?$', 1))
      |      AS scheme,
      |    lower(regexp_extract(url_raw,
      |      '^\s*([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]+)([^#]*)(#.*)?$', 2))
      |      AS auth,
      |    regexp_extract(url_raw,
      |      '^\s*([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]+)([^#]*)(#.*)?$', 3)
      |      AS rest
      |  FROM base),
      |h AS (
      |  SELECT doc_id, url_raw, scheme, rest,
      |    regexp_replace(
      |      CASE WHEN scheme = 'http' THEN regexp_replace(auth, ':80$', '')
      |           WHEN scheme = 'https' THEN regexp_replace(auth, ':443$', '')
      |           ELSE auth END, '^www\.', '') AS host_c,
      |    CASE WHEN auth <> '' THEN regexp_replace(
      |      regexp_replace(auth, ':[0-9]+$', ''), '^www\.', '') END AS host
      |  FROM ex)
      |SELECT doc_id, url_raw,
      |  CASE WHEN scheme <> '' THEN scheme || '://' || host_c ||
      |    (CASE WHEN rest = '' THEN '/' ELSE rest END) END AS url_canonical,
      |  host,
      |  CASE WHEN host IS NOT NULL THEN (
      |    CASE WHEN len(ls) <= 2 THEN host
      |         WHEN (ls[-2] || '.' || ls[-1]) IN
      |             ('co.uk','ac.uk','com.au','co.jp','com.br','co.in')
      |             AND len(ls) >= 3
      |           THEN ls[-3] || '.' || ls[-2] || '.' || ls[-1]
      |         ELSE ls[-2] || '.' || ls[-1] END) END AS registered_domain
      |FROM (SELECT *, string_split(host, '.') AS ls FROM h)""".stripMargin)

  // ---- training-data pipeline: HTML strip + entity decode ----------------
  // First pass of every web-corpus text pipeline: tags -> spaces (word
  // boundaries survive <br>), common entities decode with &amp; LAST,
  // whitespace collapses. Deterministic HTML wrapping + entity injection
  // around the fixture text so planted tag/entity counts are known.
  lane("q137_html_strip") { (s, dir) =>
    val d = col("doc_id")
    val html = concat(
      lit("<html><body class=\"c\"><p>"), col("text"),
      when(d % 3 === 0, lit(" &amp; more &lt;raw&gt;")).otherwise(lit("")),
      when(d % 4 === 0, lit("<br/>line&nbsp;two")).otherwise(lit("")),
      lit("</p></body></html>"))
    t(s, dir, "documents").select(d, html.as("html"))
      .select(d,
        size(regexp_extract_all(col("html"), lit("<[^>]*>"), lit(0)))
          .cast("long").as("n_tags"),
        size(regexp_extract_all(col("html"),
          lit("&[a-z]+;|&#[0-9]+;"), lit(0))).cast("long").as("n_entities"),
        TextAnalysis.stripHtml(col("html")).as("clean_text"))
  }.oracle(
    // HTML strip replay: tags -> spaces, entities decode with &amp; LAST,
    // whitespace collapse. DuckDB regexp_replace needs the 'g' flag
    // (Spark replaces all matches by default).
    """WITH h AS (
      |  SELECT doc_id,
      |    '<html><body class="c"><p>' || text ||
      |    (CASE WHEN doc_id % 3 = 0 THEN ' &amp; more &lt;raw&gt;'
      |      ELSE '' END) ||
      |    (CASE WHEN doc_id % 4 = 0 THEN '<br/>line&nbsp;two'
      |      ELSE '' END) ||
      |    '</p></body></html>' AS html
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(html, '<[^>]*>')) AS BIGINT) AS n_tags,
      |  CAST(len(regexp_extract_all(html, '&[a-z]+;|&#[0-9]+;')) AS BIGINT)
      |    AS n_entities,
      |  trim(regexp_replace(
      |    replace(replace(replace(replace(replace(replace(
      |      regexp_replace(html, '<[^>]*>', ' ', 'g'),
      |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
      |      '&nbsp;', ' '), '&amp;', '&'),
      |    '\s+', ' ', 'g')) AS clean_text
      |FROM h""".stripMargin)

  /** BM25 oracle pieces shared by q138, q200, q203, q204 and q207:
    * `toks(doc_id, dl, tok)` (each token with its document's length),
    * `stats(n, sumdl)` and the per-document score over `f` (tf, dl), `d`
    * (df) and `stats`. */
  private def bm25Toks: String =
    """toks AS (
      |  SELECT doc_id,
      |    CASE WHEN len(trim(text)) = 0 THEN 0
      |         ELSE len(string_split_regex(trim(text), '\s+')) END AS dl,
      |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
      |  FROM documents)""".stripMargin

  private def bm25Stats: String =
    """stats AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN len(trim(text)) = 0 THEN 0
      |      ELSE len(string_split_regex(trim(text), '\s+')) END) AS BIGINT)
      |      AS sumdl
      |  FROM documents)""".stripMargin

  private def bm25Score: String =
    """round(sum(ln(1 + (n - df + 0.5) / (df + 0.5))
      |      * (tf * (1.2 + 1))
      |      / (tf + 1.2 * (1 - 0.75
      |          + 0.75 * dl / (CAST(sumdl AS DOUBLE) / n)))), 4) AS score,
      |    CAST(count(*) AS BIGINT) AS n_terms_hit""".stripMargin

  // ---- training-data pipeline: BM25 retrieval ----------------------------
  // Okapi BM25 (Lucene idf form) for a fixed 3-term query over documents,
  // top-50. Corpus explodes to tokens but is filtered to the broadcast
  // term set before any shuffle; top-k is distributed TakeOrdered.
  lane("q138_bm25_topk") { (s, dir) =>
    TextAnalysis.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
      Seq("spark", "window", "merge"), k = 50)
  }.oracle(
    // BM25: idf/length normalization replayed term-by-term; (1.2 + 1) is
    // COMPUTED (not the literal 2.2) so both engines round the double sum
    // identically.
    s"""WITH $bm25Toks,
      |f AS (
      |  SELECT doc_id, tok, max(dl) AS dl,
      |    CAST(count(*) AS BIGINT) AS tf
      |  FROM toks WHERE tok IN ('spark', 'window', 'merge')
      |  GROUP BY doc_id, tok),
      |$bm25Stats,
      |d AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM f GROUP BY tok),
      |s AS (
      |  SELECT f.doc_id,
      |    $bm25Score
      |  FROM f JOIN d USING (tok) CROSS JOIN stats
      |  GROUP BY f.doc_id)
      |SELECT doc_id, score, n_terms_hit,
      |  row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
      |FROM s ORDER BY score DESC, doc_id ASC LIMIT 50""".stripMargin)

  // ---- training-data pipeline: weighted sample w/o replacement -----------
  // Efraimidis–Spirakis exponential keys, 20 docs per language, weight =
  // chars (longer docs proportionally likelier). Deterministic portable-
  // hash uniforms; same WindowGroupLimit map-side cap shape as q132.
  lane("q139_weighted_sample") { (s, dir) =>
    val base = t(s, dir, "documents").select(col("doc_id"), col("lang"),
      greatest(col("n_chars"), lit(1L)).as("w"))
    graft.operators.Sampling.weightedSample(base, "doc_id", "lang", "w",
      k = 20)
  }.oracle(
    // Efraimidis–Spirakis keys: u from the portable hash in (0,1),
    // rank by round(ln(u)/w, 8) per stratum.
    """WITH b AS (
      |  SELECT doc_id, lang, greatest(n_chars, 1) AS w,
      |    ((('0x' || substr(md5('wsamp_' || doc_id::VARCHAR), 1, 15))
      |        ::BIGINT % 4503599627370496) + 0.5) / 4503599627370496.0
      |      AS u
      |  FROM documents),
      |k AS (
      |  SELECT doc_id, lang, w, round(ln(u) / w, 8) AS sample_key
      |  FROM b)
      |SELECT doc_id, lang, w, sample_key,
      |  CAST(rk AS INTEGER) AS sample_rank
      |FROM (
      |  SELECT *, row_number() OVER (PARTITION BY lang
      |    ORDER BY sample_key DESC, doc_id ASC) AS rk
      |  FROM k) WHERE rk <= 20""".stripMargin)

  // ---- training-data pipeline: BPE merge-table training ------------------
  // Sennrich subword BPE on the word-frequency dictionary: 5 merge rounds,
  // each = one pair-count aggregate over the checkpointed vocab frame +
  // a 1-row TakeOrdered collect. The corpus is scanned exactly once.
  lane("q143_bpe_merges") { (s, dir) =>
    TextAnalysis.bpeMergeTable(t(s, dir, "documents"), "text", merges = 5)
  }.oracle {
    // BPE replay: 5 unrolled merge rounds over the word-frequency dict;
    // pair counts at every adjacent position, (count desc, l, r) tiebreak,
    // greedy-leftmost merge as a list_reduce fold over singleton lists.
    val step = (i: Int) => {
      val j = i - 1
      s"""p$i AS (
         |  SELECT s[t.i] AS l, s[t.i+1] AS r, sum(f) AS c
         |  FROM v$j, unnest(range(1, len(s))) t(i)
         |  WHERE len(s) > 1
         |  GROUP BY 1, 2),
         |b$i AS (SELECT l, r, c FROM p$i ORDER BY c DESC, l ASC, r ASC LIMIT 1),
         |v$i AS (
         |  SELECT w, f,
         |    list_reduce(list_transform(s, x -> [x]),
         |      (acc, x) -> CASE WHEN acc[len(acc)] = b$i.l AND x[1] = b$i.r
         |                       THEN acc[1:len(acc)-1] || [b$i.l || b$i.r]
         |                       ELSE acc || x END) AS s
         |  FROM v$j, b$i)""".stripMargin
    }
    ("""WITH toks AS (
      |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
      |  FROM documents),
      |v0 AS (
      |  SELECT w, CAST(count(*) AS BIGINT) AS f,
      |    list_transform(range(1, len(w)+1), i -> w[i:i]) || ['</w>'] AS s
      |  FROM toks WHERE len(w) > 0 GROUP BY w),
      |""".stripMargin
      + (1 to 5).map(step).mkString(",\n") + "\nSELECT * FROM (\n"
      + (1 to 5).map(i =>
        s"""SELECT CAST($i AS BIGINT) AS step, l AS "left", r AS "right",
           |  l || r AS merged, CAST(c AS BIGINT) AS pair_count FROM b$i""".stripMargin)
        .mkString("\nUNION ALL\n")
      + "\n) ORDER BY step")
  }

  // ---- training-data pipeline: BPE subword encoding ----------------------
  // The q143 merge table (trained on this corpus, collected as 5 plan-time
  // literal pairs) replayed over every document: pure per-row map, zero
  // shuffles in the encode pass.
  lane("q144_bpe_encode") { (s, dir) =>
    val merges = TextAnalysis.bpeMergeTable(t(s, dir, "documents"), "text",
        merges = 5)
      .orderBy("step").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    TextAnalysis.bpeEncode(t(s, dir, "documents"), "doc_id", "text", merges)
  }.oracle {
    // BPE encode: the q143 training chain re-derived, then the five
    // merges replayed over every document's words (nested list_reduce
    // folds), scalar outputs (counts + prefix).
    val step = (i: Int) => {
      val j = i - 1
      s"""p$i AS (
         |  SELECT s[t.i] AS l, s[t.i+1] AS r, sum(f) AS c
         |  FROM v$j, unnest(range(1, len(s))) t(i)
         |  WHERE len(s) > 1
         |  GROUP BY 1, 2),
         |b$i AS (SELECT l, r, c FROM p$i ORDER BY c DESC, l ASC, r ASC LIMIT 1),
         |v$i AS (
         |  SELECT w, f,
         |    list_reduce(list_transform(s, x -> [x]),
         |      (acc, x) -> CASE WHEN acc[len(acc)] = b$i.l AND x[1] = b$i.r
         |                       THEN acc[1:len(acc)-1] || [b$i.l || b$i.r]
         |                       ELSE acc || x END) AS s
         |  FROM v$j, b$i)""".stripMargin
    }
    val astep = (i: Int) => {
      val j = i - 1
      s"""e$i AS (
         |  SELECT doc_id, list_transform(ws, s ->
         |    list_reduce(list_transform(s, x -> [x]),
         |      (acc, x) -> CASE WHEN acc[len(acc)] = b$i.l AND x[1] = b$i.r
         |                       THEN acc[1:len(acc)-1] || [b$i.l || b$i.r]
         |                       ELSE acc || x END)) AS ws
         |  FROM e$j, b$i)""".stripMargin
    }
    ("""WITH toks AS (
      |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
      |  FROM documents),
      |v0 AS (
      |  SELECT w, CAST(count(*) AS BIGINT) AS f,
      |    list_transform(range(1, len(w)+1), i -> w[i:i]) || ['</w>'] AS s
      |  FROM toks WHERE len(w) > 0 GROUP BY w),
      |""".stripMargin
      + (1 to 5).map(step).mkString(",\n") + ",\n"
      + """e0 AS (
      |  SELECT doc_id, list_transform(
      |    list_filter(string_split_regex(trim(lower(text)), '\s+'),
      |      w -> len(w) > 0),
      |    w -> list_transform(range(1, len(w)+1), i -> w[i:i]) || ['</w>']) AS ws
      |  FROM documents),
      |""".stripMargin
      + (1 to 5).map(astep).mkString(",\n") + "\n"
      + """SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
      |  CAST(COALESCE(list_sum(list_transform(ws, s -> len(s))), 0)
      |    AS BIGINT) AS n_subwords,
      |  array_to_string(flatten(ws)[1:8], ' ') AS encoded_prefix
      |FROM e5""".stripMargin)
  }

  // ---- training-data pipeline: count-min sketch frequency estimates -----
  // 4×32 CMS over the corpus words; the 15 exact-top words get sketch
  // estimates next to their true counts (estimate >= exact always — CMS
  // can only over-count; width 32 vs ~30 word types makes 2 of 15
  // collide so both lanes are exercised). Sketch shuffle is bounded at
  // depth×width rows per mapper regardless of corpus size. The portable
  // hash (ONE md5 per row + affine members) lets the oracle replay it.
  lane("q145_cms_estimate") { (s, dir) =>
    val (depth, width) = (4, 32)
    val words = t(s, dir, "documents")
      .select(explode(TextAnalysis.tokens(col("text"))).as("word"))
      .where(length(col("word")) > 0)
    val sk = graft.functions.CountMin.sketch(words, "word", depth, width)
    val top = words.groupBy(col("word")).agg(count(lit(1)).as("exact_count"))
      .orderBy(col("exact_count").desc, col("word").asc).limit(15)
    graft.functions.CountMin.estimate(sk, top, "word", depth, width)
      .withColumn("overestimated", col("cms_estimate") > col("exact_count"))
      .select("word", "exact_count", "cms_estimate", "overestimated")
  }.oracle(
    // CMS replay: the portable seeded hashes rebuild the same 4x32
    // counter matrix; estimates are the row-wise minimum.
    """WITH words AS (
      |  SELECT tok AS word FROM (
      |    SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
      |    FROM documents)
      |  WHERE len(tok) > 0),
      |consts AS (
      |  SELECT i,
      |    ('0x' || substr(md5('a_' || i::VARCHAR), 1, 15))::BIGINT
      |      % 2147483646 + 1 AS a,
      |    ('0x' || substr(md5('b_' || i::VARCHAR), 1, 15))::BIGINT
      |      % 2147483647 AS b
      |  FROM range(0, 4) t(i)),
      |sk AS (
      |  SELECT i AS row, ((a * x + b) % 2147483647) % 32 AS bucket,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM (SELECT word,
      |          ('0x' || substr(md5('cms_' || word), 1, 15))::BIGINT
      |            % 2147483647 AS x
      |        FROM words) CROSS JOIN consts
      |  GROUP BY 1, 2),
      |top AS (
      |  SELECT word, CAST(count(*) AS BIGINT) AS exact_count FROM words
      |  GROUP BY word ORDER BY exact_count DESC, word ASC LIMIT 15),
      |tb AS (
      |  SELECT t.word, t.exact_count, i AS row,
      |    ((a * (('0x' || substr(md5('cms_' || t.word), 1, 15))::BIGINT
      |      % 2147483647) + b) % 2147483647) % 32 AS bucket
      |  FROM top t CROSS JOIN consts),
      |est AS (
      |  SELECT word, exact_count,
      |    CAST(min(coalesce(s.cnt, 0)) AS BIGINT) AS cms_estimate
      |  FROM tb LEFT JOIN sk s USING (row, bucket)
      |  GROUP BY 1, 2)
      |SELECT word, exact_count, cms_estimate,
      |  cms_estimate > exact_count AS overestimated
      |FROM est""".stripMargin)

  // ---- training-data pipeline: domain-mixture selection to budgets -------
  // The Pile/Dolma corpus-mixing step: per-language token budgets, docs
  // kept in deterministic salted-hash order until each domain's budget
  // is spent; 'fr' deliberately unlisted (dropped). Bucketed cutoffs —
  // only each domain's boundary bucket pays a row-level window.
  lane("q161_mixture_select") { (s, dir) =>
    val docs = t(s, dir, "documents")
      .withColumn("n_tokens",
        graft.text.TextAnalysis.tokenCount(col("text")).cast("long"))
    import s.implicits._
    graft.operators.Sampling.mixtureSelect(docs, "doc_id", "lang",
        "n_tokens", budgets = Seq("en" -> 5000L, "zh" -> 2000L,
          "es" -> 2000L, "de" -> 1500L).toDF("lang", "budget"))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        col("mix_bucket"), col("selected"))
  }.oracle(
    // Mixture-select replay: salted hash order, 1024 high-bit buckets
    // (u // 2^50), per-(lang, bucket) cutoffs, boundary-bucket window.
    """WITH d AS (
      |  SELECT doc_id, lang,
      |    CAST(CASE WHEN len(trim(text)) = 0 THEN 0
      |      ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT)
      |      AS n_tokens,
      |    ('0x' || substr(md5('mix_' || doc_id::VARCHAR), 1, 15))::BIGINT AS u
      |  FROM documents),
      |b AS (SELECT *, u // 1125899906842624 AS mix_bucket FROM d),
      |budgets(lang, budget) AS (
      |  VALUES ('en', 5000), ('zh', 2000), ('es', 2000), ('de', 1500)),
      |tot AS (
      |  SELECT lang, mix_bucket, sum(n_tokens) AS t FROM b GROUP BY 1, 2),
      |cum AS (
      |  SELECT *, sum(t) OVER (PARTITION BY lang ORDER BY mix_bucket) - t
      |    AS bef FROM tot),
      |cut AS (
      |  SELECT c.lang, min(c.mix_bucket) AS cutb
      |  FROM cum c JOIN budgets g ON c.lang = g.lang
      |  WHERE c.bef + c.t >= g.budget GROUP BY 1),
      |cutv AS (
      |  SELECT c.lang, cut.cutb, c.bef AS cut_before
      |  FROM cum c JOIN cut ON c.lang = cut.lang AND c.mix_bucket = cut.cutb),
      |j AS (
      |  SELECT b.*, g.budget, cv.cutb, cv.cut_before
      |  FROM b LEFT JOIN budgets g ON b.lang = g.lang
      |  LEFT JOIN cutv cv ON b.lang = cv.lang),
      |nonb AS (
      |  SELECT doc_id, lang, n_tokens, mix_bucket,
      |    CASE WHEN budget IS NULL THEN FALSE
      |         WHEN cutb IS NULL THEN TRUE
      |         ELSE mix_bucket < cutb END AS selected
      |  FROM j WHERE cutb IS NULL OR mix_bucket <> cutb),
      |bnd AS (
      |  SELECT doc_id, lang, n_tokens, mix_bucket,
      |    cut_before + coalesce(sum(n_tokens) OVER (
      |      PARTITION BY lang ORDER BY u, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) < budget
      |      AS selected
      |  FROM j WHERE mix_bucket = cutb)
      |SELECT * FROM nonb UNION ALL SELECT * FROM bnd""".stripMargin)

  // ---- training-data pipeline: TRAINED quality classifier ----------------
  // The fastText/CCNet quality-filter shape: a labeled seed (every 3rd doc;
  // positive = target class) trains multinomial-NB log-odds token weights
  // IN-ENGINE (closed-form counts, one shuffle), then the held-out corpus
  // is scored and thresholded. Integer-nano logs per the q126 discipline
  // make train + score exact integer arithmetic — the oracle replays the
  // whole thing, weights included. Mix at sf0.01: 90/333 keep.
  lane("q166_nb_quality") { (s, dir) =>
    import graft.ml.NbQuality
    val docs = t(s, dir, "documents")
    val seed = docs.where(col("doc_id") % 3 === 0)
      .select((col("lang") === "en").as("pos"),
        split(col("text"), " ").as("ws"))
    val w = NbQuality.trainLogOdds(seed, col("ws"), col("pos"))
    val pr = NbQuality.priorNano(seed, col("pos"))
    NbQuality.score(docs.where(col("doc_id") % 3 =!= 0), "doc_id",
        split(col("text"), " "), w)
      .crossJoin(broadcast(pr))
      .select(col("doc_id"), col("n_toks"),
        (col("score_raw_nano") + col("prior_nano")).as("score_nano"),
        ((col("score_raw_nano") + col("prior_nano")) > 0).as("keep"))
  }.oracle(
    // Trained-NB quality filter replay: the oracle re-trains the same
    // closed-form log-odds weights from the same seed and scores the same
    // held-out corpus — integer-nano logs on both sides (q126 discipline).
    """WITH seed AS (
      |  SELECT doc_id, (lang = 'en') AS pos, string_split(text, ' ') AS ws
      |  FROM documents WHERE doc_id % 3 = 0),
      |tok AS (SELECT pos, unnest(ws) AS token FROM seed),
      |cnt AS (SELECT token,
      |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS c_pos,
      |    CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS c_neg
      |  FROM tok GROUP BY 1),
      |tot AS (SELECT CAST(sum(c_pos) AS BIGINT) AS n_pos,
      |    CAST(sum(c_neg) AS BIGINT) AS n_neg,
      |    CAST(count(*) AS BIGINT) AS v FROM cnt),
      |w AS (SELECT token,
      |    CAST(round(ln((c_pos + 0.5) / (n_pos + 0.5 * v)) * 1e9) AS BIGINT)
      |  - CAST(round(ln((c_neg + 0.5) / (n_neg + 0.5 * v)) * 1e9) AS BIGINT)
      |    AS w_nano
      |  FROM cnt, tot),
      |pr AS (SELECT
      |    CAST(round(ln(CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS DOUBLE)
      |      / sum(CASE WHEN pos THEN 0 ELSE 1 END)) * 1e9) AS BIGINT)
      |    AS prior_nano
      |  FROM seed),
      |corp AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |  FROM documents WHERE doc_id % 3 <> 0),
      |sc AS (SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_toks,
      |    CAST(sum(coalesce(w.w_nano, 0)) AS BIGINT) AS s
      |  FROM corp c LEFT JOIN w USING (token) GROUP BY 1)
      |SELECT doc_id, n_toks, CAST(s + prior_nano AS BIGINT) AS score_nano,
      |  (s + prior_nano) > 0 AS keep
      |FROM sc, pr""".stripMargin)

  // ---- training-data pipeline: DSIR importance resampling ----------------
  // Data Selection via Importance Resampling (arXiv:2302.03169): hashed
  // unigram+bigram bucket models (m=1024, portable hash for the replay)
  // for target = src0-2 docs vs the raw
  // corpus, per-doc importance log-weights as exact integer nano sums,
  // then ES/Gumbel resampling (weightedSample, w = exp(logw)) of 25 docs
  // per language. The m-row ratio table broadcasts at ANY corpus size —
  // this is the unbounded-vocabulary sibling of q166.
  lane("q167_dsir_select") { (s, dir) =>
    import graft.ml.Dsir
    val m = 1024
    val docs = t(s, dir, "documents")
    // explode + hash the grams ONCE (the portable MD5 is the dominant
    // cost); the checkpointed bucket frame feeds both the count agg and
    // the scoring agg — identical counts to the two-pass form
    val buckets = docs
      .select(col("doc_id"),
        col("source").isin("src0", "src1", "src2").as("__t"),
        explode(Dsir.grams(col("text"))).as("g"))
      .select(col("doc_id"), col("__t"),
        Dsir.bucket(col("g"), m).as("bucket"))
      .localCheckpoint()
    val ratios = Dsir.ratiosFromBuckets(buckets, col("__t"), m)
    val lw = Dsir.weightsFromBuckets(buckets, "doc_id", ratios)
    val base = lw.join(docs.select("doc_id", "lang"), Seq("doc_id"))
      .withColumn("w", exp(col("logw_nano").cast("double") / 1e9))
    graft.operators.Sampling.weightedSample(base, "doc_id", "lang", "w",
        k = 25, salt = "dsir")
      .select(col("doc_id"), col("lang"), col("n_grams"), col("logw_nano"),
        col("sample_key"), col("sample_rank"))
  }.oracle(
    // DSIR replay: same portable bucket hash, same nano log-ratios over
    // the range(m) spine, same ES keys as the q139 twin.
    """WITH ws AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS wl
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, source, unnest(wl) AS gram FROM ws
      |  UNION ALL
      |  SELECT doc_id, source, unnest(list_transform(range(1, len(wl)),
      |    i -> wl[i] || ' ' || wl[i+1])) AS gram FROM ws),
      |b AS (SELECT doc_id, source,
      |    ('0x' || substr(md5('167_' || gram), 1, 15))::BIGINT % 1024
      |      AS bucket
      |  FROM g),
      |ct AS (SELECT bucket, CAST(count(*) AS BIGINT) AS c_t FROM b
      |  WHERE source IN ('src0', 'src1', 'src2') GROUP BY 1),
      |cq AS (SELECT bucket, CAST(count(*) AS BIGINT) AS c_q FROM b
      |  GROUP BY 1),
      |spine AS (SELECT unnest(range(0, 1024)) AS bucket),
      |j AS (SELECT spine.bucket, coalesce(c_t, 0) AS c_t,
      |    coalesce(c_q, 0) AS c_q
      |  FROM spine LEFT JOIN ct USING (bucket)
      |  LEFT JOIN cq USING (bucket)),
      |tot AS (SELECT CAST(sum(c_t) AS BIGINT) AS n_t,
      |    CAST(sum(c_q) AS BIGINT) AS n_q FROM j),
      |r AS (SELECT bucket,
      |    CAST(round(ln((c_t + 0.5) / (n_t + 0.5 * 1024)) * 1e9) AS BIGINT)
      |  - CAST(round(ln((c_q + 0.5) / (n_q + 0.5 * 1024)) * 1e9) AS BIGINT)
      |    AS ratio_nano
      |  FROM j, tot),
      |lw AS (SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
      |    CAST(sum(ratio_nano) AS BIGINT) AS logw_nano
      |  FROM b JOIN r USING (bucket) GROUP BY 1),
      |base AS (SELECT lw.doc_id, d.lang, n_grams, logw_nano,
      |    exp(CAST(logw_nano AS DOUBLE) / 1e9) AS w,
      |    ((('0x' || substr(md5('dsir_' || lw.doc_id::VARCHAR), 1, 15))
      |        ::BIGINT % 4503599627370496) + 0.5) / 4503599627370496.0 AS u
      |  FROM lw JOIN documents d ON d.doc_id = lw.doc_id),
      |k AS (SELECT doc_id, lang, n_grams, logw_nano,
      |    round(ln(u) / w, 8) AS sample_key FROM base)
      |SELECT doc_id, lang, n_grams, logw_nano, sample_key,
      |  CAST(rk AS INTEGER) AS sample_rank
      |FROM (SELECT *, row_number() OVER (PARTITION BY lang
      |    ORDER BY sample_key DESC, doc_id ASC) AS rk FROM k)
      |WHERE rk <= 25""".stripMargin)

  // ---- unigram-LM tokenizer training (SentencePiece family) ---------------
  // The other major subword tokenizer beside BPE (q143/q144): seed vocab =
  // all single chars + top-24 substrings by weighted occurrence, then two
  // hard-EM rounds — Viterbi-segment the word dictionary under the current
  // integer-nano scores, count pieces weighted by word frequency, re-score
  // as smoothed log-probabilities. The Viterbi DP is EXACT integer
  // arithmetic with an explicit tie rule, so the oracle's recursive-CTE
  // twin (`UnigramSql`) replays both EM rounds bit-for-bit.
  lane("q171_unigram_lm") { (s, dir) =>
    Unigram.train(Unigram.wordDict(t(s, dir, "documents"))).orderBy("piece")
  }.oracle((UnigramSql.trained +
    "\nSELECT piece, cnt, score_nano FROM vocab2 ORDER BY piece"))

  // Encode under the TRAINED unigram vocab (q171's round-2 scores) — the
  // q143→q144 train→encode symmetry for the SentencePiece family. One row
  // per dictionary word: its exact-integer Viterbi segmentation.
  lane("q172_unigram_encode") { (s, dir) =>
    val words = Unigram.wordDict(t(s, dir, "documents"))
    Unigram.encodeWords(words, Unigram.train(words).localCheckpoint())
      .select(col("word"), col("cnt"),
        size(col("pieces")).as("n_pieces"),
        concat_ws("+", col("pieces")).as("seg"),
        col("score_nano"))
      .orderBy("word")
  }.oracle((UnigramSql.encoded + """
      |SELECT word, cnt, CAST(len(p0) AS INT) AS n_pieces,
      |  array_to_string(p0, '+') AS seg, s0 AS score_nano
      |FROM dp3 WHERE i = n ORDER BY word""".stripMargin))

  // The full SentencePiece training LOOP: seed → EM → prune (drop the
  // least-used multi-char pieces, chars never pruned) → renormalize → EM
  // under the shrunk vocabulary. Completes q171's fixed-membership rounds
  // with the shrink schedule real SentencePiece runs.
  lane("q173_unigram_prune") { (s, dir) =>
    val words = Unigram.wordDict(t(s, dir, "documents"))
    val pruned = Unigram.rescoreCounts(
        Unigram.prune(Unigram.train(words).localCheckpoint(), keepMulti = 12))
      .localCheckpoint()
    Unigram.emRound(words, "word", "cnt", pruned, 4, Unigram.UnkNano)
      .orderBy("piece")
  }.oracle((Seq(UnigramSql.trained,
    """vocabp AS MATERIALIZED (
      |  SELECT piece, cnt,
      |    CAST(round(ln((cnt + 0.5) / (sum(cnt) OVER () + 0.5 * count(*) OVER ()))
      |      * 1e9) AS BIGINT) AS score_nano
      |  FROM (
      |    SELECT piece, cnt FROM vocab2 WHERE len(piece) = 1
      |    UNION ALL
      |    SELECT piece, cnt FROM (SELECT piece, cnt FROM vocab2
      |      WHERE len(piece) > 1 ORDER BY cnt DESC, piece ASC LIMIT 12)))""".stripMargin,
    UnigramSql.emRound(3, "vocabp")).mkString(",\n") +
    "\nSELECT piece, cnt, score_nano FROM vocab3 ORDER BY piece"))

  // Fractional epoch upsampling — the LLaMA-recipe data-mixing step:
  // per-language epoch targets (dyadic, so double arithmetic replays
  // exactly), each doc emitted floor(e) times plus a deterministic
  // portable-hash coin for the fractional epoch; copy_idx disambiguates
  // repeats. One broadcast + one generator, the corpus never shuffles.
  private val q179Epochs: Seq[(String, Double)] = Seq(
    "en" -> 2.5, "zh" -> 1.25, "es" -> 0.75, "de" -> 1.0, "fr" -> 3.0)

  lane("q179_epoch_upsample") { (s, dir) =>
    graft.operators.Sampling.epochUpsample(
        t(s, dir, "documents").select("doc_id", "lang"),
        "doc_id", "lang", q179Epochs.toMap)
      .select(col("doc_id"), col("lang"), col("target_epochs"),
        col("n_copies"), col("copy_idx"))
  }.oracle {
    val ev = q179Epochs
      .map { case (l, e) => s"('$l', CAST($e AS DOUBLE))" }
      .mkString(", ")
    s"""WITH e(lang, target_epochs) AS (VALUES $ev),
      |d AS (
      |  SELECT doc_id, e.lang, e.target_epochs,
      |    ('0x' || substr(md5('epoch_' || doc_id::VARCHAR), 1, 15))::BIGINT
      |      / 1152921504606846976.0 AS u
      |  FROM documents JOIN e USING (lang)),
      |c AS (
      |  SELECT doc_id, lang, target_epochs,
      |    CAST(floor(target_epochs) + (CASE WHEN
      |      u < target_epochs - floor(target_epochs)
      |      THEN 1 ELSE 0 END) AS INT) AS n_copies
      |  FROM d)
      |SELECT doc_id, lang, target_epochs, n_copies,
      |  CAST(g.ci AS INT) AS copy_idx
      |FROM c, unnest(generate_series(0, n_copies - 1)) AS g(ci)
      |WHERE n_copies > 0""".stripMargin
  }

  // Deterministic seeded training order — the data-loader contract:
  // (shard, seeded-hash, id) permutation with a two-level global_pos
  // (within-shard rank + broadcast shard offsets) so no global
  // single-partition sort ever runs; the oracle replays the naive
  // global ORDER BY the engine avoids.
  lane("q181_train_order") { (s, dir) =>
    graft.text.TextAnalysis.trainOrder(
        t(s, dir, "documents").select(col("doc_id"),
          pmod(col("doc_id"), lit(32)).cast("long").as("shard")),
        "shard", "doc_id", "ord")
      .select("doc_id", "shard", "order_key", "global_pos")
  }.oracle(
    """WITH d AS (
      |  SELECT doc_id, doc_id % 32 AS shard,
      |    ('0x' || substr(md5('ord_' || (doc_id % 32)::VARCHAR
      |      || '_' || doc_id::VARCHAR), 1, 15))::BIGINT AS order_key
      |  FROM documents)
      |SELECT doc_id, CAST(shard AS BIGINT) AS shard, order_key,
      |  CAST(row_number() OVER (ORDER BY shard, order_key, doc_id) - 1
      |    AS BIGINT) AS global_pos
      |FROM d""".stripMargin)

  // Doc-level tokenizer accounting — the corpus capstone's stage 7 as an
  // oracle-graded query: train the q171 unigram vocab (seed + 2 EM
  // rounds) on the word dictionary, Viterbi-encode each DICTIONARY word
  // once, then join the per-word piece counts back to the exploded docs
  // and sum per doc. The dictionary reduction means the corpus is touched
  // twice (word count + the accounting join) no matter its size; the
  // trained surface is vocabulary-bounded.
  /** Shared q175/q176 accounting frame: (doc_id, lang, n_tokens,
    * n_pieces) under the q171-trained unigram vocab. */
  private def unigramDocPieces(s: SparkSession, dir: String,
                               withScore: Boolean = false): DataFrame = {
    val docs = t(s, dir, "documents")
    val words = Unigram.wordDict(docs)
    val grouped = Unigram.piecesPerWord(docs, Seq("doc_id", "lang"), words,
        Unigram.train(words).localCheckpoint())
      .groupBy("doc_id", "lang")
    if (withScore)
      grouped.agg(count(lit(1)).as("n_tokens"),
        sum(col("__wp")).as("n_pieces"), sum(col("__ws")).as("score_nano"))
    else
      grouped.agg(count(lit(1)).as("n_tokens"),
        sum(col("__wp")).as("n_pieces"))
  }

  lane("q175_doc_pieces") { (s, dir) =>
    unigramDocPieces(s, dir).orderBy("doc_id")
  }.oracle(
    // q175: stage-7 accounting replay — the q172 recursive-CTE encode
    // oracle extended with the per-doc piece-count join (no new DP
    // instances; sums CAST to BIGINT so no HUGEINT reaches the hash).
    (UnigramSql.encoded + "," + """
      |wp AS MATERIALIZED (
      |  SELECT word, CAST(len(p0) AS BIGINT) AS np FROM dp3 WHERE i = n),
      |docw AS (
      |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word
      |  FROM documents)
      |SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_tokens,
      |  CAST(sum(np) AS BIGINT) AS n_pieces
      |FROM docw JOIN wp USING (word) WHERE len(word) >= 1
      |GROUP BY doc_id, lang ORDER BY doc_id""".stripMargin))

  // Per-doc language-model quality under the corpus-trained unigram —
  // the PERPLEXITY FILTER stage (CCNet's "keep docs whose LM perplexity
  // is low" discipline, a staple of LLaMA-class data pipelines): each
  // doc's Viterbi path log-prob total (exact integer nanos from the
  // trained scores), pieces count, NLL per piece = -score/n_pieces (one
  // double division of exact longs — both engines fold the identical
  // IEEE value), and the keep flag at a literal threshold. Costs ONE
  // extra sum over the q175 accounting join — the LM itself stays
  // dictionary-bounded (the q171 SentencePiece reduction), so the stage
  // is corpus-linear with a vocabulary-sized state no matter the scale.
  lane("q191_lm_quality") { (s, dir) =>
    unigramDocPieces(s, dir, withScore = true)
      .withColumn("nll_per_piece_nano",
        round(-col("score_nano").cast("double") / col("n_pieces"))
          .cast("long"))
      .withColumn("kept", col("nll_per_piece_nano") <= lit(3500000000L))
      .orderBy("doc_id")
  }.oracle((UnigramSql.encoded + "," + """
      |wp AS MATERIALIZED (
      |  SELECT word, CAST(len(p0) AS BIGINT) AS np, s0 AS ws
      |  FROM dp3 WHERE i = n),
      |docw AS (
      |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word
      |  FROM documents),
      |base AS (
      |  SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_tokens,
      |    CAST(sum(np) AS BIGINT) AS n_pieces,
      |    CAST(sum(ws) AS BIGINT) AS score_nano
      |  FROM docw JOIN wp USING (word) WHERE len(word) >= 1
      |  GROUP BY doc_id, lang)
      |SELECT doc_id, lang, n_tokens, n_pieces, score_nano,
      |  CAST(round(-(CAST(score_nano AS DOUBLE)) / n_pieces) AS BIGINT)
      |    AS nll_per_piece_nano,
      |  CAST(round(-(CAST(score_nano AS DOUBLE)) / n_pieces) AS BIGINT)
      |    <= 3500000000 AS kept
      |FROM base ORDER BY doc_id""".stripMargin))

  // ---- training-data pipeline: T5/UL2 span corruption ---------------------
  // Denoising-objective data construction (Raffel et al. JMLR'20
  // §3.1.4): fixed-length token blocks, deterministic portable-hash
  // coin at 15%, masked blocks collapse to <extra_id_K> sentinels in
  // the input and expand to sentinel + tokens in the target with the
  // terminal sentinel appended — T5's exact sentinel numbering. Pure
  // integer/string arithmetic on the shared 60-bit MD5-prefix hash, so
  // the oracle replays masks, sentinel ranks, and both assembled
  // strings verbatim. One exchange on doc_id (window + reassembly).
  lane("q194_span_corrupt") { (s, dir) =>
    graft.text.SpanCorruption.spanCorrupt(
      t(s, dir, "documents"), "doc_id", "text")
  }.oracle(
    // q194: T5 span corruption — masks, sentinel ranks and both
    // assembled strings replayed from the shared 60-bit MD5-prefix
    // coin; string_agg(... ORDER BY pos) is the oracle's reassembly.
    spanCorruptSql("documents", 3, 3, 20))

  // ---- training-data pipeline: fill-in-the-middle --------------------------
  // The FIM transform (arXiv:2207.14255): a 75% hash coin selects docs,
  // two hash-drawn token points split a selected doc, and it
  // re-serializes as <PRE> prefix <SUF> suffix <MID> middle (PSM);
  // unselected docs pass through verbatim — the paper's joint-training
  // recipe. Pure per-row list-slice arithmetic (zero shuffle); every
  // draw replays in the oracle from the shared MD5-prefix hash.
  lane("q197_fim_transform") { (s, dir) =>
    graft.text.SpanCorruption.fimTransform(
      t(s, dir, "documents"), "doc_id", "text")
  }.oracle(
    // q197: FIM — the 75% coin, the two modular split draws and the PSM
    // re-serialization all replay from the shared MD5-prefix hash;
    // empty segments concatenate as empty strings on both engines.
    """WITH base AS (
      |  SELECT doc_id,
      |    list_filter(string_split(text, ' '), t -> t <> '') AS w,
      |    ('0x' || substr(md5('fimr_' || doc_id::VARCHAR), 1, 15))::BIGINT
      |      % 4 AS cr,
      |    ('0x' || substr(md5('fima_' || doc_id::VARCHAR), 1, 15))::BIGINT
      |      AS ha,
      |    ('0x' || substr(md5('fimb_' || doc_id::VARCHAR), 1, 15))::BIGINT
      |      AS hb
      |  FROM documents),
      |pts AS (
      |  SELECT doc_id, w, len(w) AS n,
      |    len(w) >= 1 AND cr < 3 AS applied,
      |    CAST(ha % (len(w) + 1) AS INT) AS i
      |  FROM base),
      |pts2 AS (
      |  SELECT *, CAST(i + hb % (n - i + 1) AS INT) AS j
      |  FROM (SELECT p.*, b.hb FROM pts p JOIN base b USING (doc_id)))
      |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens, applied AS fim_applied,
      |  CASE WHEN applied THEN CAST(i AS BIGINT) END AS split_i,
      |  CASE WHEN applied THEN CAST(j AS BIGINT) END AS split_j,
      |  CASE WHEN applied THEN
      |    '<PRE> ' || coalesce(array_to_string(w[1 : i], ' '), '') ||
      |    ' <SUF> ' || coalesce(array_to_string(w[j + 1 : n], ' '), '') ||
      |    ' <MID> ' || coalesce(array_to_string(w[i + 1 : j], ' '), '')
      |  ELSE array_to_string(w, ' ') END AS fim_text
      |FROM pts2""".stripMargin)

  /** q200's eval query set — the SINGLE descriptor both the Spark lane and
    * the generated oracle SQL are built from (the q188 rule-descriptor
    * discipline: drift between engine and oracle impossible by
    * construction). Term mix: qa = q138's graded 3-term query, qb = a
    * 4-term conjunction (sparser relevance), qc includes the one rare
    * fixture token (`dup`) so recall@10 is exercised away from 1.0. */
  private[graft] val q200Queries: Seq[(String, Seq[String])] = Seq(
    "qa" -> Seq("spark", "window", "merge"),
    "qb" -> Seq("hash", "join", "stream", "batch"),
    "qc" -> Seq("dup", "vector"))

  // ---- training-data pipeline: retrieval-quality eval ---------------------
  // MRR / precision@10 / recall@10 of BM25 runs against boolean-AND
  // relevance (doc relevant iff it contains every query term) — the eval
  // half of a retrieval pipeline. Metrics are exact integer nanos (one
  // integer division each; nothing float past the BM25 ranking), so the
  // whole row set replays bit-for-bit in the oracle.
  /** q200's graded run, which its retrieval gate ([[Gates]]) also reads. */
  private[graft] def retrievalRun(docs: DataFrame): DataFrame =
    TextAnalysis.retrievalEval(docs, "doc_id", "text", q200Queries,
      k = 50, cutoff = 10)

  lane("q200_retrieval_eval") { (s, dir) =>
    retrievalRun(t(s, dir, "documents"))
  }.oracle(q200OracleSql)

  // ---- training-data pipeline: bigram LM quality (stupid backoff) --------
  // The n > 1 member of the LM-filter family next to q191's unigram
  // (CCNet trains KenLM n-grams for exactly this): train bigram + unigram
  // MLE tables on the EVEN doc_ids, score EVERY doc under stupid backoff
  // (Brants et al. 2007) — the train/apply split is what makes the backoff
  // path reachable. Scores are per-TYPE integer nanos, doc score an exact
  // integer sum; the oracle replays the stream, both tables, the backoff
  // coalesce and the sums.
  lane("q201_bigram_lm") { (s, dir) =>
    graft.text.BigramLm.scoreDocs(t(s, dir, "documents"), "doc_id", "text",
      trainPred = col("doc_id") % 2 === 0)
  }.oracle(
    // q201: bigram stupid-backoff LM — train tables on even doc_ids, score
    // all docs; per-type ln nanos, exact integer doc sums (q175 discipline).
    // Both engines compute ln(0.4) themselves; -23025850930 is the shared
    // ln(1e-10) unk floor.
    """WITH ws AS (
      |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
      |  FROM documents),
      |toks AS (
      |  SELECT doc_id, g.wi - 1 AS pos, w[wi] AS tok
      |  FROM ws, unnest(generate_series(1, len(w))) AS g(wi)
      |  WHERE w[wi] <> ''),
      |bg AS (
      |  SELECT doc_id, pos,
      |    coalesce(lag(tok) OVER (PARTITION BY doc_id ORDER BY pos),
      |      '<s>') AS prev,
      |    tok AS cur
      |  FROM toks),
      |tr AS (SELECT * FROM bg WHERE doc_id % 2 = 0),
      |bcnt AS (SELECT prev, cur, CAST(count(*) AS BIGINT) AS cnt
      |  FROM tr GROUP BY 1, 2),
      |ctx AS (SELECT prev, CAST(sum(cnt) AS BIGINT) AS ctx
      |  FROM bcnt GROUP BY 1),
      |bscore AS (
      |  SELECT prev, cur,
      |    CAST(round(ln(CAST(cnt AS DOUBLE) / CAST(ctx AS DOUBLE)) * 1e9)
      |      AS BIGINT) AS score_nano
      |  FROM bcnt JOIN ctx USING (prev)),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tr),
      |uscore AS (
      |  SELECT cur,
      |    CAST(round(ln(CAST(count(*) AS DOUBLE) / CAST(n AS DOUBLE))
      |      * 1e9) AS BIGINT) AS uni_nano
      |  FROM tr CROSS JOIN tot GROUP BY cur, n),
      |sc AS (
      |  SELECT bg.doc_id,
      |    coalesce(b.score_nano, CAST(round(ln(0.4) * 1e9) AS BIGINT)
      |      + coalesce(u.uni_nano, CAST(-23025850930 AS BIGINT))) AS s,
      |    CASE WHEN b.score_nano IS NULL THEN 1 ELSE 0 END AS bo
      |  FROM bg
      |  LEFT JOIN bscore b ON b.prev = bg.prev AND b.cur = bg.cur
      |  LEFT JOIN uscore u ON u.cur = bg.cur)
      |SELECT d.doc_id,
      |  CAST(coalesce(count(s.s), 0) AS BIGINT) AS n_bigrams,
      |  CAST(coalesce(sum(s.bo), 0) AS BIGINT) AS n_backoff,
      |  CAST(coalesce(sum(s.s), 0) AS BIGINT) AS score_nano
      |FROM documents d LEFT JOIN sc s ON s.doc_id = d.doc_id
      |GROUP BY d.doc_id""".stripMargin)

  // ---- training-data pipeline: batched multi-query BM25 -------------------
  // The scale form q200's Scaladoc promises: ONE corpus pass serves every
  // query — terms union-filtered before any shuffle, (term -> query) rides
  // a broadcast, per-query top-k is a rank-capped window. Same q200Queries
  // descriptor generates the oracle, and scoring is bit-identical per
  // query to q138's single-query operator (spec-pinned).
  lane("q203_bm25_batch") { (s, dir) =>
    TextAnalysis.bm25TopKBatch(t(s, dir, "documents"), "doc_id", "text",
      q200Queries, k = 50)
  }.oracle(q203OracleSql)

  // ---- training-data pipeline: hybrid retrieval (RRF fusion) --------------
  // Reciprocal-rank fusion of the two retrieval families the engine
  // already runs — lexical BM25 (q138's operator at q200's qa terms) and
  // embedding cosine top-k (q42's operator for query vector 0) — the
  // standard hybrid-search combiner. Each run contributes
  // 1e9 // (60 + rank) integer nanos; the fused score is an exact integer
  // sum, so the whole lane replays over the two runs' existing replays.
  lane("q204_rrf_fusion") { (s, dir) =>
    val lexical = TextAnalysis.bm25TopK(t(s, dir, "documents"), "doc_id",
        "text", q200Queries.head._2, k = 50)
      .select(col("doc_id").as("id"), col("rank"))
    val emb = t(s, dir, "embeddings")
    val semantic = Similarity.cosineTopK(emb.where(col("vec_id") === 0),
        emb, "vec_id", "embedding", k = 50)
      .select(col("c_id").as("id"), col("rk").cast("long").as("rank"))
    TextAnalysis.rrfFuse(Seq(lexical, semantic), "id", k = 20)
  }.oracle(q204OracleSql)

  // ---- training-data pipeline: pseudo-relevance feedback ------------------
  // Rocchio-family query expansion (the PRF half of RM3): seed BM25 run
  // (q200's qa terms), harvest the 3 most frequent terms of the top-10
  // feedback docs (exact integer tf, term tiebreak, seed excluded), re-run
  // BM25 on the expanded set. The classic lexical recall lever; the oracle
  // replays BOTH runs and the expansion selection.
  lane("q207_bm25_prf") { (s, dir) =>
    TextAnalysis.bm25Prf(t(s, dir, "documents"), "doc_id", "text",
      q200Queries.head._2, fbDocs = 10, expandM = 3, k = 20)
  }.oracle(q207OracleSql)

  // ---- training-data pipeline: UL2 mixture-of-denoisers -------------------
  // The UL2 objective's data side (Tay et al. 2022): each doc hash-draws
  // ONE denoiser — R (15%/span 3, weight 2/4), S (PrefixLM split, 1/4),
  // X (extreme 50%/span 8, 1/4) — and the input gains the paradigm
  // token. Docs filter to their lane BEFORE construction, so the corpus
  // is processed once; the oracle replays all three constructions (the
  // shared spanCorruptSql at each lane's parameters + the list-slice
  // prefix split) over the same hash assignment.
  lane("q195_ul2_mixture") { (s, dir) =>
    graft.text.SpanCorruption.ul2Mixture(
      t(s, dir, "documents"), "doc_id", "text")
  }.oracle {
    // q195: UL2 mixture — the hash assignment plus all three lane
    // constructions (the SAME parameterized spanCorruptSql at R/X
    // parameters, nested WITHs keep their CTE names apart, and the
    // list-slice prefix split for S), paradigm tokens prefixed.
    def lane(cond: String) =
      s"(SELECT doc_id, text FROM den WHERE d $cond)"
    // the lane SQL is spliced in AFTER stripMargin: its own lines
    // contain leading `||` concat operators that a second stripMargin
    // pass would truncate to `|`
    """WITH den AS (
      |  SELECT doc_id, text,
      |    ('0x' || substr(md5('ul2_' || doc_id::VARCHAR), 1, 15))::BIGINT
      |      % 4 AS d
      |  FROM documents),
      |r AS (
      |@R_LANE@
      |),
      |x AS (
      |@X_LANE@
      |),
      |s AS (
      |  SELECT doc_id,
      |    CAST(len(w) AS BIGINT) AS n_tokens, CAST(1 AS BIGINT) AS n_spans,
      |    array_to_string(w[1 : CAST(sp AS INT)], ' ') AS input_text,
      |    array_to_string(w[CAST(sp + 1 AS INT) : len(w)], ' ')
      |      AS target_text
      |  FROM (
      |    SELECT doc_id, w,
      |      greatest(1, least(len(w) - 1,
      |        (len(w) * (('0x' || substr(md5('plm_' || doc_id::VARCHAR),
      |           1, 15))::BIGINT % 50 + 25)) // 100)) AS sp
      |    FROM (SELECT doc_id,
      |            list_filter(string_split(text, ' '), t -> t <> '') AS w
      |          FROM den WHERE d = 2)))
      |SELECT doc_id, 'R' AS denoiser, n_tokens, n_spans,
      |  '[R] ' || input_text AS input_text, target_text FROM r
      |UNION ALL
      |SELECT doc_id, 'S', n_tokens, n_spans,
      |  '[S] ' || input_text, target_text FROM s
      |UNION ALL
      |SELECT doc_id, 'X', n_tokens, n_spans,
      |  '[X] ' || input_text, target_text FROM x""".stripMargin
      .replace("@R_LANE@", spanCorruptSql(lane("<= 1"), 3, 3, 20))
      .replace("@X_LANE@", spanCorruptSql(lane("= 3"), 8, 10, 20))
  }

  // Context-window packing by TRAINED-TOKENIZER budget — the production
  // packer: windows are budgeted in model tokens (q175's n_pieces under
  // the corpus-trained unigram vocab), not whitespace words (q134's
  // form). Same declarative shape: one shuffle on the shard key, running
  // offsets and chunk arithmetic as window expressions.
  lane("q176_pack_by_pieces") { (s, dir) =>
    graft.text.TextAnalysis.packSequencesBy(
        unigramDocPieces(s, dir).select(col("doc_id"), col("n_pieces")),
        "doc_id", col("n_pieces"), budget = 512, nShards = 8)
      .select(col("doc_id"), col("n_tokens").as("n_pieces"), col("shard"),
        col("chunk_id"), col("chunk_pos"), col("n_chunks"))
      .orderBy("doc_id")
  }.oracle(
    // q176: the q175 accounting packed into 512-PIECE context windows
    // (window-sum replay; every sum/offset CAST to BIGINT so no
    // HUGEINT reaches the hash).
    (UnigramSql.encoded + "," + """
      |wp AS MATERIALIZED (
      |  SELECT word, CAST(len(p0) AS BIGINT) AS np FROM dp3 WHERE i = n),
      |docw AS (
      |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word
      |  FROM documents),
      |acct AS MATERIALIZED (
      |  SELECT doc_id, CAST(sum(np) AS BIGINT) AS n_pieces
      |  FROM docw JOIN wp USING (word) WHERE len(word) >= 1
      |  GROUP BY doc_id),
      |off AS (
      |  SELECT doc_id, n_pieces, CAST(doc_id % 8 AS BIGINT) AS shard,
      |    CAST(sum(n_pieces) OVER (PARTITION BY doc_id % 8 ORDER BY doc_id
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS end_off
      |  FROM acct)
      |SELECT doc_id, n_pieces, shard,
      |  CAST(floor((end_off - n_pieces) / 512.0) AS BIGINT) AS chunk_id,
      |  CAST((end_off - n_pieces) % 512 AS BIGINT) AS chunk_pos,
      |  CASE WHEN n_pieces = 0 THEN CAST(0 AS BIGINT)
      |    ELSE CAST(floor((end_off - 1) / 512.0)
      |      - floor((end_off - n_pieces) / 512.0) + 1 AS BIGINT) END AS n_chunks
      |FROM off ORDER BY doc_id""".stripMargin))

  /** q203 oracle, GENERATED from [[q200Queries]] (the same descriptor the
    * Spark lane and q200 use): one toks/stats/df pass over the term union,
    * the (term, query) VALUES table joined in, per-(query, doc) scores and
    * the rank-capped window — the batched twin of the q138 replay. */
  /** SQL-literal form of a query term: lowercased (the engine lowercases
    * before matching) and quote-escaped — shared by every generator that
    * interpolates [[q200Queries]] terms, so a future mixed-case or
    * apostrophe-carrying term can neither diverge from the engine nor
    * break the generated SQL. */
  private def sqlTerm(t: String): String = t.toLowerCase.replace("'", "''")

  private def q203OracleSql: String = {
    val valuesList = q200Queries.flatMap { case (qid, terms) =>
      terms.distinct.map(t => s"('$qid', '${sqlTerm(t)}')")
    }.mkString(", ")
    s"""WITH qt(query_id, tok) AS (VALUES @VALUES@),
      |$bm25Toks,
      |f AS (
      |  SELECT doc_id, tok, max(dl) AS dl,
      |    CAST(count(*) AS BIGINT) AS tf
      |  FROM toks WHERE tok IN (SELECT tok FROM qt)
      |  GROUP BY doc_id, tok),
      |$bm25Stats,
      |d AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM f GROUP BY tok),
      |s AS (
      |  SELECT qt.query_id, f.doc_id,
      |    $bm25Score
      |  FROM f JOIN d USING (tok) JOIN qt USING (tok) CROSS JOIN stats
      |  GROUP BY 1, 2)
      |SELECT query_id, doc_id, score, n_terms_hit, rank
      |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
      |  ORDER BY score DESC, doc_id ASC) AS rank FROM s)
      |WHERE rank <= 50""".stripMargin
      .replace("@VALUES@", valuesList)
  }

  /** q207 oracle, GENERATED from [[q200Queries]]'s qa terms: the feedback
    * BM25 run (k = 10), the exact-integer expansion pick (Σtf DESC, term
    * ASC, seed excluded, top 3), and the final BM25 run over the UNION
    * term set — both runs the q138 replay, the second one filtered by the
    * computed `terms` CTE instead of a literal list. */
  private def q207OracleSql: String = {
    val seed = q200Queries.head._2.distinct.map(_.toLowerCase)
    val termList = seed.map(t => s"'${sqlTerm(t)}'").mkString(", ")
    s"""WITH toks AS (
      |  SELECT doc_id,
      |    CASE WHEN len(trim(text)) = 0 THEN 0
      |         ELSE len(string_split_regex(trim(text), '\\s+')) END AS dl,
      |    unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
      |  FROM documents),
      |stats AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN len(trim(text)) = 0 THEN 0
      |      ELSE len(string_split_regex(trim(text), '\\s+')) END) AS BIGINT)
      |      AS sumdl
      |  FROM documents),
      |f0 AS (
      |  SELECT doc_id, tok, max(dl) AS dl, CAST(count(*) AS BIGINT) AS tf
      |  FROM toks WHERE tok IN ($termList) GROUP BY doc_id, tok),
      |d0 AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM f0 GROUP BY tok),
      |fb AS (
      |  SELECT doc_id FROM (
      |    SELECT doc_id,
      |      row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
      |    FROM (
      |      SELECT f.doc_id,
      |        round(sum(ln(1 + (n - df + 0.5) / (df + 0.5))
      |          * (tf * (1.2 + 1))
      |          / (tf + 1.2 * (1 - 0.75
      |              + 0.75 * dl / (CAST(sumdl AS DOUBLE) / n)))), 4) AS score
      |      FROM f0 f JOIN d0 USING (tok) CROSS JOIN stats
      |      GROUP BY f.doc_id))
      |  WHERE rank <= 10),
      |expn AS (
      |  SELECT tok FROM (
      |    SELECT t.tok, CAST(count(*) AS BIGINT) AS xtf
      |    FROM toks t JOIN fb ON fb.doc_id = t.doc_id
      |    WHERE t.tok <> '' AND t.tok NOT IN ($termList)
      |    GROUP BY t.tok ORDER BY xtf DESC, t.tok ASC LIMIT 3)),
      |terms AS (
      |  SELECT unnest([$termList]) AS tok UNION SELECT tok FROM expn),
      |f1 AS (
      |  SELECT doc_id, tok, max(dl) AS dl, CAST(count(*) AS BIGINT) AS tf
      |  FROM toks WHERE tok IN (SELECT tok FROM terms)
      |  GROUP BY doc_id, tok),
      |d1 AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM f1 GROUP BY tok),
      |s1 AS (
      |  SELECT f.doc_id,
      |    $bm25Score
      |  FROM f1 f JOIN d1 USING (tok) CROSS JOIN stats
      |  GROUP BY f.doc_id)
      |SELECT doc_id, score, n_terms_hit,
      |  row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
      |FROM s1 ORDER BY score DESC, doc_id ASC LIMIT 20""".stripMargin
  }

  /** q204 oracle: the q138 BM25 replay at [[q200Queries]]'s qa terms
    * (shared descriptor) + the q42 exact-cosine replay for query vector 0,
    * fused with the exact integer RRF arithmetic — nothing here is new to
    * the oracle beyond two integer divisions and a sum. */
  private def q204OracleSql: String = {
    val termList = q200Queries.head._2.distinct
      .map(t => s"'${sqlTerm(t)}'").mkString(", ")
    s"""WITH $bm25Toks,
      |f AS (
      |  SELECT doc_id, tok, max(dl) AS dl, CAST(count(*) AS BIGINT) AS tf
      |  FROM toks WHERE tok IN (@TERMS@) GROUP BY doc_id, tok),
      |$bm25Stats,
      |d AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM f GROUP BY tok),
      |run_lex AS (
      |  SELECT doc_id AS id,
      |    row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
      |  FROM (
      |    SELECT fx.doc_id,
      |      round(sum(ln(1 + (n - df + 0.5) / (df + 0.5))
      |        * (tf * (1.2 + 1))
      |        / (tf + 1.2 * (1 - 0.75
      |            + 0.75 * dl / (CAST(sumdl AS DOUBLE) / n)))), 4) AS score
      |    FROM f fx JOIN d USING (tok) CROSS JOIN stats
      |    GROUP BY fx.doc_id)
      |  QUALIFY rank <= 50),
      |qv AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
      |  WHERE vec_id = 0),
      |run_sem AS (
      |  SELECT c_id AS id,
      |    row_number() OVER (ORDER BY cosine DESC, c_id ASC) AS rank
      |  FROM (
      |    SELECT c.vec_id AS c_id,
      |      round(
      |        list_sum(list_transform(list_zip(q.q_emb, c.embedding),
      |          x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
      |        / (sqrt(list_sum(list_transform(q.q_emb,
      |              e -> CAST(e AS DOUBLE) * CAST(e AS DOUBLE))))
      |           * sqrt(list_sum(list_transform(c.embedding,
      |              e -> CAST(e AS DOUBLE) * CAST(e AS DOUBLE))))), 4)
      |        AS cosine
      |    FROM qv q, embeddings c WHERE c.vec_id <> q.q_id)
      |  QUALIFY rank <= 50),
      |u AS (
      |  SELECT id,
      |    CAST(1000000000 AS BIGINT) // (CAST(60 AS BIGINT) + rank) AS rrf
      |  FROM run_lex
      |  UNION ALL
      |  SELECT id,
      |    CAST(1000000000 AS BIGINT) // (CAST(60 AS BIGINT) + rank) AS rrf
      |  FROM run_sem),
      |fz AS (
      |  SELECT id, CAST(sum(rrf) AS BIGINT) AS rrf_nano,
      |    CAST(count(*) AS BIGINT) AS n_runs_hit
      |  FROM u GROUP BY id)
      |SELECT id, rrf_nano, n_runs_hit, rank FROM (
      |  SELECT *, row_number() OVER (ORDER BY rrf_nano DESC, id ASC) AS rank
      |  FROM fz) WHERE rank <= 20""".stripMargin
      .replace("@TERMS@", termList)
  }

  /** q200 oracle, GENERATED from [[q200Queries]]: per query, the q138 BM25
    * replay at that query's terms (shared toks/stats CTEs — the corpus is
    * tokenized once), boolean-AND relevance, then the integer-nano metric
    * row. Built with @BLOCKS@ substitution per the q195 placeholder
    * discipline (never stripMargin over interpolated SQL). */
  private def q200OracleSql: String = {
    val blocks = q200Queries.map { case (qid, terms) =>
      val termList = terms.map(t => s"'${sqlTerm(t)}'").mkString(", ")
      val relPred = terms.map(t =>
        s"list_contains(string_split_regex(trim(lower(text)), '\\s+')," +
          s" '${sqlTerm(t)}')")
        .mkString("\n    AND ")
      s"""f_$qid AS (
SELECT doc_id, tok, max(dl) AS dl, CAST(count(*) AS BIGINT) AS tf
FROM toks WHERE tok IN ($termList) GROUP BY doc_id, tok),
d_$qid AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM f_$qid GROUP BY tok),
run_$qid AS (
  SELECT doc_id, rank FROM (
    SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
    FROM (
      SELECT f.doc_id,
        round(sum(ln(1 + (n - df + 0.5) / (df + 0.5))
          * (tf * (1.2 + 1))
          / (tf + 1.2 * (1 - 0.75
              + 0.75 * dl / (CAST(sumdl AS DOUBLE) / n)))), 4) AS score
      FROM f_$qid f JOIN d_$qid d USING (tok) CROSS JOIN stats
      GROUP BY f.doc_id))
  WHERE rank <= 50),
rel_$qid AS (SELECT doc_id FROM documents
  WHERE $relPred),
met_$qid AS (
  SELECT '$qid' AS query_id,
    (SELECT CAST(count(*) AS BIGINT) FROM rel_$qid) AS n_rel,
    CAST(sum(CASE WHEN rel.doc_id IS NOT NULL AND run.rank <= 10
      THEN 1 ELSE 0 END) AS BIGINT) AS hits,
    min(CASE WHEN rel.doc_id IS NOT NULL THEN run.rank END) AS first_rel_rank
  FROM run_$qid run LEFT JOIN rel_$qid rel ON run.doc_id = rel.doc_id)"""
    }
    val unions = q200Queries.map { case (qid, _) =>
      s"SELECT * FROM met_$qid" }.mkString("\n  UNION ALL ")
    s"""WITH $bm25Toks,
      |$bm25Stats,
      |@BLOCKS@
      |SELECT query_id, n_rel,
      |  coalesce(hits, CAST(0 AS BIGINT)) AS hits, first_rel_rank,
      |  coalesce(CAST(1000000000 AS BIGINT) // first_rel_rank,
      |    CAST(0 AS BIGINT)) AS rr_nano,
      |  coalesce(hits, CAST(0 AS BIGINT))
      |    * CAST(1000000000 AS BIGINT) // 10 AS p_nano,
      |  CASE WHEN n_rel > 0 THEN coalesce(hits, CAST(0 AS BIGINT))
      |      * CAST(1000000000 AS BIGINT) // n_rel
      |       ELSE CAST(0 AS BIGINT) END AS r_nano
      |FROM (@UNIONS@)
      |ORDER BY query_id""".stripMargin
      .replace("@BLOCKS@", blocks.mkString(",\n"))
      .replace("@UNIONS@", unions)
  }

  /** DuckDB twin of the unigram-LM recipe (`Unigram.wordDict` → `train`
    * → `encodeWords`), one CTE block per step; the q171-q173, q175, q176
    * and q191 oracles are assembled from it.
    *
    * The DPs are RECURSIVE CTEs (forward Viterbi, state carried in plain
    * BIGINT/VARCHAR[] columns) rather than unrolled list_reduce folds:
    * DuckDB 1.0.0's list_reduce lambda nondeterministically corrupts
    * STRUCT accumulators once the query chains ~3 DP instances (once
    * q173's seg3 returned another row's pieces, a different row per run;
    * the gate caught the same flake in q172's third DP). The
    * recursive form has no lambda accumulator at all, so the whole
    * corruption family is out of reach; tie-breaks (longest piece wins on
    * equal score) and the unreachable-cell sentinel match
    * `plans.UnigramViterbi` exactly. */
  private object UnigramSql {
    /** `WITH RECURSIVE` word dictionary `wdict`, substring table `sub` and
      * seed vocabulary `vocab0`: every character plus the top 24
      * multi-character substrings. */
    val seed: String =
      """WITH RECURSIVE wdict AS MATERIALIZED (
        |  SELECT word, CAST(count(*) AS BIGINT) AS cnt, len(word) AS n
        |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |  WHERE len(word) >= 1 GROUP BY word),
        |sub AS MATERIALIZED (
        |  SELECT word, j, l,
        |    CASE WHEN j + l - 1 <= len(word) THEN substr(word, j, l) END AS piece
        |  FROM wdict, unnest(generate_series(1, n)) AS gj(j),
        |    unnest(generate_series(1, 4)) AS gl(l)),
        |occ AS (SELECT piece, CAST(sum(cnt) AS BIGINT) AS cnt
        |  FROM sub JOIN wdict USING (word) WHERE piece IS NOT NULL GROUP BY 1),
        |picked AS (
        |  SELECT piece, cnt FROM occ WHERE len(piece) = 1
        |  UNION ALL
        |  SELECT piece, cnt FROM (SELECT piece, cnt FROM occ WHERE len(piece) > 1
        |    ORDER BY cnt DESC, piece ASC LIMIT 24)),
        |vocab0 AS MATERIALIZED (SELECT piece, cnt,
        |    CAST(round(ln((cnt + 0.5) / (sum(cnt) OVER () + 0.5 * count(*) OVER ()))
        |      * 1e9) AS BIGINT) AS score_nano
        |  FROM picked)""".stripMargin

    /** Every dictionary word's score array `arr<r>` under `vocab`, then
      * its Viterbi DP `dp<r>`; the terminal rows (`i = n`) carry the best
      * path `p0` and its total score `s0`. */
    def encode(r: Int, vocab: String): String =
      s"""arr$r AS MATERIALIZED (SELECT w.word, w.cnt, w.n,
        |    list(CASE WHEN sub.l = 1 AND sub.piece IS NOT NULL
        |        THEN coalesce(v.score_nano, CAST(${Unigram.UnkNano} AS BIGINT))
        |        ELSE CASE WHEN sub.piece IS NOT NULL THEN v.score_nano END END
        |      ORDER BY sub.j, sub.l) AS arr
        |  FROM wdict w JOIN sub ON sub.word = w.word
        |  LEFT JOIN $vocab v ON v.piece = sub.piece
        |  GROUP BY w.word, w.cnt, w.n),
        |dp$r AS (
        |  SELECT word, cnt, n, arr, 0 AS i,
        |    CAST(0 AS BIGINT) AS s0, CAST(NULL AS BIGINT) AS s1,
        |    CAST(NULL AS BIGINT) AS s2, CAST(NULL AS BIGINT) AS s3,
        |    CAST([] AS VARCHAR[]) AS p0, CAST(NULL AS VARCHAR[]) AS p1,
        |    CAST(NULL AS VARCHAR[]) AS p2, CAST(NULL AS VARCHAR[]) AS p3
        |  FROM arr$r
        |  UNION ALL
        |  SELECT word, cnt, n, arr, i + 1,
        |    greatest(c1, c2, c3, c4), s0, s1, s2,
        |    CASE WHEN c4 = greatest(c1, c2, c3, c4)
        |           THEN list_append(p3, substr(word, i - 2, 4))
        |         WHEN c3 = greatest(c1, c2, c3, c4)
        |           THEN list_append(p2, substr(word, i - 1, 3))
        |         WHEN c2 = greatest(c1, c2, c3, c4)
        |           THEN list_append(p1, substr(word, i, 2))
        |         ELSE list_append(p0, substr(word, i + 1, 1)) END,
        |    p0, p1, p2
        |  FROM (SELECT *,
        |      coalesce(s0 + arr[i * 4 + 1],
        |        CAST(${Unigram.NegInf} AS BIGINT)) AS c1,
        |      coalesce(CASE WHEN i >= 1 THEN s1 + arr[(i - 1) * 4 + 2] END,
        |        CAST(${Unigram.NegInf} AS BIGINT)) AS c2,
        |      coalesce(CASE WHEN i >= 2 THEN s2 + arr[(i - 2) * 4 + 3] END,
        |        CAST(${Unigram.NegInf} AS BIGINT)) AS c3,
        |      coalesce(CASE WHEN i >= 3 THEN s3 + arr[(i - 3) * 4 + 4] END,
        |        CAST(${Unigram.NegInf} AS BIGINT)) AS c4
        |    FROM dp$r WHERE i < n))""".stripMargin

    /** EM round `r` under `vocab`: encode, count each chosen piece by word
      * frequency (`cnt<r>`), re-score as `vocab<r>`. */
    def emRound(r: Int, vocab: String): String =
      encode(r, vocab) + s""",
        |seg$r AS MATERIALIZED (
        |  SELECT word, cnt, p0 AS pieces FROM dp$r WHERE i = n),
        |cnt$r AS MATERIALIZED (SELECT vp.piece,
        |    coalesce(u.cnt, 0) AS cnt
        |  FROM (SELECT piece FROM $vocab) vp
        |  LEFT JOIN (SELECT p.piece, CAST(sum(s.cnt) AS BIGINT) AS cnt
        |    FROM seg$r s, unnest(s.pieces) AS p(piece) GROUP BY 1) u
        |    ON u.piece = vp.piece),
        |vocab$r AS MATERIALIZED (SELECT piece, cnt,
        |    CAST(round(ln((cnt + 0.5) / (sum(cnt) OVER () + 0.5 * count(*) OVER ()))
        |      * 1e9) AS BIGINT) AS score_nano
        |  FROM cnt$r)""".stripMargin

    /** The seed plus two EM rounds, ending at `vocab2` (`Unigram.train`). */
    val trained: String =
      Seq(seed, emRound(1, "vocab0"), emRound(2, "vocab1")).mkString(",\n")

    /** `trained`, then every dictionary word encoded under it (`dp3`). */
    val encoded: String = trained + ",\n" + encode(3, "vocab2")
  }

  /** T5 span-corruption oracle, parameterized by source relation and
    * (spanLen, rateNum, rateDen) — q194 replays the default lane over
    * `documents`; q195's R and X lanes replay the same text over their
    * hash-filtered doc subsets at UL2's parameters, so the mixture and
    * the single-lane query cannot drift. */
  private def spanCorruptSql(src: String, spanLen: Int, rateNum: Int,
                             rateDen: Int): String =
    s"""WITH ws AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM $src),
      |words AS (
      |  -- positions are dense ranks AFTER the empty-token filter (repeated
      |  -- whitespace), mirroring the Spark side's post-filter row_number
      |  SELECT doc_id,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY g.wi) - 1 AS pos,
      |    w[wi] AS tok
      |  FROM ws, unnest(generate_series(1, len(w))) AS g(wi)
      |  WHERE w[wi] <> ''),
      |blocked AS (
      |  SELECT doc_id, pos, tok,
      |    (('0x' || substr(md5(doc_id::VARCHAR || '_' ||
      |        (pos // $spanLen)::VARCHAR), 1, 15))::BIGINT % $rateDen)
      |      < $rateNum AS masked,
      |    pos % $spanLen = 0 AS first
      |  FROM words),
      |ks AS (
      |  SELECT *, CAST(sum(CASE WHEN masked AND first THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY doc_id ORDER BY pos) - 1 AS BIGINT) AS k
      |  FROM blocked),
      |toks AS (
      |  SELECT doc_id, pos, masked, first,
      |    CASE WHEN NOT masked THEN tok
      |         WHEN first THEN '<extra_id_' || k || '>' END AS in_tok,
      |    CASE WHEN masked AND first THEN '<extra_id_' || k || '> ' || tok
      |         WHEN masked THEN tok END AS tg_tok
      |  FROM ks)
      |SELECT doc_id, count(*) AS n_tokens,
      |  CAST(sum(CASE WHEN masked AND first THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_spans,
      |  coalesce(string_agg(in_tok, ' ' ORDER BY pos)
      |    FILTER (WHERE in_tok IS NOT NULL), '') AS input_text,
      |  ltrim(coalesce(string_agg(tg_tok, ' ' ORDER BY pos)
      |      FILTER (WHERE tg_tok IS NOT NULL), '')
      |    || ' <extra_id_' ||
      |    CAST(sum(CASE WHEN masked AND first THEN 1 ELSE 0 END)
      |      AS BIGINT) || '>') AS target_text
      |FROM toks GROUP BY doc_id""".stripMargin
}
