package graft

import org.apache.spark.sql.functions._
import graft.dedup.NearDup
import graft.text.TextAnalysis

class TextDedupSpec extends SparkSpec {
  import spark.implicits._

  test("tokenCount handles blanks and whitespace runs") {
    val df = Seq("a  b\tc", "", "   ", "one").toDF("t")
    val got = df.select(TextAnalysis.tokenCount($"t")).as[Int].collect().toSeq
    assert(got == Seq(3, 0, 0, 1))
  }

  test("fingerprint is whitespace/case insensitive") {
    val df = Seq(("A  b C", "a b c")).toDF("x", "y")
    val r = df.select(
      TextAnalysis.fingerprint($"x") === TextAnalysis.fingerprint($"y")).head()
    assert(r.getBoolean(0))
  }

  test("exactDupGroups groups identical normalized docs") {
    val df = Seq((1L, "hello  world"), (2L, "Hello World"), (3L, "other"))
      .toDF("doc_id", "text")
    val out = NearDup.exactDupGroups(df, "doc_id", "text").orderBy("doc_id").collect()
    assert(out(0).getLong(2) == 1L && out(1).getLong(2) == 1L)
    assert(out(1).getBoolean(4) && !out(0).getBoolean(4))
    assert(out(2).getLong(3) == 1L)
  }

  test("jaccardPairs finds the planted near-dup and skips unrelated docs") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "completely different words entirely here now")
    ).toDF("doc_id", "text")
    val pairs = NearDup.jaccardPairs(df, "doc_id", "text", 3, 1, 2).collect()
    assert(pairs.length == 1)
    assert(pairs.head.getLong(0) == 1L && pairs.head.getLong(1) == 2L)
  }

  test("jaccardPairs maxDf cap drops stop-shingle pairs, keeps rare-shingle pairs") {
    // 6 docs all share one boilerplate opening (hot shingles, df = 6);
    // docs 1/2 additionally share rare content. With maxDf = 4 the
    // boilerplate posting lists (df 6 > 4) die before the pair emit, so
    // pairs held together ONLY by boilerplate vanish while the 1-2 pair
    // survives on its rare shingles. maxDf = 0 stays exact.
    val boiler = "standard header text common to all"
    val df = (1L to 6L).map { i =>
      val tail = if (i <= 2) "unique shared payload sentence here"
                 else s"filler body number $i distinct words ${i * 7}"
      (i, s"$boiler $tail")
    }.toDF("doc_id", "text")
    val exact = NearDup.jaccardPairs(df, "doc_id", "text", 3, 1, 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val capped = NearDup.jaccardPairs(df, "doc_id", "text", 3, 1, 4,
        maxDf = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.contains((1L, 2L)))
    assert(capped.contains((1L, 2L)), s"rare-shingle pair lost: $capped")
    assert(capped.subsetOf(exact), s"cap invented pairs: ${capped.diff(exact)}")
    assert(capped.size < exact.size,
      s"cap dropped nothing (exact=${exact.size}, capped=${capped.size})")
  }

  test("minhashLsh recalls exact-jaccard pairs on the fixture corpus") {
    val docs = Tables.load(spark, sf, "documents")
    val exact = NearDup.jaccardPairs(docs, "doc_id", "text", 3, 2, 5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = NearDup.minhashLshPairs(docs, "doc_id", "text",
        shingleN = 3, numHashes = 32, bands = 16, threshold = 0.2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    if (exact.nonEmpty) {
      val recall = exact.intersect(lsh).size.toDouble / exact.size
      assert(recall >= 0.5, s"LSH recall $recall too low (${exact.size} exact pairs)")
    }
  }

  test("simhash: identical docs share signatures, disjoint docs differ") {
    val df = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"),
      (3L, "one two three four five six")
    ).toDF("doc_id", "text")
    val sigs = NearDup.simhash(df, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long)].collect().map(_._2)
    assert(sigs(0) == sigs(1))
    assert(sigs(0) != sigs(2))
  }

  test("splitClusters breaks duplicate-key clusters deterministically") {
    val df = Seq(
      (10L, 1L, "2019"), (10L, 2L, "2019"), (10L, 3L, "2020"),
      (20L, 4L, "2019")
    ).toDF("cluster", "id", "yr")
    val out = NearDup.splitClusters(df, "cluster", "id", "yr")
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // ids 1 and 2 share year 2019 -> different sub-clusters; 3 joins 1's
    assert(out.toSeq == Seq((1L, 10L, 0), (2L, 10L, 1), (3L, 10L, 0),
      (4L, 20L, 0)))
    // no (cluster, sub) has duplicate keys
    val dups = NearDup.splitClusters(df, "cluster", "id", "yr")
      .join(df.select($"id", $"yr"), "id")
      .groupBy("cluster", "sub_cluster", "yr").count()
      .where($"count" > 1).count()
    assert(dups == 0)
  }

  test("langId predicts languages from lexicon hits with 'und' fallback") {
    val df = Seq(
      (1L, "the cat and the dog"),
      (2L, "el perro y la casa de los gatos"),
      (3L, "zzz qqq www")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.langId(spark, df, "doc_id", "text")
      .orderBy("doc_id").select("lang_pred").as[String].collect().toSeq
    assert(out == Seq("en", "es", "und"))
  }
  test("simhashPairs finds near-identical docs and respects the Hamming cap") {
    val docs = Tables.load(spark, sf, "documents")
    val pairs = graft.dedup.NearDup.simhashPairs(docs, "doc_id", "text",
      maxHamming = 3, bands = 4)
    val got = pairs.collect()
    assert(got.forall(_.getInt(2) <= 3))
    // exact duplicates (identical fingerprints) must appear among the pairs
    val exact = graft.dedup.NearDup.exactDupGroups(docs, "doc_id", "text")
      .where(org.apache.spark.sql.functions.col("is_dup"))
      .select("canonical_id", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    if (exact.nonEmpty) {
      val gotSet = got.map(r => (r.getLong(0), r.getLong(1))).toSet
      val hit = exact.count(gotSet.contains)
      assert(hit == exact.size, s"simhash missed exact dup pairs: $hit/${exact.size}")
    }
  }

  test("incrementalDedup labels batch docs against history") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.load(spark, sf, "documents")
    val history = docs.where(col("doc_id") < 400)
    val batch = docs.where(col("doc_id") >= 400)
    val out = graft.dedup.NearDup.incrementalDedup(
      batch, history, "doc_id", "text", threshold = 0.35)
    val rows = out.collect()
    // total coverage: every batch doc labeled exactly once
    assert(rows.length == batch.count())
    assert(rows.map(_.getAs[String]("status")).toSet
      .subsetOf(Set("exact_dup", "near_dup", "unique")))
    // exact dups agree with a direct fingerprint join
    val fpJoin = graft.dedup.NearDup.exactDupGroups(docs, "doc_id", "text")
      .where(col("doc_id") >= 400 && col("canonical_id") < 400)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val gotExact = rows.filter(_.getAs[String]("status") == "exact_dup")
      .map(_.getAs[Long]("doc_id")).toSet
    assert(gotExact == fpJoin, s"exact sets differ: $gotExact vs $fpJoin")
    // every match id points into history, never into the batch
    rows.filter(_.getAs[String]("status") != "unique")
      .foreach(r => assert(r.getAs[Long]("match_id") < 400))
    // near-dup estimates respect the threshold
    rows.filter(_.getAs[String]("status") == "near_dup")
      .foreach(r => assert(r.getAs[Double]("est_jaccard") >= 0.35))
  }

  /** Driver-side reference winnowing (independent of the Column form):
    * same normalization, portable seeded hash, complete-window minima,
    * min-of-all for short docs. */
  private def refWinnow(text: String, k: Int, w: Int): Set[Long] = {
    val txt = text.toLowerCase.replaceAll("\\s+", " ").trim
    val n = txt.length - k + 1
    if (n <= 0) Set.empty
    else {
      val grams = (0 until n).map(i =>
        graft.functions.PortableHash.seeded(0, txt.substring(i, i + k)))
      if (n <= w) Set(grams.min)
      else (0 to n - w).map(j => grams.slice(j, j + w).min).toSet
    }
  }

  test("winnowFingerprints matches a driver-side reference on varied inputs") {
    val k = 8; val w = 4
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "the quick  BROWN fox\tjumps over the lazy dog",  // normalization
      "short", "", "   ", "exactly8", "nine char",       // short-doc branches
      "abababababababababab",                            // repeating grams
      "héllo wörld ünïcode — мир and 漢字 slices",        // code-point grams
      (1 to 60).map(i => s"tok$i").mkString(" "))
    val got = texts.toDF("t")
      .select(TextAnalysis.winnowFingerprints($"t", k, w).as("fps"))
      .as[Seq[Long]].collect()
    texts.zip(got).foreach { case (t, fps) =>
      assert(fps.toSet == refWinnow(t, k, w), s"mismatch on '$t'")
      // first-occurrence order of the window minima (array_distinct
      // semantics — pinned so the native kernel can't reorder)
      val txt2 = t.toLowerCase.replaceAll("\\s+", " ").trim
      val n2 = txt2.length - k + 1
      if (n2 > w) {
        val grams2 = (0 until n2).map(i =>
          graft.functions.PortableHash.seeded(0, txt2.substring(i, i + k)))
        val ordered = (0 to n2 - w).map(j => grams2.slice(j, j + w).min)
          .distinct
        assert(fps == ordered, s"order mismatch on '$t'")
      }
      // selection never invents hashes: every fingerprint is a gram hash
      val txt = t.toLowerCase.replaceAll("\\s+", " ").trim
      val all = (0 until (txt.length - k + 1).max(0)).map(i =>
        graft.functions.PortableHash.seeded(0, txt.substring(i, i + k))).toSet
      assert(fps.toSet.subsetOf(all))
    }
  }

  test("winnowing detection guarantee: shared run >= k+w-1 shares a fingerprint") {
    val k = 8; val w = 4
    // common substring of exactly k+w-1 = 11 chars, embedded in unrelated text
    val common = "abcdefghijk"
    val a = s"zzzz $common qqqq"
    val b = s"wwww $common pppp"
    val c = "totally unrelated content with no shared gram at all"
    val df = Seq((1L, a), (2L, b), (3L, c)).toDF("id", "t")
      .select($"id", TextAnalysis.winnowFingerprints($"t", k, w).as("fps"))
    val m = df.as[(Long, Seq[Long])].collect().toMap
    assert(m(1L).toSet.intersect(m(2L).toSet).nonEmpty,
      "docs sharing an 11-char run must share a fingerprint")
    assert(m(1L).toSet.intersect(m(3L).toSet).isEmpty)
  }

  test("winnowPairs finds fixture near-dups and the df cap drops boilerplate") {
    val docs = Tables.load(spark, sf, "documents")
    val pairs = NearDup.winnowPairs(docs, "doc_id", "text",
      k = 16, w = 8, minShared = 5, maxDf = 20)
    val got = pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got.nonEmpty, "fixture corpus has planted near-dups")
    // every reported pair is a true near-dup by exact token jaccard >= 0.5
    // (token-level, not 3-gram: winnowing detects local character runs,
    // which survive word reordering that destroys 3-word shingles)
    val exact = NearDup.jaccardPairs(docs, "doc_id", "text", 1, 1, 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got.subsetOf(exact), s"false positives: ${got.diff(exact)}")
    // df cap: a boilerplate gram in every doc produces no pair explosion
    val boiler = (1L to 30L).map(i => (i, s"SHARED BOILERPLATE HEADER LINE unique tail $i"))
      .toDF("doc_id", "text")
    val bp = NearDup.winnowPairs(boiler, "doc_id", "text",
      k = 16, w = 8, minShared = 1, maxDf = 10)
    assert(bp.count() == 0,
      "grams common to >maxDf docs must be dropped before pairing")
  }

  test("gopherStats: hand-computed repetition metrics on a tiny doc") {
    // words [a, a, a, bb]; grams [a a, a a, a bb]
    val df = Seq((1L, "a a a bb")).toDF("doc_id", "text")
    val r = TextAnalysis.gopherStats(df, "doc_id", "text").head()
    assert(r.getAs[Long]("n_words") == 4L)
    assert(r.getAs[Double]("mean_word_len") == 5.0 / 4) // chars a+a+a+bb = 5
    assert(r.getAs[Double]("frac_dup_words") == 3.0 / 4) // 'a' occurs 3x
    assert(r.getAs[Double]("top_2gram_frac") == 2.0 / 3) // 'a a' twice of 3
    assert(r.getAs[Double]("frac_dup_2grams") == 2.0 / 3)
    assert(!r.getAs[Boolean]("passes_gopher")) // too short, too repetitive
    // a clean long doc passes
    val ok = (1 to 40).map(i => s"word$i").mkString(" ")
    val r2 = TextAnalysis.gopherStats(
      Seq((2L, ok)).toDF("doc_id", "text"), "doc_id", "text").head()
    assert(r2.getAs[Boolean]("passes_gopher"))
  }

  test("piiScan counts and redacts each class without cross-matching") {
    val df = Seq(
      (1L, "mail a.b@x.org and c@y.io ssn 123-45-6789 tel 202-555-0147 ip 10.0.3.9"),
      (2L, "nothing sensitive here")).toDF("doc_id", "text")
    val out = TextAnalysis.piiScan(df, "text").orderBy("doc_id").collect()
    val r = out(0)
    assert(r.getAs[Long]("n_emails") == 2 && r.getAs[Long]("n_ssns") == 1 &&
      r.getAs[Long]("n_phones") == 1 && r.getAs[Long]("n_ips") == 1)
    assert(r.getAs[String]("redacted") ==
      "mail <EMAIL> and <EMAIL> ssn <SSN> tel <PHONE> ip <IP>")
    assert(!out(1).getAs[Boolean]("has_pii") &&
      out(1).getAs[String]("redacted") == "nothing sensitive here")
  }

  test("perplexityScore: hand-computed bigram LM with add-k smoothing") {
    // uni: a:3 b:2 c:1 (V=3); bi: (a,b):2 (a,c):1
    val df = Seq((1L, "a b"), (2L, "a b"), (3L, "a c")).toDF("doc_id", "text")
    val out = TextAnalysis.perplexityScore(df, "doc_id", "text", addK = 0.5)
      .orderBy("doc_id").collect()
    // P(b|a) = (2+.5)/(3+1.5) = 5/9; P(c|a) = (1+.5)/(3+1.5) = 1/3
    assert(math.abs(out(0).getAs[Double]("avg_logp") - math.log(5.0 / 9)) < 1e-6)
    assert(math.abs(out(2).getAs[Double]("avg_logp") - math.log(1.0 / 3)) < 1e-6)
    assert(out.forall(_.getAs[Long]("n_grams") == 1L))
    // common bigrams score higher than rare ones
    assert(out(0).getAs[Double]("avg_logp") > out(2).getAs[Double]("avg_logp"))
  }

  test("dedupCorpusLines drops corpus-frequent lines, keeps order") {
    val boiler = "subscribe to our newsletter"
    val df = Seq(
      (1L, s"$boiler\nreal content one\nmore text"),
      (2L, s"other words\n$boiler"),
      (3L, s"$boiler\nlast doc body"),
      (4L, boiler)).toDF("doc_id", "text")
    val out = NearDup.dedupCorpusLines(df, "doc_id", "text", "\n", minDf = 3)
      .orderBy("doc_id").collect()
    assert(out(0).getAs[String]("cleaned_text") == "real content one\nmore text")
    assert(out(0).getAs[Long]("n_lines") == 3 && out(0).getAs[Long]("n_kept") == 2)
    assert(out(1).getAs[String]("cleaned_text") == "other words")
    // the all-boilerplate doc survives as an explicit empty row
    assert(out(3).getAs[Long]("n_kept") == 0 &&
      out(3).getAs[String]("cleaned_text") == "")
    // below the threshold nothing is dropped
    val loose = NearDup.dedupCorpusLines(df, "doc_id", "text", "\n", minDf = 5)
    assert(loose.where(col("n_kept") =!= col("n_lines")).count() == 0)
  }

  test("canonicalizeUrl: scheme/host case, ports, www, fragment, empty path") {
    val cases = Seq(
      "HTTP://Example.COM:80/A/b?Q=1#frag" -> "http://example.com/A/b?Q=1",
      "https://www.Site.org:443" -> "https://site.org/",
      "https://host.net:8443/x" -> "https://host.net:8443/x", // non-default port kept
      "http://a.b.co.uk?q=2" -> "http://a.b.co.uk?q=2",
      "ftp://Files.example.com/pub" -> "ftp://files.example.com/pub",
      "not a url" -> null)
    val df = cases.map(_._1).toDF("u")
    val got = df.select(TextAnalysis.canonicalizeUrl($"u").as("c"))
      .as[Option[String]].collect().toSeq
    assert(got == cases.map(c => Option(c._2)))
  }

  test("registeredDomain applies the multi-label suffix list") {
    val cases = Seq(
      "news.example.co.uk" -> "example.co.uk",
      "a.b.c.example.com" -> "example.com",
      "example.com" -> "example.com",
      "localhost" -> "localhost",
      "cdn.example.net" -> "example.net")
    val df = cases.map(_._1).toDF("h")
    val got = df.select(TextAnalysis.registeredDomain($"h").as("d"))
      .as[String].collect().toSeq
    assert(got == cases.map(_._2))
  }

  test("stripHtml: tags to word boundaries, entity order, collapse") {
    val df = Seq(
      "<p>a<br>b</p>",                       // tag keeps word boundary
      "x &amp;lt; y",                        // &amp; decodes LAST: no double-decode
      "&lt;tag&gt; &quot;q&quot; &#39;s&#39;&nbsp;end",
      "  <div>   spaced   </div>  ").toDF("h")
    val got = df.select(TextAnalysis.stripHtml($"h").as("c"))
      .as[String].collect().toSeq
    assert(got == Seq("a b", "x &lt; y", "<tag> \"q\" 's' end", "spaced"))
  }
}
