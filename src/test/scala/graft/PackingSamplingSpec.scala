package graft

import org.apache.spark.sql.functions._
import graft.operators.Sampling
import graft.text.TextAnalysis

class PackingSamplingSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("packSequences: offsets are contiguous per shard and chunks cover tokens") {
    val df = docs((0L until 40L).map(i =>
      (i, Seq.fill((i % 7).toInt + 1)("tok").mkString(" "))): _*)
    val out = TextAnalysis.packSequences(df, "doc_id", "text",
      budget = 5, nShards = 4).collect()
    val byShard = out.groupBy(_.getAs[Long]("shard"))
    for ((_, rows) <- byShard) {
      val sorted = rows.sortBy(_.getAs[Long]("doc_id"))
      // stream contiguity: each doc starts where the previous ended
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(b.getAs[Long]("start_off") == a.getAs[Long]("end_off"))
        case _ =>
      }
      // chunk arithmetic: start chunk/pos consistent, span covers end
      for (r <- sorted) {
        val start = r.getAs[Long]("start_off")
        val end = r.getAs[Long]("end_off")
        val n = r.getAs[Long]("n_tokens") // int64 like every other offset col
        assert(r.getAs[Long]("chunk_id") == start / 5)
        assert(r.getAs[Long]("chunk_pos") == start % 5)
        if (n > 0)
          assert(r.getAs[Long]("n_chunks") == (end - 1) / 5 - start / 5 + 1)
      }
    }
  }

  test("packSequences: empty documents consume no tokens and span 0 chunks") {
    val df = docs((1L, "a b c"), (2L, "   "), (3L, "d"))
    val out = TextAnalysis.packSequences(df, "doc_id", "text",
        budget = 2, nShards = 1)
      .orderBy("doc_id").collect()
    assert(out(1).getAs[Long]("n_tokens") == 0L)
    assert(out(1).getAs[Long]("n_chunks") == 0L)
    assert(out(1).getAs[Long]("start_off") == out(1).getAs[Long]("end_off"))
    // doc 3 starts right after doc 1's 3 tokens despite the empty doc
    assert(out(2).getAs[Long]("start_off") == 3L)
  }

  test("packSequencesBy: whitespace-count column reproduces packSequences") {
    import org.apache.spark.sql.functions._
    val docs = Seq((0L, "a b c"), (1L, ""), (2L, "x y"), (3L, "one"),
      (4L, "p q r s t"), (5L, "m n")).toDF("doc_id", "text")
    val a = graft.text.TextAnalysis
      .packSequences(docs, "doc_id", "text", budget = 4, nShards = 2)
      .collect().map(_.toSeq).toSet
    val b = graft.text.TextAnalysis.packSequencesBy(docs, "doc_id",
        graft.text.TextAnalysis.tokenCount(col("text")).cast("long"),
        budget = 4, nShards = 2)
      .collect().map(_.toSeq).toSet
    assert(a == b)
    // a genuinely different count column changes the packing
    val c = graft.text.TextAnalysis.packSequencesBy(docs, "doc_id",
        lit(3L), budget = 4, nShards = 2)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_tokens"))
      .toMap
    assert(c.values.forall(_ == 3L))
  }

  test("deterministicSplit: stable, exhaustive, respects bucket thresholds") {
    val df = (0L until 500L).toDF("doc_id")
    val s1 = Sampling.deterministicSplit(df, "doc_id",
      Seq("train" -> 80, "val" -> 10, "test" -> 10)).collect()
    val s2 = Sampling.deterministicSplit(df.repartition(7), "doc_id",
      Seq("train" -> 80, "val" -> 10, "test" -> 10))
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    for (r <- s1) {
      val (id, bucket, split) = (r.getLong(0), r.getLong(1), r.getString(2))
      assert(split == (if (bucket < 80) "train"
                       else if (bucket < 90) "val" else "test"))
      assert(s2(id) == split) // partitioning-independent
      // pure function of the id: recompute the bucket on the driver
      assert(bucket ==
        graft.functions.PortableHash.hex60(s"split_$id") % 100)
    }
    // rough proportions at n=500 (hash buckets, not exact quotas)
    val counts = s1.groupBy(_.getString(2)).view.mapValues(_.length).toMap
    assert(counts("train") > 350 && counts("val") > 20 && counts("test") > 20)
  }

  test("stratifiedSample: per-stratum rates, stable, disjoint-salt composable") {
    val df = (0L until 600L).map(i => (i, if (i % 3 == 0) "en" else "de"))
      .toDF("doc_id", "lang")
    val out = Sampling.stratifiedSample(df, "doc_id", "lang",
      Map("en" -> 0, "de" -> 50)).collect()
    assert(out.forall(_.getString(1) == "de")) // en sampled out entirely
    // every kept row's bucket is below its stratum threshold and is a pure
    // function of the id
    assert(out.forall { r =>
      r.getLong(2) < 50 &&
        r.getLong(2) ==
          graft.functions.PortableHash.hex60(s"strat_${r.getLong(0)}") % 100
    })
    val kept = out.length
    assert(kept > 140 && kept < 260) // ~50% of 400 de rows
    // different salt -> statistically independent of the split assignment
    val both = Sampling.deterministicSplit(
      Sampling.stratifiedSample(df, "doc_id", "lang", Map("de" -> 50))
        .drop("split_bucket"),
      "doc_id", Seq("train" -> 50, "val" -> 50))
    assert(both.where(col("split") === "train").count() > 0)
  }

  test("temperatureResample flattens a skewed domain mix deterministically") {
    // 800 'big' + 400 'mid' + 100 'rare'
    val df = (0L until 1300L).toDF("doc_id")
      .withColumn("domain", when(col("doc_id") < 800, "big")
        .when(col("doc_id") < 1200, "mid").otherwise("rare"))
    val out = Sampling.temperatureResample(df, "doc_id", "domain",
      alpha = 0.5, budgetFrac = 0.5)
    val p = out.groupBy("domain").agg(
        org.apache.spark.sql.functions.first("keep_p").as("p"),
        count(lit(1)).as("kept"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2)))
      .toMap
    // alpha < 1 upweights rare domains: keep probabilities ordered, and
    // the rarest clamps at 1.0 (kept whole) while the others stay < 1
    assert(p("rare")._1 == 1.0 && p("mid")._1 > p("big")._1 &&
      p("mid")._1 < 1.0)
    // kept counts near n_d * p_d (hash-uniform, not exact)
    assert(math.abs(p("big")._2 - 800 * p("big")._1) < 80)
    // every surviving row satisfies u < keep_p, and reruns are identical
    assert(out.where(col("u") >= col("keep_p")).count() == 0)
    val again = Sampling.temperatureResample(df, "doc_id", "domain",
      alpha = 0.5, budgetFrac = 0.5).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == out.select("doc_id").collect().map(_.getLong(0)).toSet)
    // alpha = 1 keeps the natural mixture: every domain gets the same p
    val nat = Sampling.temperatureResample(df, "doc_id", "domain",
      alpha = 1.0, budgetFrac = 0.5)
      .select("keep_p").distinct().collect()
    assert(nat.length == 1)
  }

  test("deterministicSplit: shortfall leaves a NULL holdout") {
    val df = (0L until 200L).toDF("doc_id")
    val out = Sampling.deterministicSplit(df, "doc_id", Seq("sample" -> 10))
    val nulls = out.where(col("split").isNull).count()
    val sampled = out.where(col("split") === "sample").count()
    assert(nulls + sampled == 200L && sampled > 0 && nulls > 0)
  }

  test("chunkDocuments: coverage, overlap, offsets, and the empty-doc chunk") {
    val df = docs(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 tokens
      (2L, "a b c"),                                  // shorter than a chunk
      (3L, ""))                                       // empty doc
    val out = TextAnalysis.chunkDocuments(df, "doc_id", "text",
      chunkSize = 5, overlap = 2).collect()
    val byDoc = out.groupBy(_.getAs[Long]("doc_id"))
    // doc 1: stride 3, n=10 -> ceil(8/3)=3 chunks at offsets 0,3,6
    val d1 = byDoc(1L).sortBy(_.getAs[Long]("chunk_id"))
    assert(d1.map(_.getAs[Long]("token_start")).toSeq == Seq(0L, 3L, 6L))
    assert(d1.map(_.getAs[String]("chunk_text")).toSeq == Seq(
      "t1 t2 t3 t4 t5", "t4 t5 t6 t7 t8", "t7 t8 t9 t10"))
    assert(d1.map(_.getAs[Long]("n_tokens")).toSeq == Seq(5L, 5L, 4L))
    // consecutive chunks share exactly `overlap` tokens; all tokens covered
    d1.sliding(2).foreach {
      case Array(a, b) =>
        val at = a.getAs[String]("chunk_text").split(" ")
        val bt = b.getAs[String]("chunk_text").split(" ")
        assert(at.takeRight(2).sameElements(bt.take(2)))
      case _ =>
    }
    // doc 2: one short chunk; doc 3: exactly one empty chunk, not zero rows
    assert(byDoc(2L).map(_.getAs[String]("chunk_text")).toSeq == Seq("a b c"))
    assert(byDoc(3L).length == 1 &&
      byDoc(3L).head.getAs[String]("chunk_text") == "")
  }

  test("budgetSelect matches the naive global-order rule for every budget") {
    // skewed token counts + clustered scores so several docs share a
    // bucket and the cutoff lands mid-bucket
    val rows = (0L until 120L).map { i =>
      (i, (i % 13 + 1), (i % 9).toDouble / 10.0 + (i % 4).toDouble / 1000.0)
    }
    val df = rows.toDF("doc_id", "n_tokens", "score")
    val naive = rows.sortBy { case (id, _, s) => (-s, id) }
    for (budget <- Seq(0L, 1L, 50L, 200L, 421L, 10000L)) {
      var cum = 0L
      val expect = naive.flatMap { case (id, n, _) =>
        val sel = cum < budget; cum += n
        if (sel) Some(id) else None
      }.toSet
      val got = Sampling.budgetSelect(df, "doc_id", "n_tokens", "score",
          budget, nBuckets = 10)
        .where(col("selected")).select("doc_id").as[Long].collect().toSet
      assert(got == expect, s"budget=$budget")
    }
    // a corpus with no rows selects nothing and fails nothing
    assert(Sampling.budgetSelect(df.where(lit(false)), "doc_id", "n_tokens",
      "score", 50L, nBuckets = 10).count() == 0)
  }

  test("mixtureSelect matches the naive per-domain hash-order rule; unlisted domains drop") {
    val rows = (0L until 150L).map { i =>
      (i, s"d${i % 4}", (i % 17 + 1).toLong)
    }
    val df = rows.toDF("doc_id", "domain", "n_tokens")
    // d2 sits under its budget (kept whole); d9 is listed but has no rows
    val budgetMap = Map("d0" -> 0L, "d1" -> 40L, "d2" -> 100000L, "d9" -> 10L)
    val budgets = budgetMap.toSeq.toDF("domain", "budget")
    // naive twin: per domain, docs in (salted hash, id) order, keep while
    // cumulative-before < budget; d3 unlisted -> dropped
    val expect = rows.groupBy(_._2).flatMap { case (d, rs) =>
      budgetMap.get(d).toSeq.flatMap { budget =>
        var cum = 0L
        rs.map { case (id, _, n) =>
          (graft.functions.PortableHash.hex60(s"mix_$id"), id, n)
        }.sortBy { case (u, id, _) => (u, id) }.flatMap { case (_, id, n) =>
          val sel = cum < budget; cum += n
          if (sel) Some(id) else None
        }
      }
    }.toSet
    val got = Sampling.mixtureSelect(df, "doc_id", "domain", "n_tokens",
        budgets, nBuckets = 8)
      .where(col("selected")).select("doc_id").as[Long].collect().toSet
    assert(got == expect)
    assert(!got.exists(_ % 4 == 3)) // d3 dropped entirely
    // membership is a pure function of the id: invariant under repartition
    val got2 = Sampling.mixtureSelect(df.repartition(7), "doc_id", "domain",
        "n_tokens", budgets, nBuckets = 8)
      .where(col("selected")).select("doc_id").as[Long].collect().toSet
    assert(got2 == got)
  }

  test("building mixtureSelect and budgetSelect starts no Spark action") {
    val df = (0L until 40L).map(i => (i, s"d${i % 2}", i % 5 + 1, i / 40.0))
      .toDF("doc_id", "domain", "n_tokens", "score")
    val budgets = df.groupBy("domain")
      .agg((sum(col("n_tokens")) / 2).cast("long").as("budget"))
    val (_, actions) = actionsDuring {
      Sampling.mixtureSelect(df, "doc_id", "domain", "n_tokens", budgets)
      Sampling.budgetSelect(df, "doc_id", "n_tokens", "score", 30L)
    }
    assert(actions.isEmpty, actions)
  }

  test("budget selectors fail on a null bucket or a malformed budgets frame") {
    def failsWith(msg: String)(df: => org.apache.spark.sql.DataFrame): Unit = {
      val e = intercept[Exception](df.collect())
      val chain = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null)
      assert(chain.exists(t => Option(t.getMessage).exists(_.contains(msg))), e)
    }
    val df = Seq((Some(1L), "d0", 3L, Some(0.5)), (None, "d0", 2L, None))
      .toDF("doc_id", "domain", "n_tokens", "score")
    val one = Seq("d0" -> 10L).toDF("domain", "budget")
    failsWith("budgetSelect: null value in column score")(
      Sampling.budgetSelect(df, "doc_id", "n_tokens", "score", 3L))
    failsWith("mixtureSelect: null value in column doc_id")(
      Sampling.mixtureSelect(df, "doc_id", "domain", "n_tokens", one))
    val ok = df.where(col("doc_id").isNotNull)
    failsWith("budgets: duplicate value in column domain: d0")(
      Sampling.mixtureSelect(ok, "doc_id", "domain", "n_tokens",
        Seq("d0" -> 10L, "d0" -> 20L).toDF("domain", "budget")))
    failsWith("budgets: null value in column budget")(
      Sampling.mixtureSelect(ok, "doc_id", "domain", "n_tokens",
        Seq(("d0", Option.empty[Long])).toDF("domain", "budget")))
    failsWith("budgets: null value in column domain")(
      Sampling.mixtureSelect(ok, "doc_id", "domain", "n_tokens",
        Seq((Option.empty[String], 10L)).toDF("domain", "budget")))
  }

  test("weightedSample matches driver-side ES ranking and is partition-stable") {
    val rows = (0L until 90L).map(i => (i, s"s${(i % 3)}", (i % 11) + 1L))
    val df = rows.toDF("doc_id", "stratum", "w")
    // driver-side twin of the exponential-keys ranking
    val expect = rows.groupBy(_._2).flatMap { case (_, rs) =>
      rs.map { case (id, st, w) =>
        val h = graft.functions.PortableHash.hex60(s"wsamp_$id")
        val u = ((h % 4503599627370496L).toDouble + 0.5) / 4503599627370496.0
        val key = BigDecimal(math.log(u) / w)
          .setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble
        (st, id, key)
      }.sortBy { case (_, id, key) => (-key, id) }.take(5)
    }.map(t => (t._1, t._2)).toSet
    val out = Sampling.weightedSample(df, "doc_id", "stratum", "w", k = 5)
    val got = out.select("stratum", "doc_id").as[(String, Long)]
      .collect().toSet
    assert(got == expect)
    // pure function of (salt, id): invariant under partitioning
    val got13 = Sampling.weightedSample(df.repartition(13), "doc_id",
        "stratum", "w", k = 5)
      .select("stratum", "doc_id").as[(String, Long)].collect().toSet
    assert(got13 == got)
    // every stratum returns exactly k (fixture strata have >= k rows)
    val perStratum = out.groupBy("stratum").count().as[(String, Long)]
      .collect().toMap
    assert(perStratum.values.forall(_ == 5L))
  }

  test("weightedSample excludes null and non-positive weights explicitly") {
    // w = 0 used to produce a NULL key (silent drop); w < 0 flipped
    // ln(u)/w positive and ranked FIRST — both must be excluded, and
    // the positive-weight sample must be unaffected by their presence
    val good = (0L until 20L).map(i => (i, "s", 5L))
    val bad = Seq((100L, "s", 0L), (101L, "s", -3L))
    val clean = Sampling.weightedSample(good.toDF("doc_id", "stratum", "w"),
        "doc_id", "stratum", "w", k = 5)
      .select("doc_id").as[Long].collect().toSet
    val mixed = Sampling.weightedSample(
        (good ++ bad).toDF("doc_id", "stratum", "w"),
        "doc_id", "stratum", "w", k = 5)
      .select("doc_id").as[Long].collect().toSet
    assert(mixed == clean && !mixed.contains(100L) && !mixed.contains(101L))
    // null weights go with them
    val withNull = good.map { case (i, s, w) => (i, s, Some(w)) } :+
      ((102L, "s", None: Option[Long]))
    val nulled = Sampling.weightedSample(
        withNull.toDF("doc_id", "stratum", "w"),
        "doc_id", "stratum", "w", k = 5)
      .select("doc_id").as[Long].collect().toSet
    assert(nulled == clean)
  }

  test("weightedSample prefers heavy rows in aggregate") {
    // one stratum, two weight classes: weight-20 rows should dominate the
    // selected set vs weight-1 rows (ES inclusion ∝ weight at every prefix)
    val rows = (0L until 200L).map(i =>
      (i, "s", if (i < 100) 20L else 1L))
    val sel = Sampling.weightedSample(rows.toDF("doc_id", "stratum", "w"),
        "doc_id", "stratum", "w", k = 40)
      .select("doc_id").as[Long].collect()
    val heavy = sel.count(_ < 100)
    assert(heavy > 30, s"heavy=$heavy of ${sel.length}")
  }

  test("bm25TopK matches a driver-side reference implementation") {
    val rows = Seq(
      (1L, "spark window merge spark"),
      (2L, "window window window agg join"),
      (3L, "merge"),
      (4L, "scan filter agg join group sort"),
      (5L, "spark spark spark spark spark spark spark spark"),
      (6L, ""))
    val df = rows.toDF("doc_id", "text")
    val terms = Seq("spark", "window", "merge")
    val (k1, b) = (1.2, 0.75)
    // reference BM25 on the driver, same tokenizer
    val toks = rows.map { case (id, t) =>
      (id, t.trim.toLowerCase.split("\\s+").toSeq.filter(_.nonEmpty))
    }
    val n = rows.length
    val avgdl = toks.map(_._2.length).sum.toDouble / n
    val dfreq = terms.map(t =>
      t -> toks.count(_._2.contains(t))).toMap
    val expect = toks.flatMap { case (id, ws) =>
      val dl = ws.length
      val perTerm = terms.flatMap { t =>
        val tf = ws.count(_ == t)
        if (tf == 0 || dfreq(t) == 0) None
        else {
          val idf = math.log(1 + (n - dfreq(t) + 0.5) / (dfreq(t) + 0.5))
          Some(idf * (tf * (k1 + 1)) /
            (tf + k1 * (1 - b + b * dl / avgdl)))
        }
      }
      if (perTerm.isEmpty) None
      else Some((id, BigDecimal(perTerm.sum)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
        perTerm.length.toLong))
    }.sortBy { case (id, s, _) => (-s, id) }
    val got = TextAnalysis.bm25TopK(df, "doc_id", "text", terms, k = 10)
      .orderBy(desc("score"), col("doc_id"))
      .select("doc_id", "score", "n_terms_hit", "rank")
      .as[(Long, Double, Long, Long)].collect()
    assert(got.length == expect.length) // doc 4 and 6 match no terms
    got.zip(expect).zipWithIndex.foreach {
      case (((gid, gs, gh, grk), (eid, es, eh)), i) =>
        assert(gid == eid && gs == es && gh == eh && grk == i + 1,
          s"row $i: got=($gid,$gs,$gh,$grk) exp=($eid,$es,$eh)")
    }
  }

  test("bm25TopKBatch: per-query slice identical to single-query bm25TopK") {
    val df = Tables.load(spark, sf, "documents")
    val queries = Seq(
      "qa" -> Seq("spark", "window", "merge"),
      "qb" -> Seq("hash", "join", "stream", "batch"),
      "qc" -> Seq("dup", "vector"))
    val batch = TextAnalysis.bm25TopKBatch(df, "doc_id", "text", queries,
        k = 20)
      .select("query_id", "doc_id", "score", "n_terms_hit", "rank")
      .as[(String, Long, Double, Long, Long)].collect()
      .groupBy(_._1).map { case (q, rows) =>
        q -> rows.map(r => (r._2, r._3, r._4, r._5)).toSet
      }
    for ((qid, terms) <- queries) {
      val single = TextAnalysis.bm25TopK(df, "doc_id", "text", terms, 20)
        .select("doc_id", "score", "n_terms_hit", "rank")
        .as[(Long, Double, Long, Long)].collect().toSet
      assert(batch(qid) == single,
        s"$qid: batch slice != single-query run " +
          s"(batch ${batch(qid).size}, single ${single.size})")
    }
  }

  test("bm25Prf: expansion picks top-tf non-seed terms of feedback docs") {
    val rows = Seq(
      (1L, "spark window merge extra extra"),
      (2L, "spark window foo"),
      (3L, "bar bar bar baz"), // no seed term -> never feedback
      (4L, "spark extra foo"))
    val df = rows.toDF("doc_id", "text")
    val seed = Seq("spark", "window", "merge")
    // feedback docs = 1, 2, 4; non-seed tf: extra 3, foo 2, (bar/baz 0)
    val got = TextAnalysis.bm25Prf(df, "doc_id", "text", seed,
        fbDocs = 10, expandM = 2, k = 10)
      .select("doc_id", "score", "n_terms_hit", "rank")
      .as[(Long, Double, Long, Long)].collect().toSet
    val expect = TextAnalysis.bm25TopK(df, "doc_id", "text",
        seed ++ Seq("extra", "foo"), 10)
      .select("doc_id", "score", "n_terms_hit", "rank")
      .as[(Long, Double, Long, Long)].collect().toSet
    assert(got == expect, s"got $got\nexpect $expect")
    // expandM = 0 degrades to the plain seed run
    val noExp = TextAnalysis.bm25Prf(df, "doc_id", "text", seed,
        fbDocs = 10, expandM = 0, k = 10)
      .select("doc_id", "score").as[(Long, Double)].collect().toSet
    val plain = TextAnalysis.bm25TopK(df, "doc_id", "text", seed, 10)
      .select("doc_id", "score").as[(Long, Double)].collect().toSet
    assert(noExp == plain)
  }

  test("rrfFuse: exact integer contributions, overlap wins, id tiebreak") {
    val runA = Seq((1L, 1L), (2L, 2L)).toDF("id", "rank")
    val runB = Seq((2L, 1L), (3L, 2L)).toDF("id", "rank")
    val out = TextAnalysis.rrfFuse(Seq(runA, runB), "id", k = 10)
      .orderBy("rank").as[(Long, Long, Long, Long)].collect()
    val r61 = 1000000000L / 61 // rank 1 at kRrf = 60
    val r62 = 1000000000L / 62 // rank 2
    // id 2 hit by both runs (rank 2 + rank 1) and must fuse on top
    assert(out(0) == ((2L, r61 + r62, 2L, 1L)), out(0).toString)
    assert(out(1) == ((1L, r61, 1L, 2L)), out(1).toString)
    assert(out(2) == ((3L, r62, 1L, 3L)), out(2).toString)
    // equal-score tie (same single-run rank) breaks by ascending id
    val tieA = Seq((5L, 1L)).toDF("id", "rank")
    val tieB = Seq((4L, 1L)).toDF("id", "rank")
    val tied = TextAnalysis.rrfFuse(Seq(tieA, tieB), "id", k = 10)
      .orderBy("rank").as[(Long, Long, Long, Long)].collect()
    assert(tied(0)._1 == 4L && tied(1)._1 == 5L)
  }

  test("rrfFuse: queryCol partitions the fusion — no cross-query mixing") {
    // doc 2 appears under BOTH queries; with queryCol the fusions are
    // independent per query (its contributions never sum across queries)
    // and each query carries its own rank-1..k sequence
    val runA = Seq(("q1", 1L, 1L), ("q1", 2L, 2L), ("q2", 2L, 1L))
      .toDF("qid", "id", "rank")
    val runB = Seq(("q1", 2L, 1L), ("q2", 3L, 1L), ("q2", 2L, 2L))
      .toDF("qid", "id", "rank")
    val out = TextAnalysis.rrfFuse(Seq(runA, runB), "id", k = 10,
        queryCol = Some("qid"))
      .orderBy("qid", "rank")
      .as[(String, Long, Long, Long, Long)].collect()
    val r61 = 1000000000L / 61
    val r62 = 1000000000L / 62
    assert(out.toSeq == Seq(
      ("q1", 2L, r61 + r62, 2L, 1L), ("q1", 1L, r61, 1L, 2L),
      ("q2", 2L, r61 + r62, 2L, 1L), ("q2", 3L, r61, 1L, 2L)),
      out.mkString(", "))
    // per-query fusion equals fusing each query's slice alone
    val aloneQ2 = TextAnalysis.rrfFuse(
        Seq(runA.where($"qid" === "q2").drop("qid"),
          runB.where($"qid" === "q2").drop("qid")), "id", k = 10)
      .orderBy("rank").as[(Long, Long, Long, Long)].collect()
    assert(aloneQ2.toSeq ==
      out.toSeq.filter(_._1 == "q2").map(r => (r._2, r._3, r._4, r._5)))
  }

  test("retrievalEval: boolean-AND relevance, exact integer-nano metrics") {
    val rows = Seq(
      (1L, "spark window merge spark"),
      (2L, "window window window agg join"),
      (3L, "merge"),
      (4L, "scan filter agg join group sort"),
      (5L, "spark spark spark spark spark spark spark spark"),
      (6L, ""))
    val df = rows.toDF("doc_id", "text")
    val out = TextAnalysis.retrievalEval(df, "doc_id", "text",
        Seq("qa" -> Seq("spark", "window", "merge"),
            "qz" -> Seq("spark", "zebra")), k = 10, cutoff = 10)
      .collect().map(r => r.getString(0) -> r).toMap
    // qa: only doc 1 contains all three terms
    val qa = out("qa")
    assert(qa.getLong(1) == 1L && qa.getLong(2) == 1L,
      s"n_rel/hits = ${qa.getLong(1)}/${qa.getLong(2)}")
    val rank1 = TextAnalysis.bm25TopK(df, "doc_id", "text",
        Seq("spark", "window", "merge"), 10)
      .where($"doc_id" === 1L).select("rank").as[Long].head()
    assert(qa.getLong(3) == rank1, "first_rel_rank must be doc 1's BM25 rank")
    assert(qa.getLong(4) == 1000000000L / rank1)
    assert(qa.getLong(5) == 100000000L) // 1 hit over cutoff 10
    assert(qa.getLong(6) == 1000000000L) // 1 hit over 1 relevant doc
    // qz: no doc contains 'zebra' -> zero relevance, run still non-empty
    val qz = out("qz")
    assert(qz.getLong(1) == 0L && qz.getLong(2) == 0L && qz.isNullAt(3))
    assert(qz.getLong(4) == 0L && qz.getLong(5) == 0L && qz.getLong(6) == 0L)
  }

  test("bpeMergeTable: hand-computed merges, overlap counting, greedy-leftmost") {
    // vocab: aaa ×3, aab ×2, ba ×1
    // symbols: [a,a,a,</w>]×3  [a,a,b,</w>]×2  [b,a,</w>]×1
    // step 1 pair counts: (a,a): 2·3 + 1·2 = 8 (overlapping positions!),
    //   (a,</w>): 3+1=4, (a,b): 2, (b,</w>): 2, (b,a): 1 → merge (a,a)
    // greedy-leftmost on aaa: [aa, a, </w>] (NOT [a, aa, </w>])
    // step 2 vocab: [aa,a,</w>]×3 [aa,b,</w>]×2 [b,a,</w>]×1
    //   (aa,a):3, (a,</w>):3+1=4, (aa,b):2, (b,</w>):2, (b,a):1 → (a,</w>)
    val df = Seq("aaa aab ba aaa aab", "aaa").toDF("text")
    val out = TextAnalysis.bpeMergeTable(df, "text", merges = 2)
      .orderBy("step")
      .as[(Long, String, String, String, Long)].collect().toSeq
    assert(out == Seq(
      (1L, "a", "a", "aa", 8L),
      (2L, "a", "</w>", "a</w>", 4L)))
  }

  test("bpeMergeTableLocal == bpeMergeTable over the distributed form's full range") {
    // the driver-local trainer must replay the distributed trainer's
    // exact table — counts, tie-breaks, greedy-leftmost — over all 64
    // rounds the distributed form supports, on real fixture text
    val df = Tables.load(spark, sf, "documents").limit(200).select("text")
    val dist = TextAnalysis.bpeMergeTable(df, "text", merges = 64)
      .orderBy("step")
      .as[(Long, String, String, String, Long)].collect().toSeq
    val local = TextAnalysis.bpeMergeTableLocal(df, "text", merges = 64)
      .orderBy("step")
      .as[(Long, String, String, String, Long)].collect().toSeq
    assert(local == dist)
    // the cap is lifted: train far past 64 merges, table stays
    // well-formed (monotone steps, every merge concatenates its pair,
    // counts positive and step-1 matches the 64-round prefix)
    val big = TextAnalysis.bpeMergeTableLocal(df, "text", merges = 1000)
      .orderBy("step")
      .as[(Long, String, String, String, Long)].collect().toSeq
    assert(big.length > 64 && big.take(64) == dist)
    assert(big.map(_._1) == (1L to big.length))
    assert(big.forall { case (_, l, r, m, c) => m == l + r && c >= 1 })
    // exhaustion: a tiny vocab runs dry before the requested rounds
    // and stops cleanly instead of looping
    val tiny = Seq("ab ab").toDF("text")
    val dry = TextAnalysis.bpeMergeTableLocal(tiny, "text", merges = 1000)
      .as[(Long, String, String, String, Long)].collect().toSeq
    assert(dry.length < 10 && dry.nonEmpty)
    // maxTypes failure lane: a dictionary over the bound must refuse the
    // collect loudly (the documented-bounded-collect contract), naming
    // both the observed size and the bound
    val err = intercept[IllegalArgumentException] {
      TextAnalysis.bpeMergeTableLocal(df, "text", merges = 4, maxTypes = 10)
    }
    assert(err.getMessage.contains("maxTypes=10") &&
      err.getMessage.contains("bpeMergeTable"))
  }

  test("bpeEncode applies merges in order, greedy-leftmost, scalar outputs") {
    val df = Seq((1L, "aaa ba"), (2L, ""), (3L, "ab")).toDF("doc_id", "text")
    // merges learned elsewhere: (a,a) then (aa,a) then (b,a)
    val out = TextAnalysis.bpeEncode(df, "doc_id", "text",
        Seq(("a", "a"), ("aa", "a"), ("b", "a")), prefixLen = 8)
      .orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    // aaa -> [a,a,a,</w>] -> [aa,a,</w>] -> [aaa,</w>]; ba -> [ba,</w>]
    // ab  -> [a,b,</w>] (no merge applies: (a,a) no, (aa,a) no, (b,a) no)
    assert(out == Seq(
      (1L, 2L, 4L, "aaa </w> ba </w>"),
      (2L, 0L, 0L, ""),
      (3L, 1L, 3L, "a b </w>")))
  }

  test("epochUpsample: integral epochs repeat exactly, fractional coin is deterministic") {
    val docs = (1 to 600).map(i =>
      (i.toLong, Seq("two", "half", "zero")(i % 3))).toDF("id", "dom")
    val out = Sampling.epochUpsample(docs, "id", "dom",
      Map("two" -> 2.0, "half" -> 0.5))
    // integral domain: every doc exactly twice, copy_idx 0 and 1
    val two = out.where(col("dom") === "two")
      .groupBy("id").agg(count(lit(1)).as("n"),
        sort_array(collect_list(col("copy_idx"))).as("ix"))
    assert(two.where(col("n") =!= 2).count() === 0)
    assert(two.where(col("ix") =!= array(lit(0), lit(1))).count() === 0)
    // fractional domain: each doc 0 or 1 copies; aggregate rate near 0.5
    val halfIds = out.where(col("dom") === "half")
    assert(halfIds.groupBy("id").count().where(col("count") =!= 1)
      .count() === 0)
    val kept = halfIds.count()
    assert(kept > 70 && kept < 130, s"kept $kept of 200 at p=0.5")
    // domain absent from the map drops entirely
    assert(out.where(col("dom") === "zero").count() === 0)
    // deterministic: a rerun reproduces the identical multiset
    val rerun = Sampling.epochUpsample(docs, "id", "dom",
      Map("two" -> 2.0, "half" -> 0.5))
      .select("id", "dom", "copy_idx").collect().toSet
    assert(rerun === out.select("id", "dom", "copy_idx").collect().toSet)
  }

  test("trainOrder: a permutation equal to the naive global sort, no global window") {
    import org.apache.spark.sql.expressions.Window
    val docs = (1 to 500).map(i => (i.toLong, (i % 7).toLong))
      .toDF("id", "shard")
    val out = TextAnalysis.trainOrder(docs, "shard", "id", "seedx")
    // permutation: every position 0..n-1 exactly once
    val pos = out.select("global_pos").collect().map(_.getLong(0)).sorted
    assert(pos.toSeq === (0L until 500L))
    // equals the naive single-window global sort the operator avoids
    val naive = out.withColumn("naive_pos",
      row_number().over(Window.orderBy(
        col("shard"), col("order_key"), col("id"))) - 1)
    assert(naive.where(col("global_pos") =!= col("naive_pos")).count() === 0)
    // deterministic across runs; different seed → different permutation
    val rerun = TextAnalysis.trainOrder(docs, "shard", "id", "seedx")
      .select("id", "global_pos").collect().toSet
    assert(rerun === out.select("id", "global_pos").collect().toSet)
    val other = TextAnalysis.trainOrder(docs, "shard", "id", "seedy")
      .select("id", "global_pos").collect().toSet
    assert(other !== rerun)
  }

  test("epochUpsample multiplicity is floor(e) or ceil(e), expectation ~ e") {
    val docs = (1 to 900).map(i => (i.toLong, "d")).toDF("id", "dom")
    val out = Sampling.epochUpsample(docs, "id", "dom", Map("d" -> 2.25))
    val perDoc = out.groupBy("id").count()
    assert(perDoc.where(col("count") < 2 || col("count") > 3).count() === 0)
    val total = out.count().toDouble / 900
    assert(total > 2.1 && total < 2.4, s"mean multiplicity $total vs 2.25")
  }
}
