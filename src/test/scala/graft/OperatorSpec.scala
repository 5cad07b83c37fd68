package graft

import org.apache.spark.sql.functions._
import graft.functions.AggFunctions
import graft.operators._

/** Per-operator unit tests with small inline frames — mirrors the
  * reference's tests/unit layer (SURVEY §5.1). */
class OperatorSpec extends SparkSpec {
  import spark.implicits._

  test("Dedup.keepFirst keeps latest per key") {
    val df = Seq((1, "2020", 10.0), (1, "2021", 20.0), (2, "2019", 5.0))
      .toDF("k", "yr", "v")
    val out = Dedup.keepFirst(df, Seq("k"), Seq(col("yr").desc))
      .orderBy("k").collect()
    assert(out.map(r => (r.getInt(0), r.getDouble(2))).toSeq ==
      Seq((1, 20.0), (2, 5.0)))
  }

  test("Dedup.bestSnapshot prefers most non-nulls") {
    val df = Seq(
      (1, 1, Some(1.0), Some("a")),
      (1, 2, None, Some("b")),
      (2, 3, None, None)
    ).toDF("k", "id", "x", "y")
    val out = Dedup.bestSnapshot(df, Seq("k"), Seq("x", "y"), Seq(col("id").desc))
      .orderBy("k").collect()
    assert(out.map(_.getInt(1)).toSeq == Seq(1, 3))
  }

  test("Dedup.applyDiffs takes last non-null per column") {
    val df = Seq(
      (1, 1, Some(1.0), Some("a")),
      (1, 2, None, Some("b")),
      (1, 3, Some(3.0), None)
    ).toDF("k", "ord", "x", "y")
    val r = Dedup.applyDiffs(df, Seq("k"), "ord", Seq("x", "y")).collect().head
    assert(r.getDouble(1) == 3.0 && r.getString(2) == "b")
  }

  test("AggFunctions.sumNa is NULL when any input is NULL") {
    val df = Seq((1, Some(1.0)), (1, None), (2, Some(2.0)), (2, Some(3.0)))
      .toDF("k", "v")
    val out = df.groupBy("k").agg(AggFunctions.sumNa(col("v")).as("s"))
      .orderBy("k").collect()
    assert(out(0).isNullAt(1) && out(1).getDouble(1) == 5.0)
  }

  test("AggFunctions.weightedAvgExact matches hand computation") {
    val df = Seq((0.10, 1.0), (0.20, 3.0)).toDF("v", "w")
    val got = df.agg(AggFunctions.weightedAvgExact(col("v"), col("w"), 2))
      .head().getDouble(0)
    assert(math.abs(got - 0.175) < 1e-12)
  }

  test("Reshape.melt produces one row per (id, measure)") {
    val df = Seq((1, 2.0, 3.0)).toDF("id", "a", "b")
    val out = Reshape.melt(df, Seq("id"), Seq("a" -> "a", "b" -> "b"))
    assert(out.count() == 2)
    assert(out.columns.toSeq == Seq("id", "variable", "value"))
  }

  test("Reshape.meltRegex melts columns matched by pattern") {
    val df = Seq((1, 2.0, 3.0, 9.9)).toDF("id", "x_jan", "x_feb", "other")
    val out = Reshape.meltRegex(df, Seq("id"), "x_(\\w+)", Seq("month"))
    assert(out.count() == 2)
    assert(out.select("month").as[String].collect().sorted.toSeq == Seq("feb", "jan"))
  }

  test("TemporalOps.expandTimeseries densifies and forward-fills") {
    val df = Seq(
      (1, java.sql.Timestamp.valueOf("2020-01-01 00:00:00"), Some(1.0)),
      (1, java.sql.Timestamp.valueOf("2020-04-01 00:00:00"), Some(4.0))
    ).toDF("k", "ts", "v")
    val out = TemporalOps.expandTimeseries(df, Seq("k"), "ts", "1 month", Seq("v"))
      .orderBy("ts").collect()
    assert(out.length == 4)
    assert(out.map(_.getDouble(2)).toSeq == Seq(1.0, 1.0, 1.0, 4.0))
  }

  test("TemporalOps.changelog drops consecutive dups") {
    val df = Seq((1, 1, "a"), (1, 2, "a"), (1, 3, "b"), (1, 4, "b"), (1, 5, "a"))
      .toDF("k", "seq", "state")
    val out = TemporalOps.changelog(df, Seq("k"), Seq(col("seq")), Seq("state"))
    assert(out.select("seq").as[Int].collect().sorted.toSeq == Seq(1, 3, 5))
  }

  test("TemporalOps.scd2Intervals tiles each key with one current row") {
    val df = Seq((1, 1, "a"), (1, 2, "a"), (1, 3, "b"), (1, 4, "b"), (1, 5, "a"),
        (2, 1, "x"))
      .toDF("k", "seq", "state")
    val out = TemporalOps.scd2Intervals(df, Seq("k"), Seq(col("seq")),
        "seq", Seq("state"))
      .orderBy("k", "version")
      .select("k", "state", "effective_from", "effective_to", "version",
        "is_current")
      .as[(Int, String, Int, Option[Int], Int, Boolean)].collect().toSeq
    assert(out == Seq(
      (1, "a", 1, Some(3), 1, false),
      (1, "b", 3, Some(5), 2, false),
      (1, "a", 5, None, 3, true),
      (2, "x", 1, None, 1, true)))
  }

  test("TemporalOps.applyChangelog: upsert replaces, delete drops, insert adds") {
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "s", "v")
    val changes = Seq(
      // key 1: two updates — the later (seq 2) must win, with its null
      (1L, 1L, "U", "a1", Some(11.0)),
      (1L, 2L, "U", "a2", None),
      // key 2: update then delete — delete wins
      (2L, 1L, "U", "b1", Some(21.0)),
      (2L, 2L, "D", "xx", Some(0.0)),
      // key 4: insert (not in base), delete-then-insert order respected
      (4L, 1L, "D", "xx", Some(0.0)),
      (4L, 2L, "U", "d", Some(40.0)))
      .toDF("k", "seq", "op", "s", "v")
    val out = TemporalOps.applyChangelog(base, changes, Seq("k"),
        Seq(col("seq").desc), "op", Seq("s", "v"))
      .orderBy("k")
      .as[(Long, String, Option[Double])].collect().toSeq
    assert(out == Seq(
      (1L, "a2", None),      // last update wins, explicit null kept
      (3L, "c", Some(30.0)), // untouched base row passes through
      (4L, "d", Some(40.0))))// insert lane
  }

  test("TemporalOps.diffSnapshots classifies rows and names changed columns") {
    val old = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0),
      (4L, null.asInstanceOf[String], 4.0))
      .toDF("k", "s", "v")
    val neu = Seq((1L, "a", 1.0),      // unchanged
      (2L, "B", 2.5),                  // both columns changed
      (4L, "now-set", 4.0),            // null -> value counts as a change
      (5L, "new", 5.0))                // added; key 3 removed
      .toDF("k", "s", "v")
    val out = TemporalOps.diffSnapshots(old, neu, Seq("k"), Seq("s", "v"))
      .orderBy("k")
      .as[(Long, String, Option[String], Long)].collect().toSeq
    assert(out == Seq(
      (1L, "unchanged", Some(""), 0L),
      (2L, "changed", Some("s,v"), 2L),
      (3L, "removed", None, 0L),
      (4L, "changed", Some("s"), 1L),
      (5L, "added", None, 0L)))
  }

  test("TemporalOps.snapshotAt returns the rows valid at the instant") {
    val df = Seq((1, 1, "a"), (1, 3, "b"), (1, 5, "a"), (2, 2, "x"))
      .toDF("k", "seq", "state")
    val hist = TemporalOps.scd2Intervals(df, Seq("k"), Seq(col("seq")),
      "seq", Seq("state"))
    def at(t: Int) = TemporalOps.snapshotAt(hist, lit(t))
      .select("k", "state").as[(Int, String)].collect().toSet
    assert(at(1) == Set((1, "a")))          // before key 2 exists
    assert(at(4) == Set((1, "b"), (2, "x")))
    assert(at(9) == Set((1, "a"), (2, "x"))) // open intervals = current
  }

  test("TemporalOps.dateMerge joins at year grain") {
    val fine = Seq((1, java.sql.Timestamp.valueOf("2020-05-01 00:00:00"), 10.0))
      .toDF("k", "d", "v")
    val coarse = Seq((1, java.sql.Timestamp.valueOf("2020-01-01 00:00:00"), 99.0))
      .toDF("k", "yd", "annual")
    val out = TemporalOps.dateMerge(fine, coarse, Seq("k"), "d", "yd", "year")
    assert(out.select("annual").as[Double].head() == 99.0)
  }

  test("Allocation.scaleByOwnership conserves totals and defaults to 1.0") {
    val data = Seq((1, 100.0), (2, 50.0)).toDF("k", "v")
    val own = Seq((1, "o1", 0.25), (1, "o2", 0.75)).toDF("k", "owner", "frac")
    val out = Allocation.scaleByOwnership(data, own, Seq("k"), "frac", Seq("v"))
    val owned = out.where($"ownership_record_type" === "owned")
    assert(owned.agg(sum($"v")).head().getDouble(0) == 150.0) // 25+75+50
    assert(owned.where($"k" === 2).head().getDouble(1) == 50.0) // frac defaulted
  }

  test("Allocation.allocateProportionally conserves and splits equally on zero weights") {
    val totals = Seq((1, 100.0), (2, 60.0)).toDF("k", "total")
    val detail = Seq((1, "a", 1.0), (1, "b", 3.0), (2, "c", 0.0), (2, "d", 0.0))
      .toDF("k", "unit", "w")
    val out = Allocation.allocateProportionally(totals, detail, Seq("k"),
      "total", "w", "alloc")
    val m = out.collect().map(r => r.getString(1) -> r.getDouble(3)).toMap
    assert(m("a") == 25.0 && m("b") == 75.0 && m("c") == 30.0 && m("d") == 30.0)
  }

  test("PageRank: hand-computed star graph, integer-exact, partition-stable") {
    // undirected star 0—{1,2,3}: deg(0)=3, deg(leaf)=1
    val pairs = Seq((0L, 1L), (0L, 2L), (0L, 3L))
    val edges = (pairs ++ pairs.map(_.swap)).toDF("src", "dst")
    def ranks(iters: Int, parts: Int) =
      graft.graph.PageRank.run(edges.repartition(parts), iters)
        .orderBy("node").as[(Long, Long)].collect().toSeq
    // iter 1: r(0) = 150000 + 85·(3·1000000 div 1) div 100 = 2700000
    //         r(leaf) = 150000 + 85·(1000000 div 3) div 100 = 433333
    assert(ranks(1, 2) == Seq((0L, 2700000L), (1L, 433333L),
      (2L, 433333L), (3L, 433333L)))
    // iter 2: r(0) = 150000 + 85·(3·433333) div 100 = 1254999
    //         r(leaf) = 150000 + 85·(2700000 div 3) div 100 = 915000
    assert(ranks(2, 2) == Seq((0L, 1254999L), (1L, 915000L),
      (2L, 915000L), (3L, 915000L)))
    // exact integer arithmetic: any partitioning, same bits
    assert(ranks(2, 7) == ranks(2, 2))
  }

  test("PageRank: long chains checkpoint in-loop, bounded plan, cadence-invariant") {
    // ring of 6 nodes, both directions — rank converges to uniform, so a
    // deep run exercises lineage truncation without numeric surprises
    val ring = (0L to 5L).map(i => (i, (i + 1) % 6))
    val edges = (ring ++ ring.map(_.swap)).toDF("src", "dst")
    def run(iters: Int, every: Int) =
      graft.graph.PageRank.run(edges, iters, checkpointEvery = every)
    // 25 iterations with the default cadence: the returned frame's
    // analyzed plan covers only the rounds SINCE the last checkpoint
    // (≤ checkpointEvery), so it must match the 15-iter plan (same 5
    // post-checkpoint rounds) and be far smaller than the never-
    // checkpointed 25-round stack (before the fix every run was the
    // latter, growing without bound in iters)
    val deep = run(25, 10)
    val planLen = deep.queryExecution.analyzed.toString.length
    val sameTail = run(15, 10).queryExecution.analyzed.toString.length
    val unchecked = run(25, 100).queryExecution.analyzed.toString.length
    assert(planLen <= sameTail * 12 / 10 && planLen * 3 < unchecked,
      s"plan not truncated: $planLen vs $sameTail (same tail) / $unchecked (none)")
    // checkpoint cadence must not change a single bit of the result
    val a = deep.orderBy("node").as[(Long, Long)].collect().toSeq
    val b = run(25, 3).orderBy("node").as[(Long, Long)].collect().toSeq
    val c = run(25, 100).orderBy("node").as[(Long, Long)].collect().toSeq
    assert(a == b && a == c)
    // uniform ring: every node converges to full scale
    assert(a.forall(_._2 == 999999L) || a.forall(_._2 == 1000000L),
      s"ring should be uniform, got $a")
  }

  test("ConnectedComponents: distributed loop equals driver union-find") {
    import org.apache.spark.sql.functions.col
    // chain + triangle + isolated edge across several components
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L), (5L, 4L), (6L, 5L)).toDF("src", "dst")
    val local = graph.ConnectedComponents.run(edges, "src", "dst")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // threshold 0 forces the distributed (star-contraction) path
    val dist = graph.ConnectedComponents.run(edges, "src", "dst",
        localEdgeThreshold = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(local == dist)
    assert(local(6L) == 1L && local(12L) == 10L && local(21L) == 20L)
  }

  test("ConnectedComponents.runStars equals union-find on random graphs") {
    import org.apache.spark.sql.functions.col
    // random sparse graphs across densities and a worst-case path graph
    // (long diameter — the shape star contraction exists for)
    for (seed <- Seq(1, 2, 3)) {
      val rnd = new scala.util.Random(seed)
      val edges = Seq.fill(150)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
        .toDF("src", "dst")
      val expect = graph.ConnectedComponents.run(edges, "src", "dst")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val stars = graph.ConnectedComponents.runStars(edges, "src", "dst")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(stars == expect, s"seed=$seed")
    }
    val chain = (0L until 40L).map(i => (i, i + 1)).toDF("src", "dst")
    val chainLabels = graph.ConnectedComponents.runStars(chain, "src", "dst")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(chainLabels.size == 41 && chainLabels.values.forall(_ == 0L))
    // self-loop-only vertex stays its own component
    val loops = Seq((7L, 7L), (1L, 2L)).toDF("src", "dst")
    val loopLabels = graph.ConnectedComponents.runStars(loops, "src", "dst")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(loopLabels == Map(7L -> 7L, 1L -> 1L, 2L -> 1L))
  }

  test("ConnectedComponents.runStars throws when maxIter runs out") {
    // a 2,000-node path needs O(log n) star rounds; one iteration cannot
    // reach the fixed point, and labels that may split a component must
    // not be returned as exact identity
    val path = (0L until 1999L).map(i => (i, i + 1)).toDF("src", "dst")
    val e = intercept[IllegalStateException](
      graph.ConnectedComponents.runStars(path, "src", "dst", maxIter = 1))
    assert(e.getMessage.contains("maxIter=1 exhausted"), e.getMessage)
    // run() honors maxIter on its distributed path the same way
    intercept[IllegalStateException](graph.ConnectedComponents.run(
      path, "src", "dst", maxIter = 1, localEdgeThreshold = 0L))
  }

  test("TemporalOps.asofJoin: backward match, equal-ts inclusion, tolerance") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val left = Seq(
      (1L, ts("2026-01-01 10:00:00"), "a"),
      (1L, ts("2026-01-01 12:00:00"), "b"),
      (1L, ts("2026-01-01 09:00:00"), "c"), // before any right row
      (2L, ts("2026-01-01 10:30:00"), "d")
    ).toDF("k", "ts", "tag")
    val right = Seq(
      (1L, ts("2026-01-01 10:00:00"), 100.0), // equal ts -> matches "a"
      (1L, ts("2026-01-01 11:00:00"), 200.0),
      (2L, ts("2026-01-01 01:00:00"), 300.0)
    ).toDF("k", "rts", "v")
    val out = operators.TemporalOps.asofJoin(left, right, Seq("k"), "ts", "rts")
      .collect().map(r => r.getAs[String]("tag") ->
        Option(r.getAs[Any]("v"))).toMap
    assert(out("a").contains(100.0)) // equal timestamps match
    assert(out("b").contains(200.0)) // latest at-or-before wins
    assert(out("c").isEmpty)         // nothing before -> null
    assert(out("d").contains(300.0))
    // tolerance: 2's only match is 9.5h old -> nulled at 1h tolerance
    val tol = operators.TemporalOps.asofJoin(left, right, Seq("k"), "ts", "rts",
        toleranceSeconds = Some(3600L))
      .collect().map(r => r.getAs[String]("tag") ->
        Option(r.getAs[Any]("v"))).toMap
    assert(tol("b").contains(200.0) && tol("d").isEmpty)
  }

  test("TemporalOps.intervalJoin equals the brute-force range join") {
    def ts(h: Int) = new java.sql.Timestamp(h * 3600L * 1000)
    val rnd = new scala.util.Random(7)
    val points = Seq.tabulate(120)(i => (i.toLong, rnd.nextInt(4).toLong,
      ts(rnd.nextInt(300)))).toDF("pid", "k", "t")
    val ivs = Seq.tabulate(40) { i =>
      val s = rnd.nextInt(280)
      (1000L + i, rnd.nextInt(4).toLong, ts(s), ts(s + 1 + rnd.nextInt(50)))
    }.toDF("iid", "k", "s", "e")
    // bucket deliberately NOT aligned to interval lengths
    val got = operators.TemporalOps.intervalJoin(points, ivs, Seq("k"),
        "t", "s", "e", bucketSeconds = 7200L)
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = points.join(ivs, Seq("k"))
      .where($"t".between($"s", $"e"))
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want && want.nonEmpty)
    // degenerate interval (end < start): BETWEEN-nothing, not a crash
    val bad = Seq((9000L, 1L, ts(100), ts(50))).toDF("iid", "k", "s", "e")
    assert(operators.TemporalOps.intervalJoin(points, bad, Seq("k"),
      "t", "s", "e", bucketSeconds = 7200L).count() == 0L)
  }

  test("Harvest.harvestEntityTables unions tables, rounds, applies strictness") {
    val a = Seq((1, "x", 10.2), (2, "p", 7.0)).toDF("k", "seg", "bal")
    val b = Seq((1, "x", 11.0), (1, "y", 9.0), (2, "q", 7.3), (2, "q", 7.4))
      .toDF("k", "seg", "bal")
    val out = Harvest.harvestEntityTables(Seq(a, b), Seq("k"),
      attrs = Seq("seg", "bal"),
      strictness = Map("seg" -> 0.6, "bal" -> 0.6),
      roundScale = Map("bal" -> 0)).orderBy("k").collect()
    // k=1: seg x 2/3 > 0.6 -> "x"; bal rounds to (10, 11, 9) -> no majority
    assert(out(0).getString(1) == "x" && out(0).isNullAt(3))
    // k=2: seg q 2/3 kept; bal rounds to (7, 7, 7) -> 7.0 kept
    assert(out(1).getString(1) == "q" && out(1).getDouble(3) == 7.0)
  }

  test("Harvest lastReported rescue: failed vote takes last value, rate 1.0") {
    // reference `_last_operating_date` (eia.py:253-328): entities whose
    // modal vote fails fall back to the LAST reported non-null value
    def d(s: String) = java.sql.Date.valueOf(s)
    val t1 = Seq(
      (1, Some("2001"), d("2001-01-01")), // k=1: 2/2 consistent -> modal
      (1, Some("2001"), d("2002-01-01")),
      (2, Some("1999"), d("1999-01-01")), // k=2: 1/3 each -> rescued
      (2, Some("2005"), d("2005-01-01")), //   last by date = 2005
      (2, Some("2003"), d("2003-01-01")),
      (3, None: Option[String], d("2000-01-01")) // k=3: all null -> null
    ).toDF("k", "yr", "dt")
    val out = Harvest.harvestEntityTables(Seq(t1), Seq("k"),
        attrs = Seq("yr"), lastReported = Map("yr" -> "dt"))
      .orderBy("k").collect()
    assert(out(0).getString(1) == "2001" && out(0).getDouble(2) == 1.0)
    assert(out(1).getString(1) == "2005" && out(1).getDouble(2) == 1.0)
    // all-null entity: no modal row, no last row -> absent from output
    // (occurrenceConsistency drops all-null groups, as in q88)
    assert(out.length == 2)
    // without the rescue the failed vote stays null
    val plain = Harvest.harvestEntityTables(Seq(t1), Seq("k"),
      attrs = Seq("yr")).orderBy("k").collect()
    assert(plain(1).isNullAt(1) && plain(1).getDouble(2) < 0.7)
  }

  test("Harvest.occurrenceConsistency keeps modal value above strictness") {
    val df = Seq((1, "x"), (1, "x"), (1, "x"), (1, "y"), (2, "p"), (2, "q"))
      .toDF("k", "v")
    val out = Harvest.occurrenceConsistency(df, Seq("k"), "v", 0.7)
      .orderBy("k").collect()
    assert(out(0).getString(1) == "x") // 3/4 = 0.75 > 0.7
    assert(out(1).isNullAt(1)) // 1/2 = 0.5 <= 0.7
  }

  test("WindowOps.funnel: chain order, window expiry, tied-ts no-chain") {
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val ev = Seq(
      // user 1: full funnel in order
      (1L, ts(1), "A"), (1L, ts(2), "B"), (1L, ts(3), "C"),
      // user 2: C before B -> stops after A, B (C never strictly after B)
      (2L, ts(1), "A"), (2L, ts(3), "B"), (2L, ts(2), "C"),
      // user 3: B outside the 3-minute window of A
      (3L, ts(1), "A"), (3L, ts(10), "B"), (3L, ts(11), "C"),
      // user 4: B tied with A must NOT chain (strict >)
      (4L, ts(1), "A"), (4L, ts(1), "B"),
      // user 5: never starts
      (5L, ts(2), "B"), (5L, ts(3), "C"))
      .toDF("user_id", "ts", "event_type")
    val out = operators.WindowOps.funnel(ev, "user_id", "ts", "event_type",
        Seq("A", "B", "C"), within = "3 minutes")
      .orderBy("user_id")
      .select("user_id", "steps_completed")
      .as[(Long, Long)].collect().toSeq
    assert(out == Seq((1L, 3L), (2L, 2L), (3L, 1L), (4L, 1L), (5L, 0L)))
    // greedy-earliest: user 1's step timestamps are the minima
    val r1 = operators.WindowOps.funnel(ev, "user_id", "ts", "event_type",
        Seq("A", "B", "C"), within = "3 minutes")
      .where(col("user_id") === 1L).collect()(0)
    assert(r1.getTimestamp(1) == ts(1) && r1.getTimestamp(2) == ts(2) &&
      r1.getTimestamp(3) == ts(3))
  }

  test("WindowOps.runLengths encodes runs with null-safe boundaries") {
    val df = Seq((1, 1, true), (1, 2, true), (1, 3, false), (1, 4, true))
      .toDF("k", "seq", "f")
    val out = WindowOps.runLengths(df, Seq("k"), Seq(col("seq")), col("f"), "seq")
      .orderBy("run_id").collect()
    assert(out.map(_.getLong(3)).toSeq == Seq(2L, 1L, 1L))
  }

  test("WindowOps.rollingMedian interpolates even frames") {
    val df = Seq((1, 1, 1.0), (1, 2, 3.0)).toDF("k", "seq", "v")
    val out = WindowOps.rollingMedian(df, Seq("k"), Seq(col("seq")), col("v"), 1, 0)
      .orderBy("seq").collect()
    assert(out(0).getDouble(3) == 1.0 && out(1).getDouble(3) == 2.0)
  }

  test("oobToNanWithDependents nulls the anchor AND derived columns together") {
    import graft.functions.Cleaning
    val df = Seq((1L, 50.0, 5.0, "a"), (2L, 9999.0, 3.0, "b"))
      .toDF("id", "mw", "capacity_factor", "note")
    val out = Cleaning.oobToNanWithDependents(df, "mw", 0, 1000,
        dependents = Seq("capacity_factor"))
      .orderBy("id").collect()
    assert(out(0).getDouble(1) == 50.0 && out(0).getDouble(2) == 5.0)
    assert(out(1).isNullAt(1) && out(1).isNullAt(2))
    assert(out(1).getString(3) == "b") // untouched column survives
  }

  test("simplifyColumns snake_cases names and rejects collisions") {
    import graft.functions.Cleaning
    val df = Seq((1, 2, 3)).toDF("Plant Name ", "MW (net)", "ok_col")
    assert(Cleaning.simplifyColumns(df).columns.toSeq ==
      Seq("plant_name", "mw_net", "ok_col"))
    val clash = Seq((1, 2)).toDF("a b", "a_b")
    intercept[IllegalArgumentException](Cleaning.simplifyColumns(clash))
  }

  test("Binning.equalWidthBins replays pandas.cut per group, hand-checked") {
    import spark.implicits._
    // group g: values 0..10, lo=0 hi=10 width=1 pad=0.01
    //   0 -> bin 1 (-0.01, 1]; 3 on the edge -> bin 3 (2, 3] (right-closed,
    //   the round-9-before-ceil rule); 10 -> bin 10 (9, 10]
    // group h: single distinct value -> ineligible, dropped
    // group k: null value row dropped, others binned over k's own range
    val df = Seq(
      ("g", 1L, Some(0.0)), ("g", 2L, Some(3.0)), ("g", 3L, Some(7.5)),
      ("g", 4L, Some(10.0)),
      ("h", 5L, Some(4.0)), ("h", 6L, Some(4.0)),
      ("k", 7L, Some(2.0)), ("k", 8L, Some(4.0)), ("k", 9L, None))
      .toDF("grp", "id", "value")
    val out = Binning.equalWidthBins(df, "grp", "value", nBins = 10)
      .select(col("grp"), col("id"), col("bin_idx"),
        round(col("bin_lower"), 6).as("lo"),
        round(col("bin_upper"), 6).as("hi"), col("bin_rank"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getInt(5))).toSet
    assert(out === Set(
      ("g", 1L, 1L, -0.01, 1.0, 1),
      ("g", 2L, 3L, 2.0, 3.0, 2),
      ("g", 3L, 8L, 7.0, 8.0, 3),
      ("g", 4L, 10L, 9.0, 10.0, 4),
      // k: lo=2 hi=4 width=0.2 pad=0.002; 2 -> bin 1 (1.998, 2.2];
      // 4 -> bin 10 (3.8, 4]
      ("k", 7L, 1L, 1.998, 2.2, 1),
      ("k", 8L, 10L, 3.8, 4.0, 2)))
  }

  test("Binning.minStableBin: lowest above-off bin with a long-enough run") {
    import spark.implicits._
    // lo=0 hi=9 width=0.9; bins: 0->1, 5->6, 9->10, 2->3, 7->8
    // runs in order: [1,1] [6,6,6] [10] [3,3] [10,10] [1] [8]
    // rank>1 runs of >=2: bin6 (rank 3), bin3 (rank 2), bin10 (rank 5)
    // -> lowest rank is bin 3: rank 2, lower = 1.8
    val vals = Seq(0.0, 0.0, 5.0, 5.0, 5.0, 9.0, 2.0, 2.0, 9.0, 9.0, 0.0, 7.0)
    val df = vals.zipWithIndex.map { case (v, i) => ("u", i.toLong, v) }
      .toDF("grp", "ord", "value")
    val out = Binning.minStableBin(df, "grp", Seq(col("ord")), "value",
        nBins = 10, minRun = 2)
      .select(col("grp"), col("min_stable_bin_rank"),
        col("min_stable_bin_idx"),
        round(col("min_stable_load_factor"), 6))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        r.getDouble(3)))
    assert(out.toSeq === Seq(("u", 2, 3L, 1.8)))
    // raising the bar past every run drops the group entirely
    assert(Binning.minStableBin(df, "grp", Seq(col("ord")), "value",
      nBins = 10, minRun = 4).count() === 0)
  }
}
