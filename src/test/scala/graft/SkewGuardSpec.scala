package graft

import org.apache.spark.sql.functions._
import graft.linkage.Linkage

/** The skew guard for blocked pair joins (Linkage.saltBySize /
  * skewGuardedJoin, a tile decomposition of each hot block's L×R pair
  * matrix): a planted degenerate block key must (a) produce bit-identical
  * pairs to the unguarded equi-join and (b) leave no shuffle group
  * holding more than ~`maxBlock` rows of either side — the quadratic
  * hot-partition hazard of the phonetic block lanes
  * (q165/q174/q168/q170, linkage capstone). */
class SkewGuardSpec extends SparkSpec {
  import spark.implicits._

  // planted hot key: block "aaa" holds 400 of 460 left rows; right side
  // has 60 rows in "aaa" plus a sprinkle elsewhere
  private def hotLeft = (1 to 460).map { i =>
    (i.toLong, if (i <= 400) "aaa" else s"b${i % 6}", s"lname$i")
  }.toDF("l_id", "blk", "l_name")
  private def hotRight = (1 to 90).map { i =>
    (i.toLong, if (i <= 60) "aaa" else s"b${i % 6}", s"rname$i")
  }.toDF("r_id", "rblk", "r_name")

  test("skewGuardedJoin equals the plain equi-join on a planted hot key") {
    val plain = hotLeft.join(hotRight, col("blk") === col("rblk"))
      .select("l_id", "r_id")
    val guarded = Linkage.skewGuardedJoin(hotLeft, hotRight,
        Seq(col("blk")), Seq(col("rblk")), maxBlock = 50)
      .select("l_id", "r_id")
    assert(guarded.count() === plain.count())
    assert(guarded.exceptAll(plain).count() === 0)
    assert(plain.exceptAll(guarded).count() === 0)
  }

  test("saltBySize bounds every salted left group at maxBlock rows") {
    val (l, _, keys) = Linkage.saltBySize(hotLeft, hotRight,
      Seq(col("blk")), Seq(col("rblk")), maxBlock = 50)
    val maxGroup = l.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .agg(max(col("n"))).head.getLong(0)
    // 400-row hot block over ceil(400/50)=8 salts: expected ~50/group;
    // the hash split is uneven, so assert the working bound (2x cap),
    // and that the hot key actually fanned out
    assert(maxGroup <= 100, s"hot block not split: max group $maxGroup")
    val hotSalts = l.where(col(keys.head) === "aaa")
      .select(col("__sl")).distinct().count()
    assert(hotSalts === 8L, s"expected 8 salts for the hot block, got $hotSalts")
  }

  test("saltBySize leaves small blocks unsalted (salt 0, no replication)") {
    val (l, r, keys) = Linkage.saltBySize(hotLeft, hotRight,
      Seq(col("blk")), Seq(col("rblk")), maxBlock = 50)
    assert(l.where(col(keys.head) =!= "aaa" && col("__sl") =!= 0)
      .count() === 0)
    // right rows of cold blocks appear exactly once
    val coldRight = r.where(col(keys.head) =!= "aaa")
      .groupBy(col("r_id")).agg(count(lit(1)).as("n"))
      .where(col("n") =!= 1).count()
    assert(coldRight === 0)
    // right rows of the hot block are replicated to all 8 salts
    val hotRepl = r.where(col(keys.head) === "aaa")
      .groupBy(col("r_id")).agg(count(lit(1)).as("n"))
      .where(col("n") =!= 8).count()
    assert(hotRepl === 0)
  }

  test("guard is deterministic: same salts on re-evaluation") {
    val (l, _, _) = Linkage.saltBySize(hotLeft, hotRight,
      Seq(col("blk")), Seq(col("rblk")), maxBlock = 50)
    val a = l.select(col("l_id"), col("__sl")).collect().toSet
    val b = l.select(col("l_id"), col("__sl")).collect().toSet
    assert(a === b)
  }

  test("blockedFuzzyJoinJw with maxBlock on matches maxBlock off") {
    val left = (1 to 300).map(i =>
      (i.toLong, "k1", s"acme corp $i")).toDF("l_id", "bk", "l_nm")
    val right = (1 to 40).map(i =>
      (i.toLong, "k1", s"acme corp ${i * 3}")).toDF("r_id", "bk2", "r_nm")
      .withColumnRenamed("bk2", "bk")
    val off = Linkage.blockedFuzzyJoinJw(left, right, Seq("bk"),
      "l_nm", "r_nm", minSim = 0.85)
    val on = Linkage.blockedFuzzyJoinJw(left, right, Seq("bk"),
      "l_nm", "r_nm", minSim = 0.85, maxBlock = 32)
    val cols = off.columns.sorted.map(col).toSeq
    assert(on.columns.sorted === off.columns.sorted)
    assert(on.select(cols: _*).exceptAll(off.select(cols: _*)).count() === 0)
    assert(off.select(cols: _*).exceptAll(on.select(cols: _*)).count() === 0)
  }

  test("multi-key guard: composite (nation, prefix) block equality") {
    val left = (1 to 200).map { i =>
      (i.toLong, i % 3, if (i % 2 == 0) "sm" else "jn", s"n$i")
    }.toDF("l_id", "l_nat", "l_pre", "l_nm")
    val right = (1 to 80).map { i =>
      (i.toLong, i % 3, if (i % 5 == 0) "sm" else "jn", s"m$i")
    }.toDF("r_id", "r_nat", "r_pre", "r_nm")
    val plain = left.join(right,
        col("l_nat") === col("r_nat") && col("l_pre") === col("r_pre"))
      .select("l_id", "r_id")
    val guarded = Linkage.skewGuardedJoin(left, right,
        Seq(col("l_nat"), col("l_pre")), Seq(col("r_nat"), col("r_pre")),
        maxBlock = 10)
      .select("l_id", "r_id")
    assert(guarded.exceptAll(plain).count() === 0)
    assert(plain.exceptAll(guarded).count() === 0)
  }

  // ---- big-joins-big: a key degenerate on BOTH sides ---------------------

  // both sides degenerate on "aaa": 300 left x 200 right = 60k pairs in
  // one key; plus cold keys on each side
  private def bigLeft = (1 to 360).map { i =>
    (i.toLong, if (i <= 300) "aaa" else s"b${i % 6}", s"lv$i")
  }.toDF("l_id", "blk", "l_v")
  private def bigRight = (1 to 240).map { i =>
    (i.toLong, if (i <= 200) "aaa" else s"b${i % 6}", s"rv$i")
  }.toDF("r_id", "rblk", "r_v")

  test("skewGuardedJoin2D equals the plain equi-join on a both-sides hot key") {
    val plain = bigLeft.join(bigRight, col("blk") === col("rblk"))
      .select("l_id", "r_id")
    val guarded = Linkage.skewGuardedJoin(bigLeft, bigRight,
        Seq(col("blk")), Seq(col("rblk")), maxBlock = 50)
      .select("l_id", "r_id")
    assert(guarded.count() === plain.count()) // exactly-once per pair
    assert(guarded.exceptAll(plain).count() === 0)
    assert(plain.exceptAll(guarded).count() === 0)
  }

  test("saltBySize2D bounds BOTH sides' tile occupancy") {
    val (l, r, keys) = Linkage.saltBySize(bigLeft, bigRight,
      Seq(col("blk")), Seq(col("rblk")), maxBlock = 50)
    // per (key, sl, sr) tile: left rows ~<= maxBlock (2x slack for hash
    // unevenness), right rows likewise — THE property a one-sided salt
    // can't give when the right side is also degenerate
    val lMax = l.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"))
      .agg(max(col("n"))).head.getLong(0)
    val rMax = r.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"))
      .agg(max(col("n"))).head.getLong(0)
    assert(lMax <= 100, s"left tile too big: $lMax")
    assert(rMax <= 100, s"right tile too big: $rMax")
    // hot block grid: ceil(300/50)=6 row-salts x ceil(200/50)=4 col-salts
    val grid = l.where(col(keys.head) === "aaa")
      .select(col("__sl"), col("__sr")).distinct().count()
    assert(grid === 24L, s"expected 6x4 tile grid, got $grid")
  }

  test("saltBySize2D leaves cold keys on the (0,0) tile, no replication") {
    val (l, r, keys) = Linkage.saltBySize(bigLeft, bigRight,
      Seq(col("blk")), Seq(col("rblk")), maxBlock = 50)
    assert(l.where(col(keys.head) =!= "aaa" &&
      (col("__sl") =!= 0 || col("__sr") =!= 0)).count() === 0)
    val coldOnce = r.where(col(keys.head) =!= "aaa")
      .groupBy(col("r_id")).agg(count(lit(1)).as("n"))
      .where(col("n") =!= 1).count()
    assert(coldOnce === 0)
    // hot-key left rows replicate across the 4 column-salts exactly
    val lRepl = l.where(col(keys.head) === "aaa")
      .groupBy(col("l_id")).agg(count(lit(1)).as("n"))
      .where(col("n") =!= 4).count()
    assert(lRepl === 0)
  }

  test("2D guard: one-side-hot and null keys degrade to the 1-D behavior") {
    // hotLeft/hotRight: only the LEFT side of "aaa" is big
    val plain = hotLeft.join(hotRight, col("blk") === col("rblk"))
      .select("l_id", "r_id")
    val guarded = Linkage.skewGuardedJoin(hotLeft, hotRight,
        Seq(col("blk")), Seq(col("rblk")), maxBlock = 50)
      .select("l_id", "r_id")
    assert(guarded.exceptAll(plain).count() === 0)
    assert(plain.exceptAll(guarded).count() === 0)
    val left = Seq((1L, Some("aaa")), (2L, None), (3L, Some("bbb")))
      .toDF("l_id", "blk")
    val right = Seq((10L, Some("aaa")), (11L, None))
      .toDF("r_id", "rblk")
    val p2 = left.join(right, col("blk") === col("rblk"))
      .select("l_id", "r_id")
    val g2 = Linkage.skewGuardedJoin(left, right,
        Seq(col("blk")), Seq(col("rblk")), maxBlock = 1)
      .select("l_id", "r_id")
    assert(g2.collect().toSet === p2.collect().toSet)
  }

  test("guard never salts or replicates null-key rows (they never join)") {
    // a mostly-null key: null rows never match the null-unsafe equi-join,
    // so the guard drops them before sizing instead of sizing them as one
    // giant block and carrying them through the salted join
    val nl = (1 to 300).map(i =>
      (i.toLong, if (i <= 290) None else Some(s"k${i % 3}")))
      .toDF("l_id", "blk")
    val nr = (1 to 300).map(i =>
      (i.toLong, if (i <= 290) None else Some(s"k${i % 3}")))
      .toDF("r_id", "rblk")
    val (l, r, keys) = Linkage.saltBySize(nl, nr,
      Seq(col("blk")), Seq(col("rblk")), maxBlock = 50)
    assert(l.where(col(keys.head).isNull).count() === 0)
    assert(r.where(col(keys.head).isNull).count() === 0)
    // the 10 non-null rows per side (4/3/3 over k0/k1/k2) are cold: one
    // copy each, on the (0,0) tile
    assert(l.count() === 10 && r.count() === 10)
    assert(l.where(col("__sl") =!= 0 || col("__sr") =!= 0).count() === 0)
    assert(r.where(col("__sl") =!= 0 || col("__sr") =!= 0).count() === 0)
    val plain = nl.join(nr, col("blk") === col("rblk"))
      .select("l_id", "r_id").collect().toSet
    val guarded = Linkage.skewGuardedJoin(nl, nr,
        Seq(col("blk")), Seq(col("rblk")), maxBlock = 50)
      .select("l_id", "r_id").collect().toSet
    assert(guarded === plain)
  }

  test("unionBlocks with a 2-D-routed rule equals the unguarded union") {
    val rules = Seq((Seq(col("blk")), Seq(col("rblk"))))
    val plain = Linkage.unionBlocks(bigLeft, bigRight, "l_id", "r_id",
      rules).select("l_id", "r_id", "match_key", "n_rules")
    val routed = Linkage.unionBlocks(bigLeft, bigRight, "l_id", "r_id",
        rules, maxBlock = 50)
      .select("l_id", "r_id", "match_key", "n_rules")
    assert(routed.exceptAll(plain).count() === 0)
    assert(plain.exceptAll(routed).count() === 0)
  }

  // ---- unionBlocks: splink's blocking_rules_to_generate_predictions ----
  // (reference eia_ferc1_model_config.py:12-33 ORs 10 rules; splink keeps
  // each pair once, labeled with the first rule that matched)

  private def ubLeft = Seq(
    (1L, 10, "aa", "x"), (2L, 10, "aa", "y"), (3L, 20, "bb", "x"),
    (4L, 20, "cc", "z")).toDF("l_id", "l_nat", "l_blk", "l_ftc")
  private def ubRight = Seq(
    (100L, 10, "aa", "x"), (101L, 10, "aa", "q"), (102L, 20, "bb", "z"),
    (103L, 30, "cc", "z")).toDF("r_id", "r_nat", "r_blk", "r_ftc")

  test("unionBlocks dedups cross-rule pairs: first rule wins match_key") {
    // rule 0: (nat, blk); rule 1: (nat, ftc)
    val out = Linkage.unionBlocks(ubLeft, ubRight, "l_id", "r_id", Seq(
      (Seq(col("l_nat"), col("l_blk")), Seq(col("r_nat"), col("r_blk"))),
      (Seq(col("l_nat"), col("l_ftc")), Seq(col("r_nat"), col("r_ftc")))))
      .select("l_id", "r_id", "match_key", "n_rules")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getInt(2), r.getLong(3))).toSet
    // (1,100): both rules -> once, match_key 0, n_rules 2
    // (1,101)/(2,100)/(2,101): rule 0 only; (3,102): rule 0 only
    // (4,102): rule 1 only (nat 20, ftc z) -> match_key 1
    assert(out === Set(
      (1L, 100L, 0, 2L), (1L, 101L, 0, 1L), (2L, 100L, 0, 1L),
      (2L, 101L, 0, 1L), (3L, 102L, 0, 1L), (4L, 102L, 1, 1L)))
  }

  test("unionBlocks equals the distinct OR-join pair set") {
    val rules = Seq(
      (Seq(col("l_nat"), col("l_blk")), Seq(col("r_nat"), col("r_blk"))),
      (Seq(col("l_nat"), col("l_ftc")), Seq(col("r_nat"), col("r_ftc"))))
    val or = ubLeft.join(ubRight,
        (col("l_nat") === col("r_nat") && col("l_blk") === col("r_blk")) ||
        (col("l_nat") === col("r_nat") && col("l_ftc") === col("r_ftc")))
      .select("l_id", "r_id").distinct()
    val ub = Linkage.unionBlocks(ubLeft, ubRight, "l_id", "r_id", rules)
      .select("l_id", "r_id")
    assert(ub.count() === or.count())
    assert(ub.exceptAll(or).count() === 0)
  }

  test("unionBlocks with the skew guard on matches guard off") {
    val rules = Seq(
      (Seq(col("l_nat"), col("l_blk")), Seq(col("r_nat"), col("r_blk"))),
      (Seq(col("l_nat"), col("l_ftc")), Seq(col("r_nat"), col("r_ftc"))))
    val off = Linkage.unionBlocks(ubLeft, ubRight, "l_id", "r_id", rules)
      .select("l_id", "r_id", "match_key", "n_rules")
    val on = Linkage.unionBlocks(ubLeft, ubRight, "l_id", "r_id", rules,
        maxBlock = 1)
      .select("l_id", "r_id", "match_key", "n_rules")
    assert(on.collect().toSet === off.collect().toSet)
  }

  test("blockProfile counts candidate pairs without materializing them") {
    val rules = Seq(
      (Seq(col("l_nat"), col("l_blk")), Seq(col("r_nat"), col("r_blk"))),
      (Seq(col("l_nat"), col("l_ftc")), Seq(col("r_nat"), col("r_ftc"))))
    val prof = Linkage.blockProfile(ubLeft, ubRight, rules)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    // rule 0: blocks (10,aa) 2x2=4 and (20,bb) 1x1=1 -> 2 blocks, 5 pairs
    // rule 1: blocks (10,x) 1 and (20,z) 1 -> 2 blocks, 2 pairs
    assert(prof === Set((0, 2L, 5L, 4L), (1, 2L, 2L, 1L)))
    // cross-check against the materialized per-rule joins
    rules.zipWithIndex.foreach { case ((lk, rk), i) =>
      val actual = ubLeft.join(ubRight,
        lk.zip(rk).map { case (a, b) => a === b }.reduce(_ && _)).count()
      val claimed = prof.find(_._1 == i).get._3
      assert(claimed === actual, s"rule $i")
    }
  }

  test("null block keys drop from the guarded join like the plain join") {
    val left = Seq((1L, Some("aaa")), (2L, None), (3L, Some("bbb")))
      .toDF("l_id", "blk")
    val right = Seq((10L, Some("aaa")), (11L, None))
      .toDF("r_id", "rblk")
    val plain = left.join(right, col("blk") === col("rblk"))
      .select("l_id", "r_id")
    val guarded = Linkage.skewGuardedJoin(left, right,
        Seq(col("blk")), Seq(col("rblk")), maxBlock = 1)
      .select("l_id", "r_id")
    assert(guarded.collect().toSet === plain.collect().toSet)
  }

  // ---- misuse fails loudly ---------------------------------------------

  test("blockProfile and hottestBlocks reject a rule the encoding gate fails") {
    // int vs double keys: the typed join coerces 5 = 5.0, the string
    // encoding would compare "5" with "5.0" — the pre-flight must refuse
    // instead of miscounting
    val l = Seq((1L, 5), (2L, 6)).toDF("l_id", "l_k")
    val r = Seq((10L, 5.0), (11L, 7.0)).toDF("r_id", "r_k")
    val rules = Seq((Seq(col("l_id")), Seq(col("r_id"))),
      (Seq(col("l_k")), Seq(col("r_k"))))
    val e1 = intercept[IllegalArgumentException](
      Linkage.blockProfile(l, r, rules))
    assert(e1.getMessage.contains("blocking rule 1"), e1.getMessage)
    assert(e1.getMessage.contains("(int)") &&
      e1.getMessage.contains("(double)"), e1.getMessage)
    // a non-atomic key type fails the gate even when both sides agree
    val la = Seq((1L, Seq("a"))).toDF("l_id", "l_arr")
    val ra = Seq((10L, Seq("a"))).toDF("r_id", "r_arr")
    val e3 = intercept[IllegalArgumentException](Linkage.blockProfile(la, ra,
      Seq((Seq(col("l_arr")), Seq(col("r_arr"))))))
    assert(e3.getMessage.contains("blocking rule 0") &&
      e3.getMessage.contains("array<string>"), e3.getMessage)
    // unionBlocks has no typed per-rule fallback: the same rules fail
    // with the gate's message
    val e2 = intercept[IllegalArgumentException](
      Linkage.unionBlocks(l, r, "l_id", "r_id", rules))
    assert(e2.getMessage.contains("blocking rule 1") &&
      e2.getMessage.contains("(int)") &&
      e2.getMessage.contains("(double)"), e2.getMessage)
  }

  test("unionBlocks rejects shared left/right column names") {
    val l = Seq((1L, "a")).toDF("l_id", "blk")
    val r = Seq((10L, "a")).toDF("r_id", "blk")
    val e = intercept[IllegalArgumentException](Linkage.unionBlocks(
      l, r, "l_id", "r_id", Seq((Seq(l("blk")), Seq(r("blk"))))))
    assert(e.getMessage.contains("disjoint") &&
      e.getMessage.contains("blk"), e.getMessage)
  }

  test("unionBlocks rejects the reserved tag column names") {
    val rules = Seq((Seq(col("l_blk")), Seq(col("r_blk"))))
    val r = Seq((10L, "a")).toDF("r_id", "r_blk")
    for (name <- Seq("__lrule", "__lkey", "__rrule", "__rkey", "__rk")) {
      val l = Seq((1L, "a", 0)).toDF("l_id", "l_blk", name)
      val e = intercept[IllegalArgumentException](
        Linkage.unionBlocks(l, r, "l_id", "r_id", rules))
      assert(e.getMessage.contains("reserves") &&
        e.getMessage.contains(s"got $name"), e.getMessage)
    }
    // the pre-flight profile shares the encoder, so it refuses too
    val l = Seq((1L, "a", 0)).toDF("l_id", "l_blk", "__rk")
    intercept[IllegalArgumentException](Linkage.blockProfile(l, r, rules))
  }

  test("encoded timestamp keys match by instant, not session-zone text") {
    // 2024-11-03 01:30 happens twice in America/New_York (EDT, then EST
    // after the fall-back): two instants an hour apart share one
    // local-time string, so a string-cast key would cross-match them
    val t1 = java.sql.Timestamp.from(java.time.Instant.parse("2024-11-03T05:30:00Z"))
    val t2 = java.sql.Timestamp.from(java.time.Instant.parse("2024-11-03T06:30:00Z"))
    val tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try {
      val l = Seq((1L, t1, "x"), (2L, t2, "y")).toDF("l_id", "l_ts", "l_tag")
      val r = Seq((10L, t1, "p"), (11L, t2, "q")).toDF("r_id", "r_ts", "r_tag")
      val rules = Seq((Seq(col("l_ts")), Seq(col("r_ts"))),
        (Seq(col("l_tag")), Seq(col("r_tag"))))
      val typed = l.join(r, col("l_ts") === col("r_ts"))
        .select("l_id", "r_id").as[(Long, Long)].collect().toSet
      assert(typed === Set((1L, 10L), (2L, 11L)))
      val ub = Linkage.unionBlocks(l, r, "l_id", "r_id", rules)
        .select("l_id", "r_id").as[(Long, Long)].collect().toSet
      assert(ub === typed)
      val prof = Linkage.blockProfile(l, r, rules)
        .where(col("match_key") === 0).head
      assert(prof.getLong(1) === 2L && prof.getLong(2) === 2L, prof)
    } finally spark.conf.set("spark.sql.session.timeZone", tz)
  }
}
