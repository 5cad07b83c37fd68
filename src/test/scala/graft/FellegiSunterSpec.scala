package graft

import org.apache.spark.sql.functions._

import graft.linkage.{Comparison, FellegiSunter => FS}

/** Fellegi–Sunter linkage (`FellegiSunter`, q168): hand-computed level
  * weights, the splink null-level contract, determinism, and the
  * plan-literal scoring shape. */
class FellegiSunterSpec extends SparkSpec {

  import spark.implicits._

  // one comparison, two levels: agree (2) / disagree (1)
  private val agree = Comparison("eq",
    when(col("a") === col("b"), 2).otherwise(1), 2)

  test("trainWeights matches the hand-computed smoothed log2 Bayes factors") {
    // m pairs: 3 agree, 1 disagree; u pairs: 1 agree, 4 disagree
    val m = Seq((1, 1), (2, 2), (3, 3), (4, 5)).toDF("a", "b")
    val u = Seq((1, 1), (1, 2), (2, 3), (3, 4), (5, 9)).toDF("a", "b")
    val w = FS.trainWeights(m, u, Seq(agree)).collect()
      .map(r => r.getInt(1) -> r.getLong(6)).toMap
    def lg2(x: Double) = math.log(x) / math.log(2.0)
    // alpha = 0.5, L = 2: m2 = 3.5/5, u2 = 1.5/6; m1 = 1.5/5, u1 = 4.5/6
    val w2 = math.round(lg2((3 + 0.5) / (4 + 1.0)) * 1e9 -
      lg2((1 + 0.5) / (5 + 1.0)) * 1e9)
    assert(math.abs(w(2) - w2) <= 1, s"agree weight ${w(2)} vs $w2")
    assert(w(2) > 0 && w(1) < 0, "agreement must add evidence, disagreement subtract")
  }

  test("null level: excluded from estimation, contributes weight 0 to scoring") {
    val nullable = Comparison("x",
      when(col("a").isNull || col("b").isNull, lit(null).cast("int"))
        .when(col("a") === col("b"), 2).otherwise(1), 2)
    val m = Seq[(Integer, Integer)]((1, 1), (2, 2), (null, 3))
      .toDF("a", "b")
    val u = Seq[(Integer, Integer)]((1, 2), (3, null), (4, 5))
      .toDF("a", "b")
    val w = FS.trainWeights(m, u, Seq(nullable))
    // totals count only non-null-level pairs: n_m = 2, n_u = 2
    val byLevel = w.collect().map(r =>
      r.getInt(1) -> (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    assert(byLevel(2) == ((2L, 2L, 0L, 2L)))
    assert(byLevel(1) == ((0L, 2L, 2L, 2L)))
    // scoring: a null level adds exactly 0 on top of the prior
    val wm = FS.collectWeights(w)
    val scored = Seq[(Integer, Integer)]((null, 7)).toDF("a", "b")
      .withColumn("wn", FS.matchWeight(Seq(nullable), wm, priorNano = 42L))
    assert(scored.select("wn").head.getLong(0) == 42L)
  }

  test("trainWeights is partition-order independent") {
    val m = Seq((1, 1), (2, 2), (3, 4), (5, 5), (6, 7)).toDF("a", "b")
    val u = Seq((1, 3), (2, 9), (4, 4), (6, 1), (8, 8)).toDF("a", "b")
    val w1 = FS.collectWeights(FS.trainWeights(m, u, Seq(agree)))
    val w2 = FS.collectWeights(
      FS.trainWeights(m.repartition(7), u.repartition(5), Seq(agree)))
    assert(w1 == w2)
  }

  test("bestMatch keeps exactly one row per right id with deterministic tiebreak") {
    val scored = Seq(
      (10, 1, 5L), (10, 2, 9L), (10, 3, 9L), // tie on weight: lowest l wins
      (20, 4, -3L)
    ).toDF("r", "l", "weight_nano")
    val best = FS.bestMatch(scored, "r", "l")
      .collect().map(x => x.getInt(0) -> x.getInt(1)).toMap
    assert(best == Map(10 -> 2, 20 -> 4))
  }

  test("EM with fixed u recovers separation and the match rate, no labels") {
    // 8 "true" pairs agree, 12 junk pairs disagree; u says agreement is
    // rare among random pairs → EM must push m(agree) high and λ toward
    // the true 8/20 rate, starting from uniform m and λ0 = 0.01
    val pairs = (Seq.tabulate(8)(i => (i, i)) ++
      Seq.tabulate(12)(i => (100 + i, 200 + i))).toDF("a", "b")
    val u = (Seq((0, 0)) ++ Seq.tabulate(39)(i => (i, i + 1))).toDF("a", "b")
    val out = FS.emTrainM(pairs, Seq(agree), FS.uLevelCounts(u, Seq(agree)))
      .collect().map(r => r.getInt(1) ->
        (r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    val (mAgree, wAgree, lam) = out(2)
    // add-α smoothing bounds m at (Σp+0.5e6)/(Σp+1e6) ≈ 0.89 for 8 pairs
    assert(mAgree > 850000000L, s"m(agree)=$mAgree should approach 1")
    assert(wAgree > 0L && out(1)._2 < 0L)
    assert(math.abs(lam - 400000L) < 60000L, s"lambda=$lam should near 0.4")
  }

  test("EM is partition-order independent (fixed-point posteriors)") {
    val pairs = (Seq.tabulate(8)(i => (i, i)) ++
      Seq.tabulate(12)(i => (100 + i, 200 + i))).toDF("a", "b")
    val u = (Seq((0, 0)) ++ Seq.tabulate(39)(i => (i, i + 1))).toDF("a", "b")
    val uc = FS.uLevelCounts(u, Seq(agree))
    def run(p: org.apache.spark.sql.DataFrame) =
      FS.emTrainM(p, Seq(agree), uc).collect()
        .map(r => (r.getInt(1), r.getLong(4), r.getLong(5), r.getLong(6)))
        .sortBy(_._1).toSeq
    assert(run(pairs) == run(pairs.repartition(13)))
  }

  test("property: trainWeights equals the brute-force FS arithmetic") {
    // random level assignments across three seeds; driver recomputes the
    // smoothed log2 Bayes factors from raw counts
    for (seed <- Seq(7, 23, 91)) {
      val rng = new scala.util.Random(seed)
      val L = 2 + rng.nextInt(3)
      val comp = Comparison("c", col("lvl"), L)
      def frame(n: Int) = (1 to n)
        .map(_ => if (rng.nextInt(10) == 0) (null: Integer)
                  else Integer.valueOf(1 + rng.nextInt(L)))
        .toDF("lvl")
      val (mDf, uDf) = (frame(40 + rng.nextInt(40)), frame(60 + rng.nextInt(60)))
      val got = FS.collectWeights(FS.trainWeights(mDf, uDf, Seq(comp)))
      def counts(df: org.apache.spark.sql.DataFrame) = {
        val obs = df.collect().flatMap(r => Option(r.get(0))).map(_.toString.toInt)
        ((1 to L).map(l => l -> obs.count(_ == l).toLong).toMap, obs.length.toLong)
      }
      val ((cm, nm), (cu, nu)) = (counts(mDf), counts(uDf))
      for (l <- 1 to L) {
        val exp = math.round((math.log((cm(l) + 0.5) / (nm + 0.5 * L)) -
          math.log((cu(l) + 0.5) / (nu + 0.5 * L))) / math.log(2.0) * 1e9)
        assert(math.abs(got("c" -> l) - exp) <= 1,
          s"seed=$seed L=$L level=$l got=${got("c" -> l)} exp=$exp")
      }
    }
  }

  test("TF adjustments: rare values boost, common values penalize, 0 off-level") {
    // 8 of "x" (common), 2 of "y" (rare); u_exact = 1/3 (c_u=1, n_u=4, L=2)
    val values = (Seq.fill(8)("x") ++ Seq.fill(2)("y")).toDF("value")
    val adj = FS.tfAdjustments(values, col("value"), cU = 1L, nU = 4L,
        nLevels = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def lg2(x: Double) = math.log(x) / math.log(2.0)
    val uEx = (1 + 0.5) / (4 + 0.5 * 2)
    assert(math.abs(adj("x") - math.round(lg2(uEx / 0.8) * 1e9)) <= 1)
    assert(math.abs(adj("y") - math.round(lg2(uEx / 0.2) * 1e9)) <= 1)
    assert(adj("y") > 0 && adj("x") < 0, "rare boosts, common penalizes")
  }

  test("q168 plan: blocking is equi-join only, scoring is literal arithmetic") {
    val df = SparkEntry.queries("q168_fellegi_sunter")(spark, sf)
    df.collect() // resolve AQE
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    // the trained surface is plan literals — no join introduced by scoring
    // beyond the two blocking joins and the union dedup
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("q168 end-to-end: true pairs accepted, weight ladder is sane") {
    val rows = SparkEntry.queries("q168_fellegi_sunter")(spark, sf).collect()
    assert(rows.nonEmpty)
    // best match for a right record is overwhelmingly its own twin
    val self = rows.count(r => r.getLong(0) == r.getLong(1))
    assert(self * 10 >= rows.length * 9, s"$self self-matches of ${rows.length}")
    // accepted ⇒ strictly higher weight than any rejected row
    val acc = rows.filter(_.getBoolean(6)).map(_.getLong(5))
    val rej = rows.filterNot(_.getBoolean(6)).map(_.getLong(5))
    if (acc.nonEmpty && rej.nonEmpty) assert(acc.min > rej.max)
  }

  test("nameComparisonLevel replays splink's NameComparison gamma ladder") {
    import spark.implicits._
    // DuckDB-probed JW values: MARTHA/MARHTA 0.9611 (level 3),
    // DIXON/DICKSONX 0.8133 (2), DWAYNE/DUANE 0.84 (2), abc/xyz 0 (0)
    val pairs = Seq(
      ("acme corp", "acme corp"),        // exact -> 4
      ("MARTHA", "MARHTA"),              // jw .961 -> 3
      ("DIXON", "DICKSONX"),             // jw .813 -> 2
      ("apple", "applf"),                // jw in [.7,.8) band check below
      ("abc", "xyz"),                    // jw 0 -> 0
      (null.asInstanceOf[String], "x"),  // null -> -1
      ("x", null.asInstanceOf[String]))  // null -> -1
      .toDF("l", "r")
    val lv = pairs.select(
      FS.nameComparisonLevel(col("l"), col("r"), Seq(0.9, 0.8, 0.7))
        .as("lvl")).collect().map(_.getInt(0)).toSeq
    // compute the apple/applf band from the pinned algorithm itself
    val jwApple = graft.plans.JaroWinklerAlgo.compute("apple", "applf")
    val expApple =
      if (jwApple >= 0.9) 3 else if (jwApple >= 0.8) 2
      else if (jwApple >= 0.7) 1 else 0
    assert(lv === Seq(4, 3, 2, expApple, 0, -1, -1))
    // descending-threshold precondition is enforced
    intercept[IllegalArgumentException] {
      FS.nameComparisonLevel(col("l"), col("r"), Seq(0.7, 0.9))
    }
  }

  test("comparison names reserved for the sentinel rows are rejected") {
    // collectWeightsAndPrior and emTrainM carry the prior and lambda as
    // rows named "__prior" / "__lam"; a real comparison of that name
    // would be silently misread as one
    for (name <- Seq("__prior", "__lam")) {
      val e = intercept[IllegalArgumentException](
        Comparison(name, when(col("a") === col("b"), 2).otherwise(1), 2))
      assert(e.getMessage.contains(name) &&
        e.getMessage.contains("reserved"), e.getMessage)
    }
  }

  test("percentDifferenceLevel: the 0.1 % and 5 % edges over integer cents") {
    val cases = Seq[(Option[Long], Option[Long], Option[Int])](
      (None, Some(100L), None), // either side null: the null level
      (Some(100L), None, None),
      (None, None, None),
      (Some(100000L), Some(99900L), Some(3)), // exactly 0.1 %
      (Some(100000L), Some(99899L), Some(2)), // just over 0.1 %
      (Some(10000L), Some(9500L), Some(2)), // exactly 5 %
      (Some(10000L), Some(9499L), Some(1)), // just over 5 %
      (Some(-10000L), Some(-9500L), Some(2)), // magnitudes, not signs
      (Some(0L), Some(0L), Some(3))) // both zero
    val got = cases.map(c => (c._1, c._2)).toDF("l", "r")
      .select(FS.percentDifferenceLevel(col("l"), col("r")))
      .as[Option[Int]].collect().toSeq
    assert(got == cases.map(_._3))
  }
}
