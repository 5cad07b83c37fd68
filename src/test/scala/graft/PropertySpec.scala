package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.{AggFunctions, WeightedQuantile}
import graft.operators.WindowOps

/** Property-based checks: window/aggregate operators vs brute-force
  * reference implementations on seeded random inputs (raw scalacheck
  * generators; deterministic across runs). */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def forAll[T](g: Gen[T], minSuccessful: Int)(body: T => Unit): Unit =
    (0 until minSuccessful).foreach { i =>
      body(g.pureApply(Gen.Parameters.default, Seed(42L + i)))
    }

  private val seriesGen: Gen[List[Double]] =
    Gen.choose(1, 40).flatMap(n =>
      Gen.listOfN(n, Gen.choose(-100.0, 100.0).map(v => math.rint(v * 100) / 100)))

  test("rollingMedian matches a brute-force sliding median") {
    forAll(seriesGen, 15) { vs =>
      val df = vs.zipWithIndex.map { case (v, i) => (1, i, v) }.toDF("k", "i", "v")
      val got = WindowOps.rollingMedian(df, Seq("k"), Seq(col("i")), col("v"), 2, 2)
        .orderBy("i").select("rolling_median").as[Double].collect()
      val exp = vs.indices.map { i =>
        val frame = vs.slice(math.max(0, i - 2), math.min(vs.length, i + 3)).sorted
        val n = frame.length
        (frame((n + 1) / 2 - 1) + frame(n / 2)) / 2.0
      }
      assert(got.toSeq == exp)
    }
  }

  test("runLengths partitions the series exactly") {
    forAll(seriesGen, 15) { vs =>
      val df = vs.zipWithIndex.map { case (v, i) => (1, i, v >= 0) }.toDF("k", "i", "f")
      val runs = WindowOps.runLengths(df, Seq("k"), Seq(col("i")), col("f"), "i")
        .orderBy("run_id").collect()
      // lengths sum to series length and adjacent runs alternate flags
      assert(runs.map(_.getLong(3)).sum == vs.length)
      val flags = runs.map(_.getBoolean(2)).toSeq
      assert(flags.zip(flags.drop(1)).forall { case (a, b) => a != b })
    }
  }

  test("weightedQuantile(1/2) equals brute-force weighted median") {
    val pairsGen = Gen.choose(1, 25).flatMap(n => Gen.listOfN(n,
      Gen.zip(Gen.choose(-50.0, 50.0).map(v => math.rint(v * 10) / 10),
        Gen.choose(1, 9).map(_.toDouble))))
    forAll(pairsGen, 15) { pairs =>
      val df = pairs.toDF("v", "w")
      val got = df.agg(WeightedQuantile($"v", $"w", 1, 2)).head().getDouble(0)
      val sorted = pairs.sortBy(_._1)
      val total = sorted.map(_._2).sum
      var cum = 0.0
      val exp = sorted.find { case (_, w) => cum += w; cum * 2 >= total }
        .map(_._1).getOrElse(sorted.last._1)
      assert(got == exp)
    }
  }

  test("sumNa equals sum when no nulls, null when any") {
    forAll(seriesGen, 10) { vs =>
      val clean = vs.map(v => (1, Option(v))).toDF("k", "v")
      val s1 = clean.groupBy("k").agg(AggFunctions.sumNa(col("v"))).head()
      assert(math.abs(s1.getDouble(1) - vs.sum) < 1e-6)
      val dirty = ((1, Option.empty[Double]) +: vs.map(v => (1, Option(v))))
        .toDF("k", "v")
      val s2 = dirty.groupBy("k").agg(AggFunctions.sumNa(col("v"))).head()
      assert(s2.isNullAt(1))
    }
  }
  private val boxesGen: Gen[List[(Double, Double, Double, Double)]] =
    Gen.choose(1, 12).flatMap(n => Gen.listOfN(n, for {
      x1 <- Gen.choose(0, 20); y1 <- Gen.choose(0, 20)
      w <- Gen.choose(1, 8); h <- Gen.choose(1, 8)
    } yield (x1.toDouble, y1.toDouble, (x1 + w).toDouble, (y1 + h).toDouble)))

  test("unionAreaByGroup equals integer cell counting on random boxes") {
    forAll(boxesGen, 12) { bs =>
      val df = bs.map { case (x1, y1, x2, y2) => (1L, x1, y1, x2, y2) }
        .toDF("g", "x1", "y1", "x2", "y2")
      val got = graft.spatial.SpatialOps.unionAreaByGroup(df, "g")
        .select("union_area").as[Double].head()
      val cells = bs.flatMap { case (x1, y1, x2, y2) =>
        for (cx <- x1.toInt until x2.toInt; cy <- y1.toInt until y2.toInt)
          yield (cx, cy)
      }.toSet
      assert(got == cells.size.toDouble)
    }
  }

  test("ConvexClip area is bounded and exact for box-box intersections") {
    forAll(boxesGen, 12) { bs =>
      val pairs = bs.zip(bs.reverse)
      pairs.foreach { case ((ax1, ay1, ax2, ay2), (bx1, by1, bx2, by2)) =>
        val ring = (x1: Double, y1: Double, x2: Double, y2: Double) =>
          array(
            struct(lit(x1).as("x"), lit(y1).as("y")),
            struct(lit(x2).as("x"), lit(y1).as("y")),
            struct(lit(x2).as("x"), lit(y2).as("y")),
            struct(lit(x1).as("x"), lit(y2).as("y")))
        val got = Seq(1).toDF("one").select(
          graft.spatial.SpatialOps.shoelaceArea(graft.plans.ConvexClip(
            ring(ax1, ay1, ax2, ay2), ring(bx1, by1, bx2, by2))).as("a"))
          .as[Double].head()
        val exp = math.max(0.0, math.min(ax2, bx2) - math.max(ax1, bx1)) *
          math.max(0.0, math.min(ay2, by2) - math.max(ay1, by1))
        assert(got == exp, s"clip area $got != $exp")
      }
    }
  }

  private val docGen: Gen[List[String]] =
    Gen.choose(2, 10).flatMap(n => Gen.listOfN(n,
      Gen.choose(3, 12).flatMap(w => Gen.listOfN(w,
        Gen.oneOf("aa", "bb", "cc", "dd", "ee")).map(_.mkString(" ")))))

  test("jaccardPairs matches a brute-force shingle-set jaccard") {
    forAll(docGen, 10) { docs =>
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "text")
      val got = graft.dedup.NearDup.jaccardPairs(df, "id", "text", 2, 1, 4)
        .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)]
        .collect().map(r => ((r._1, r._2), r._3)).toMap
      def shingles(t: String): Set[String] =
        t.toLowerCase.split("\\s+").sliding(2).map(_.mkString(" ")).toSet
      val exp = (for {
        i <- docs.indices; j <- docs.indices if i < j
        si = shingles(docs(i)); sj = shingles(docs(j))
        inter = (si & sj).size
        if si.size >= 1 && sj.size >= 1 && inter * 4 >= (si.size + sj.size - inter)
        if inter > 0
      } yield ((i.toLong, j.toLong),
        inter.toDouble / (si.size + sj.size - inter))).toMap
      assert(got == exp, s"got=$got exp=$exp")
    }
  }

  test("PortableHash: Spark column form == JVM form on arbitrary strings") {
    import graft.functions.PortableHash
    import PortableHash.P
    // independent JVM reference: the MD5 hex digest's first 15 digits
    // parsed base 16 (the driver twin shares the column form's kernel)
    def refHex60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val hex = d.map(b => f"${b & 0xff}%02x").mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    val strGen: Gen[List[String]] = Gen.choose(1, 25).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(
        Gen.alphaNumStr.map(_.take(40)),
        Gen.listOfN(8, Gen.choose(32.toChar, 0x2fff.toChar)).map(_.mkString),
        Gen.const(""), Gen.const(" spaced out "))))
    forAll(strGen, 10) { ss =>
      val df = ss.toDF("s")
      val got = df.select(
          PortableHash.hex60($"s").as("h"),
          PortableHash.base($"s").as("b"),
          PortableHash.derive(3, PortableHash.base($"s")).as("d3"))
        .collect()
      ss.zip(got).foreach { case (s, row) =>
        val jvmH = refHex60(s)
        val jvmB = jvmH % P
        val a = refHex60("a_3") % (P - 1) + 1
        val b = refHex60("b_3") % P
        assert(PortableHash.hex60(s) == jvmH, s"driver hex60($s)")
        assert(row.getLong(0) == jvmH, s"hex60($s)")
        assert(row.getLong(1) == jvmB, s"base($s)")
        assert(row.getLong(2) == (a * jvmB + b) % P, s"derive(3, $s)")
      }
    }
  }

  test("winnowing detection guarantee holds on random text pairs") {
    // SIGMOD'03 theorem: docs sharing a run of >= k+w-1 chars share a
    // fingerprint; docs with no common k-gram share none
    val k = 6; val w = 3
    val word = Gen.listOfN(8, Gen.alphaLowerChar).map(_.mkString)
    val pairGen = for {
      a <- Gen.listOfN(6, word); b <- Gen.listOfN(6, word); shared <- word
    } yield (a.mkString(" "), b.mkString(" "), shared)
    forAll(pairGen, 15) { case (ta, tb, shared) =>
      // plant an 8-char run (> k+w-1 = 8 after normalization) in both
      val da = s"$ta $shared"
      val db = s"$shared $tb"
      val rows = Seq((1L, da), (2L, db)).toDF("id", "t")
        .select($"id", graft.text.TextAnalysis
          .winnowFingerprints($"t", k, w).as("fps"))
        .as[(Long, Seq[Long])].collect().toMap
      assert(rows(1L).toSet.intersect(rows(2L).toSet).nonEmpty,
        s"no shared fingerprint for planted run '$shared': '$da' / '$db'")
      // disjoint alphabets can never share a k-gram, hence no fingerprint
      val ua = da.map(c => if (c == ' ') ' ' else ('a' + (c - 'a') % 13).toChar)
      val ub = db.map(c => if (c == ' ') ' ' else ('n' + (c - 'a') % 13).toChar)
      val dis = Seq((1L, ua), (2L, ub)).toDF("id", "t")
        .select($"id", graft.text.TextAnalysis
          .winnowFingerprints($"t", k, w).as("fps"))
        .as[(Long, Seq[Long])].collect().toMap
      assert(dis(1L).toSet.intersect(dis(2L).toSet).isEmpty)
    }
  }

  test("zorderValue is a bijection on random in-range points") {
    val ptGen = Gen.listOfN(200,
      Gen.zip(Gen.choose(0L, 255L), Gen.choose(0L, 255L)))
    forAll(ptGen, 5) { pts =>
      val d = pts.distinct
      val zs = d.toDF("x", "y")
        .select(graft.operators.Layout.zorderValue(Seq($"x", $"y"), 8).as("z"),
          $"x", $"y")
        .as[(Long, Long, Long)].collect()
      assert(zs.map(_._1).distinct.length == d.length, "collision")
      // decode inverts: bit i*2+d of z is bit i of dim d
      zs.foreach { case (z, x, y) =>
        val dx = (0 until 8).map(i => ((z >> (2 * i)) & 1L) << i).sum
        val dy = (0 until 8).map(i => ((z >> (2 * i + 1)) & 1L) << i).sum
        assert(dx == x && dy == y, s"decode($z) != ($x, $y)")
      }
    }
  }

  test("Md5Prefix60 is bit-identical to the conv(substring(md5)) chain") {
    // the native expression must keep the ORACLE CONTRACT: identical to
    // the declarative chain (and hence DuckDB's hex-prefix cast) on any
    // string, including empty, unicode and separator-heavy inputs
    val strGen = Gen.oneOf(
      Gen.const(""),
      Gen.alphaNumStr,
      Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.oneOf('_', ' ', 'é', '中',
        '\t'))).map(_.mkString),
      Gen.choose(Long.MinValue, Long.MaxValue).map(v => s"${v}_salt"))
    forAll(Gen.listOfN(50, strGen), 4) { ss =>
      val df = ss.toDF("s")
      val got = df.select(
          graft.plans.Md5Prefix60(col("s")).as("fast"),
          conv(substring(md5(col("s").cast("binary")), 1, 15), 16, 10)
            .cast("long").as("ref"))
        .collect()
      got.foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
    }
    // driver twin: direct equality on a few fixed values
    Seq("", "a", "42_salt", "héllo 中文").foreach { s =>
      val cluster = spark.range(1)
        .select(graft.plans.Md5Prefix60(lit(s)).as("h")).head().getLong(0)
      assert(cluster == graft.functions.PortableHash.hex60(s), s)
    }
  }

  test("bpeMergeTableLocal == bpeMergeTable on random corpora (property)") {
    // small alphabets force heavy pair collisions, overlap runs ("aaa"),
    // and tie-breaks — the shapes where the incremental-stats / heap
    // bookkeeping could drift from the per-round distributed recount
    val corpusGen: Gen[List[String]] = for {
      nDocs <- Gen.choose(1, 6)
      docs <- Gen.listOfN(nDocs, for {
        nWords <- Gen.choose(1, 12)
        words <- Gen.listOfN(nWords, for {
          len <- Gen.choose(1, 6)
          cs <- Gen.listOfN(len, Gen.oneOf('a', 'b', 'c'))
        } yield cs.mkString)
      } yield words.mkString(" "))
    } yield docs
    forAll(corpusGen, 8) { docs =>
      val df = docs.toDF("text")
      val dist = graft.text.TextAnalysis.bpeMergeTable(df, "text", merges = 12)
        .orderBy("step")
        .as[(Long, String, String, String, Long)].collect().toSeq
      val local = graft.text.TextAnalysis
        .bpeMergeTableLocal(df, "text", merges = 12)
        .orderBy("step")
        .as[(Long, String, String, String, Long)].collect().toSeq
      assert(local == dist, s"corpus=$docs\nlocal=$local\ndist=$dist")
    }
  }

  // ---- round-14 operators -------------------------------------------------

  private val pairFrameGen: Gen[(List[(Long, String)], List[(Long, String)])] = {
    // skewed block keys: "hot" dominates, a few cold keys, so small caps
    // genuinely split blocks
    val key = Gen.frequency(6 -> Gen.const("hot"),
      1 -> Gen.const("c1"), 1 -> Gen.const("c2"), 1 -> Gen.const("c3"))
    for {
      nl <- Gen.choose(5, 60)
      nr <- Gen.choose(3, 30)
      lk <- Gen.listOfN(nl, key)
      rk <- Gen.listOfN(nr, key)
    } yield (lk.zipWithIndex.map { case (k, i) => (i.toLong, k) },
      rk.zipWithIndex.map { case (k, i) => (i.toLong + 1000, k) })
  }

  test("skewGuardedJoin == plain equi-join on random skewed frames (property)") {
    import graft.linkage.Linkage
    forAll(Gen.zip(pairFrameGen, Gen.choose(1, 8)), 10) { case ((ls, rs), cap) =>
      val l = ls.toDF("l_id", "l_k")
      val r = rs.toDF("r_id", "r_k")
      val plain = l.join(r, col("l_k") === col("r_k"))
        .select("l_id", "r_id").collect().toSet
      val guarded = Linkage.skewGuardedJoin(l, r,
          Seq(col("l_k")), Seq(col("r_k")), maxBlock = cap)
        .select("l_id", "r_id").collect().toSet
      assert(guarded === plain, s"cap=$cap nl=${ls.size} nr=${rs.size}")
      // bound: no (key, salt) group on the salted left exceeds the cap
      val (sl, _, keys) = Linkage.saltBySize(l, r,
        Seq(col("l_k")), Seq(col("r_k")), cap)
      val maxGroup = sl.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("n")).agg(max(col("n"))).head.getLong(0)
      // hash split is uneven (small caps mean few rows per salt, where
      // balls-in-bins variance bites); max(3·cap, 8) is a working bound
      // that still fails on an unsplit hot block (hot >> cap here)
      assert(maxGroup <= math.max(3L * cap, 8L),
        s"cap=$cap maxGroup=$maxGroup")
    }
  }

  test("skewGuardedJoin2D == plain equi-join on random skewed frames (property)") {
    import graft.linkage.Linkage
    forAll(Gen.zip(pairFrameGen, Gen.choose(1, 8)), 10) { case ((ls, rs), cap) =>
      val l = ls.toDF("l_id", "l_k")
      val r = rs.toDF("r_id", "r_k")
      val plain = l.join(r, col("l_k") === col("r_k"))
        .select("l_id", "r_id").collect().toSet
      val guarded = Linkage.skewGuardedJoin(l, r,
          Seq(col("l_k")), Seq(col("r_k")), maxBlock = cap)
        .select("l_id", "r_id").collect().toSet
      assert(guarded === plain, s"2D cap=$cap nl=${ls.size} nr=${rs.size}")
      // exactly-once: multiset sizes must also agree (a tile-overlap bug
      // would duplicate pairs without changing the distinct set)
      val plainN = l.join(r, col("l_k") === col("r_k")).count()
      val guardN = Linkage.skewGuardedJoin(l, r,
        Seq(col("l_k")), Seq(col("r_k")), maxBlock = cap).count()
      assert(guardN === plainN, s"2D multiset cap=$cap")
    }
  }

  /** Block-key pools, one per key type the (rule, key) encoder accepts,
    * each holding values a careless string encoding would merge or split:
    * -0.0 vs 0.0 and NaN, equal decimals written with different scales,
    * and two instants an hour apart that share a New York local time. */
  private def keyPools: Seq[(String, Seq[Column])] = {
    def ts(s: String) = lit(java.sql.Timestamp.from(java.time.Instant.parse(s)))
    def dec(s: String) = lit(new java.math.BigDecimal(s)).cast("decimal(10,2)")
    Seq(
      "int" -> Seq(lit(1), lit(2), lit(-3), lit(0)),
      "long" -> Seq(lit(1L), lit(2L), lit(Long.MinValue), lit(0L)),
      "string" -> Seq(lit("a"), lit("b"), lit(""), lit("a ")),
      "double" -> Seq(lit(0.0), lit(-0.0), lit(Double.NaN), lit(1.5)),
      "decimal" -> Seq(dec("1.10"), dec("1.1"), dec("-2.00"), dec("0")),
      "date" -> Seq("2024-01-01", "2024-11-03", "1970-01-01", "2024-02-29")
        .map(d => lit(java.sql.Date.valueOf(d))),
      "timestamp" -> Seq(ts("2024-11-03T05:30:00Z"), ts("2024-11-03T06:30:00Z"),
        ts("1970-01-01T00:00:00Z"), ts("2024-03-10T07:00:00Z")))
  }

  /** One generated frame pair per key pool: (id, k, p) per side, where k
    * is drawn from the pool by the skewed generator's key ("hot"
    * dominates; every fifth id is null) and p is the id's parity. Runs
    * in the America/New_York session time zone, where the pool's two
    * fall-back instants print alike. */
  private def typedPairFrames(
      body: (String, DataFrame, DataFrame) => Unit): Unit = {
    val tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try keyPools.zipWithIndex.foreach { case ((name, pool), t) =>
      val (ls, rs) = pairFrameGen.pureApply(Gen.Parameters.default, Seed(42L + t))
      def side(rows: List[(Long, String)], s: String) = rows.toDF(s"${s}_id", "g")
        .select(col(s"${s}_id"),
          when(col(s"${s}_id") % 5 =!= 4, element_at(array(pool: _*),
            when(col("g") === "hot", 1).when(col("g") === "c1", 2)
              .when(col("g") === "c2", 3).otherwise(4))).as(s"${s}_k"),
          pmod(col(s"${s}_id"), lit(2)).as(s"${s}_p"))
      body(name, side(ls, "l"), side(rs, "r"))
    } finally spark.conf.set("spark.sql.session.timeZone", tz)
  }

  private val keyParityRules = Seq(
    (Seq(col("l_k")), Seq(col("r_k"))),
    (Seq(col("l_p")), Seq(col("r_p"))))

  /** unionBlocks output against the typed per-rule equi-joins over the
    * same frames: the pair set is their union, n_rules counts the rules
    * that matched, match_key names the first. */
  private def assertUnionMatchesTypedJoins(l: DataFrame, r: DataFrame,
      ub: DataFrame, clue: String): Unit = {
    val got = ub
      .select(col("l_id"), col("r_id"), col("match_key"), col("n_rules"))
      .collect().map(x => ((x.getLong(0), x.getLong(1)),
        (x.getInt(2), x.getLong(3)))).toMap
    val inR = Seq(col("l_k") === col("r_k"), col("l_p") === col("r_p"))
      .map(c => l.join(r, c).select("l_id", "r_id").collect()
        .map(x => (x.getLong(0), x.getLong(1))).toSet)
    assert(got.keySet === (inR(0) ++ inR(1)), clue)
    got.foreach { case (p, (mk, nr)) =>
      assert(nr === inR.count(_(p)).toLong, s"$clue: pair $p n_rules")
      assert(mk === inR.indexWhere(_(p)), s"$clue: pair $p match_key")
    }
  }

  test("unionBlocks == distinct OR-join; n_rules/match_key consistent (property)") {
    import graft.linkage.Linkage
    forAll(pairFrameGen, 8) { case (ls, rs) =>
      // second key: parity of the id — rules genuinely overlap
      val l = ls.toDF("l_id", "l_k")
        .withColumn("l_p", pmod(col("l_id"), lit(2)))
      val r = rs.toDF("r_id", "r_k")
        .withColumn("r_p", pmod(col("r_id"), lit(2)))
      assertUnionMatchesTypedJoins(l, r,
        Linkage.unionBlocks(l, r, "l_id", "r_id", keyParityRules),
        s"nl=${ls.size} nr=${rs.size}")
    }
    // every key type the encoder accepts, with the skew guard off and on
    // (maxBlock 2 salts every hot block)
    typedPairFrames { (name, l, r) =>
      for ((mode, maxBlock) <- Seq(("off", 0), ("guarded", 2)))
        assertUnionMatchesTypedJoins(l, r,
          Linkage.unionBlocks(l, r, "l_id", "r_id", keyParityRules,
            maxBlock = maxBlock),
          s"$name keys, guard $mode")
    }
  }

  test("blockProfile n_pairs == materialized join count (property)") {
    import graft.linkage.Linkage
    forAll(pairFrameGen, 8) { case (ls, rs) =>
      val l = ls.toDF("l_id", "l_k")
      val r = rs.toDF("r_id", "r_k")
      val prof = Linkage.blockProfile(l, r,
          Seq((Seq(col("l_k")), Seq(col("r_k")))))
        .head
      val actual = l.join(r, col("l_k") === col("r_k")).count()
      assert(prof.getLong(2) === actual)
    }
    typedPairFrames { (name, l, r) =>
      val prof = Linkage.blockProfile(l, r, keyParityRules)
        .collect().map(x => x.getInt(0) -> x).toMap
      keyParityRules.zipWithIndex.foreach { case ((lk, rk), i) =>
        val actual = l.join(r, lk.head === rk.head).count()
        val got = if (prof(i).isNullAt(2)) 0L else prof(i).getLong(2)
        assert(got === actual, s"$name keys, rule $i")
      }
    }
  }

  test("equalWidthBins matches a driver-side pandas.cut twin (property)") {
    import graft.operators.Binning
    val valsGen = Gen.choose(3, 30).flatMap(n =>
      Gen.listOfN(n, Gen.choose(0.0, 500.0).map(v => math.rint(v * 100) / 100)))
    forAll(valsGen, 10) { vs =>
      val df = vs.zipWithIndex.map { case (v, i) => ("g", i.toLong, v) }
        .toDF("grp", "id", "value")
      val got = Binning.equalWidthBins(df, "grp", "value", nBins = 10)
        .select("id", "bin_idx").collect()
        .map(x => x.getLong(0) -> x.getLong(1)).toMap
      val lo = vs.min; val hi = vs.max; val span = hi - lo
      if (vs.distinct.size > 1) {
        val width = span / 10
        vs.zipWithIndex.foreach { case (v, i) =>
          // valueOf (shortest-decimal), NOT the exact-binary constructor —
          // Spark's round() uses BigDecimal.valueOf semantics
          val idx = math.min(10L, math.max(1L,
            math.ceil(java.math.BigDecimal.valueOf((v - lo) / width)
              .setScale(9, java.math.RoundingMode.HALF_UP)
              .doubleValue()).toLong))
          assert(got(i.toLong) === idx, s"v=$v lo=$lo width=$width")
        }
      } else assert(got.isEmpty)
    }
  }

  // ---- round-15 operators -------------------------------------------------

  private val wordListGen: Gen[List[String]] =
    Gen.choose(1, 50).flatMap(n => Gen.listOfN(n,
      Gen.choose(1, 6).flatMap(l =>
        Gen.listOfN(l, Gen.choose('a', 'f')).map(_.mkString))))

  test("spanCorrupt reconstructs every random doc at several span lengths") {
    val sentinel = "<extra_id_(\\d+)>".r
    forAll(Gen.listOfN(8, wordListGen), 6) { docLists =>
      val docs = docLists.zipWithIndex
        .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
        .toDF("doc_id", "text")
      Seq(1, 3, 5).foreach { spanLen =>
        graft.text.SpanCorruption
          .spanCorrupt(docs, "doc_id", "text", spanLen = spanLen)
          .collect().foreach { r =>
            val orig = docLists(r.getLong(0).toInt).mkString(" ")
            val target = r.getAs[String]("target_text")
            val ids = sentinel.findAllMatchIn(target)
              .map(_.group(1).toInt).toSeq
            val parts = sentinel.split(target).map(_.trim)
            val spans = ids.zip(parts.drop(1).padTo(ids.size, "")).toMap
            val rebuilt = r.getAs[String]("input_text").split(" ").toSeq
              .flatMap { s =>
                if (sentinel.matches(s))
                  spans(sentinel.findFirstMatchIn(s).get.group(1).toInt)
                    .split(" ").filter(_.nonEmpty).toSeq
                else Seq(s)
              }.mkString(" ")
            assert(rebuilt === orig, s"doc ${r.getLong(0)} span $spanLen")
          }
      }
    }
  }

  test("recallAtK equals brute-force pair-set intersection") {
    val topkGen: Gen[List[(Long, Int, Long)]] =
      Gen.listOfN(5, Gen.choose(1, 8)).flatMap { ks =>
        Gen.sequence[List[List[(Long, Int, Long)]], List[(Long, Int, Long)]](
          ks.zipWithIndex.map { case (k, q) =>
            Gen.pick(k, 0L until 20L).map(cs =>
              cs.toList.zipWithIndex.map { case (c, i) =>
                (q.toLong, i + 1, c) })
          }).map(_.flatten)
      }
    forAll(Gen.zip(topkGen, topkGen), 10) { case (e, a) =>
      val k = 5
      val exact = e.toDF("q_id", "rk", "c_id")
      val approx = a.toDF("q_id", "rk", "c_id")
      val row = graft.similarity.Similarity.recallAtK(exact, approx, k).head()
      val eSet = e.filter(_._2 <= k).map(t => (t._1, t._3)).toSet
      val aSet = a.filter(_._2 <= k).map(t => (t._1, t._3)).toSet
      assert(row.getLong(1) === eSet.size.toLong)
      assert(row.getLong(2) === eSet.intersect(aSet).size.toLong)
      assert(row.getDouble(3) ===
        eSet.intersect(aSet).size.toDouble / eSet.size)
    }
  }

  test("multi-probe LSH recall is monotone in probes on random embeddings") {
    import graft.similarity.Similarity
    val dim = 8
    val embGen: Gen[List[Double]] = Gen.choose(30, 50).flatMap(n =>
      Gen.listOfN(n * dim, Gen.choose(-1.0, 1.0)))
    forAll(embGen, 4) { vals =>
      val rows = vals.grouped(dim).zipWithIndex
        .map { case (v, i) => (i.toLong, v.map(_.toFloat).toArray) }.toSeq
      val df = rows.toDF("vec_id", "embedding")
      val q = df.where($"vec_id" < 5)
      def ids(d: org.apache.spark.sql.DataFrame) =
        d.select("q_id", "c_id").as[(Long, Long)].collect().toSet
      val exact = ids(Similarity.cosineTopK(q, df, "vec_id", "embedding", 3))
      def hits(p: Int): Int = {
        val a = ids(Similarity.lshMultiProbeTopK(q, df, "vec_id",
          "embedding", 3, nBits = 4, dim = dim, tables = 2, probes = p))
        exact.intersect(a).size
      }
      val r = Seq(1, 3, 5).map(hits)
      assert(r(0) <= r(1) && r(1) <= r(2), s"recall not monotone: $r")
    }
  }

  test("bigram LM self-trained score: per-doc sums equal per-type cnt*score") {
    import graft.text.BigramLm
    val docGen: Gen[List[String]] = Gen.choose(2, 10).flatMap(n =>
      Gen.listOfN(n, Gen.choose(1, 6).flatMap(m =>
        Gen.listOfN(m, Gen.oneOf("a", "b", "c", "d")).map(_.mkString(" ")))))
    forAll(docGen, 5) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val scored = BigramLm.scoreDocs(df, "doc_id", "text",
        trainPred = lit(true))
      // self-trained: every bigram is in its own model — zero backoff
      assert(scored.agg(sum($"n_backoff")).head().getLong(0) == 0L)
      val docTotal = scored.agg(sum($"score_nano")).head().getLong(0)
      // independent arithmetic path: aggregate counts per TYPE, then
      // multiply by the type score — equals the per-row sum ONLY because
      // scores are exact per-type integers (floats would drift here)
      val bg = BigramLm.bigramStream(df, "doc_id", "text")
      val (bscore, _) = BigramLm.trainFromStream(bg)
      val typeTotal = bg.groupBy($"prev", $"cur")
        .agg(count(lit(1)).as("cnt"))
        .join(bscore, Seq("prev", "cur"))
        .agg(sum($"cnt" * $"score_nano")).head().getLong(0)
      assert(docTotal == typeTotal, s"doc $docTotal != type $typeTotal")
      // token conservation: n_bigrams sums to the token count
      val nTok = bg.count()
      assert(scored.agg(sum($"n_bigrams")).head().getLong(0) == nTok)
    }
  }

  test("batched BM25 equals per-query runs on random term subsets") {
    import graft.text.TextAnalysis
    val vocab = Seq("scan", "merge", "join", "agg", "sort", "dup")
    val qGen: Gen[List[List[String]]] = Gen.listOfN(2,
      Gen.choose(1, 3).flatMap(m => Gen.pick(m, vocab).map(_.toList)))
    val docGen: Gen[List[String]] = Gen.choose(3, 10).flatMap(n =>
      Gen.listOfN(n, Gen.choose(1, 8).flatMap(m =>
        Gen.listOfN(m, Gen.oneOf(vocab)).map(_.mkString(" ")))))
    forAll(Gen.zip(docGen, qGen), 4) { case (texts, qs) =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val queries = qs.zipWithIndex.map { case (ts, i) => (s"q$i", ts) }
      val batch = TextAnalysis.bm25TopKBatch(df, "doc_id", "text",
          queries, k = 5)
        .select("query_id", "doc_id", "score", "n_terms_hit", "rank")
        .as[(String, Long, Double, Long, Long)].collect()
        .groupBy(_._1).map { case (q, rows) =>
          q -> rows.map(r => (r._2, r._3, r._4, r._5)).toSet
        }
      for ((qid, terms) <- queries) {
        val single = TextAnalysis.bm25TopK(df, "doc_id", "text", terms, 5)
          .select("doc_id", "score", "n_terms_hit", "rank")
          .as[(Long, Double, Long, Long)].collect().toSet
        assert(batch.getOrElse(qid, Set.empty) == single,
          s"$qid: batch != single on ${texts.size} docs")
      }
    }
  }

  test("float natives equal their declarative twins bit for bit; mismatched lengths throw") {
    // FloatDotProduct vs Similarity.dot, PlaneProjections vs one dot per
    // plane, PlaneSignBits vs SQL `dot > 0` per plane — in codegen and in
    // interpreted eval, on random floats mixed with -0.0, NaN, ±Inf,
    // subnormals and extremes, empty and null arrays. LongSqDist vs
    // aggregate(zip_with), and the PQ pair vs their slice + zip_with forms
    // on finite floats (a NaN distance has no rounded argmin), with
    // integer-grid codewords so rounded distances tie; PqAdcDotSum
    // rejects a codes array of the wrong length or with a bad code
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import graft.plans.{FloatDotProduct, LongSqDist, PlaneProjections,
      PlaneSignBits, PqAdcDotSum, PqEncodeCodes}
    import graft.similarity.Similarity
    val special = Gen.oneOf(-0.0f, 0.0f, Float.NaN, Float.PositiveInfinity,
      Float.NegativeInfinity, Float.MinPositiveValue, -1.0e-40f, Float.MaxValue)
    def vec(n: Int, specials: Int = 1): Gen[Array[Float]] = Gen.listOfN(n,
      Gen.frequency(11 -> Gen.choose(-8.0f, 8.0f), specials -> special))
      .map(_.toArray)
    def orNull(g: Gen[Array[Float]]): Gen[Array[Float]] =
      Gen.frequency(8 -> g, 1 -> Gen.const(null))
    val (dim, nPlanes) = (6, 5)
    val pairGen = Gen.listOfN(30, Gen.choose(0, 7).flatMap(n =>
      Gen.zip(orNull(vec(n)), orNull(vec(n)))))
    // planes mostly finite, so the sign rule is not all-NaN
    val planeGen = Gen.zip(Gen.frequency(3 -> vec(nPlanes * dim, 0),
      1 -> vec(nPlanes * dim)), Gen.listOfN(30, orNull(vec(dim))))
    val longGen = Gen.listOfN(30, Gen.choose(0, 7).flatMap(n => Gen.zip(
      Gen.frequency(8 -> Gen.listOfN(n, Gen.choose(-1000000L, 1000000L))
        .map(_.toArray), 1 -> Gen.const(null)),
      Gen.frequency(8 -> Gen.listOfN(n, Gen.choose(-1000000L, 1000000L))
        .map(_.toArray), 1 -> Gen.const(null)))))
    val (m, sub, nCodes) = (3, 2, 4)
    val codeword = Gen.listOfN(sub, Gen.frequency(3 -> Gen.choose(-8.0f, 8.0f),
      1 -> Gen.choose(-2, 2).map(_.toFloat))).map(_.toArray)
    val pqGen = Gen.zip(Gen.listOfN(m, Gen.listOfN(nCodes, codeword)),
      Gen.listOfN(30, Gen.zip(orNull(vec(m * sub, 0)),
        Gen.frequency(8 -> Gen.listOfN(m, Gen.choose(0, nCodes - 1))
          .map(_.toArray), 1 -> Gen.const(null)))))
    val floats = ArrayType(FloatType, containsNull = false)
    def frameOf(rows: Seq[Seq[Any]], fields: (String, DataType)*): DataFrame =
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.zipWithIndex.map {
          case (r, i) => Row.fromSeq(i.toLong +: r) }, 2),
        StructType(StructField("id", LongType) +:
          fields.map { case (n, t) => StructField(n, t) }))
    def frame(rows: Seq[Seq[Any]], names: String*): DataFrame =
      frameOf(rows, names.map(_ -> floats): _*)
    val longs = ArrayType(LongType, containsNull = false)
    def longFrame(rows: Seq[(Array[Long], Array[Long])]): DataFrame =
      frameOf(rows.map { case (a, b) => Seq(a, b) }, "a" -> longs, "b" -> longs)
    // declarative twins of the PQ kernels: per subspace, the slice of the
    // embedding dotted with literal codewords
    def pqEncodeTwin(cbs: Seq[Seq[Array[Float]]]): Column =
      when(col("e").isNotNull, array(cbs.zipWithIndex.map { case (cb, mi) =>
        val dists = array(cb.map { cw =>
          val cn2 = cw.foldLeft(0.0)((a, v) => a + v.toDouble * v.toDouble)
          round(lit(cn2) - lit(2.0) * Similarity.dot(
            slice(col("e"), mi * sub + 1, sub), typedLit(cw.toSeq)), 4)
        }.toSeq: _*)
        (array_position(dists, array_min(dists)) - 1).cast("int")
      }: _*))
    def pqAdcTwin(cbs: Seq[Seq[Array[Float]]]): Column =
      cbs.zipWithIndex.map { case (cb, mi) =>
        Similarity.dot(slice(col("e"), mi * sub + 1, sub),
          element_at(typedLit(cb.map(_.toSeq)),
            element_at(col("codes"), mi + 1) + 1))
      }.foldLeft(lit(0.0))(_ + _)
    def byId(df: DataFrame): Map[Long, Any] =
      df.collect().map(r => r.getLong(0) -> r.get(1)).toMap
    def same(x: Any, y: Any): Boolean = (x, y) match {
      case (null, null) => true
      case (a: Double, b: Double) =>
        java.lang.Double.doubleToLongBits(a) ==
          java.lang.Double.doubleToLongBits(b)
      case (a: Long, b: Long) => a == b
      case (a: Int, b: Int) => a == b
      case (a: scala.collection.Seq[_], b: scala.collection.Seq[_]) =>
        a.length == b.length && a.zip(b).forall { case (u, v) => same(u, v) }
      case _ => false
    }
    def assertTwins(df: DataFrame, native: Column, twin: Column,
                    clue: String): Unit = {
      val got = byId(df.select(col("id"), native))
      val exp = byId(df.select(col("id"), twin))
      assert(got.keySet == exp.keySet, clue)
      got.foreach { case (id, v) =>
        assert(same(v, exp(id)), s"$clue row $id: native $v, twin ${exp(id)}")
      }
    }
    def assertThrows(df: DataFrame, c: Column, msg: String): Unit = {
      val e = intercept[Exception](df.select(c).collect())
      val chain = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(t => String.valueOf(t.getMessage))
        .mkString(" | ")
      assert(chain.contains(msg), chain)
    }
    val modes = Seq(
      "codegen" -> Seq("spark.sql.codegen.wholeStage" -> "true",
        "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"),
      "eval" -> Seq("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))
    for ((mode, confs) <- modes) {
      val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        forAll(pairGen, 4) { pairs =>
          val df = frame(pairs.map { case (a, b) => Seq(a, b) }, "a", "b")
          assertTwins(df, FloatDotProduct(col("a"), col("b")),
            Similarity.dot(col("a"), col("b")), s"$mode dot")
        }
        forAll(planeGen, 4) { case (flat, embs) =>
          val df = frame(embs.map(Seq(_)), "e")
          val dots = (0 until nPlanes).map(p => Similarity.dot(col("e"),
            typedLit(flat.slice(p * dim, (p + 1) * dim).toSeq)))
          assertTwins(df, PlaneProjections(col("e"), flat, dim),
            when(col("e").isNotNull, array(dots: _*)), s"$mode projections")
          assertTwins(df, PlaneSignBits(col("e"), flat, dim),
            dots.zipWithIndex.map { case (d, p) =>
              when(d > 0, lit(1L << p)).when(d <= 0, lit(0L))
            }.reduce(_ bitwiseOR _), s"$mode sign bits")
        }
        forAll(longGen, 4) { pairs =>
          assertTwins(longFrame(pairs), LongSqDist(col("a"), col("b")),
            aggregate(zip_with(col("a"), col("b"), (x, y) => (x - y) * (x - y)),
              lit(0L), _ + _), s"$mode long_sq_dist")
        }
        forAll(pqGen, 4) { case (cbs, rows) =>
          val df = frameOf(rows.map { case (e, c) => Seq(e, c) },
            "e" -> floats, "codes" -> ArrayType(IntegerType, containsNull = false))
          val cbArrays = cbs.map(_.toSeq)
          assertTwins(df, PqEncodeCodes(col("e"), cbArrays),
            pqEncodeTwin(cbArrays), s"$mode pq_encode")
          assertTwins(df, PqAdcDotSum(col("e"), col("codes"), cbArrays),
            pqAdcTwin(cbArrays), s"$mode pq_adc_dot_sum")
        }
        val ab = frame(Seq(Seq(Array(1f, 2f, 3f), Array(1f, 2f))), "a", "b")
        assertThrows(ab, FloatDotProduct(col("a"), col("b")),
          "float_dot_product: array lengths differ (3 vs 2)")
        assert(ab.select(Similarity.dot(col("a"), col("b"))).head().isNullAt(0))
        val longAb = longFrame(Seq((Array(1L, 2L, 3L), Array(1L, 2L))))
        assertThrows(longAb, LongSqDist(col("a"), col("b")),
          "long_sq_dist: array lengths differ (3 vs 2)")
        val planes = Array.fill(nPlanes * dim)(1f)
        for (n <- Seq(0, dim - 1, dim + 1)) {
          val e = frame(Seq(Seq(Array.fill(n)(1f))), "e")
          val msg = s"embedding length $n differs from plane length $dim"
          assertThrows(e, PlaneProjections(col("e"), planes, dim),
            s"plane_projections: $msg")
          assertThrows(e, PlaneSignBits(col("e"), planes, dim),
            s"plane_sign_bits: $msg")
        }
        val ones = Seq.fill(m)(Seq.fill(nCodes)(Array.fill(sub)(1f)))
        def codesFrame(codes: Array[Integer]): DataFrame =
          frameOf(Seq(Seq(Array.fill(m * sub)(1f), codes)), "e" -> floats,
            "codes" -> ArrayType(IntegerType, containsNull = true))
        for ((codes, msg) <- Seq(
            Array[Integer](0, 1) -> s"2 codes for $m subspaces",
            Array[Integer](0, nCodes, 1) ->
              s"code $nCodes of subspace 1 is outside [0, $nCodes)",
            Array[Integer](0, 1, -1) ->
              s"code -1 of subspace 2 is outside [0, $nCodes)",
            Array[Integer](null, 1, 2) ->
              s"code null of subspace 0 is outside [0, $nCodes)"))
          assertThrows(codesFrame(codes),
            PqAdcDotSum(col("e"), col("codes"), ones), s"pq_adc_dot_sum: $msg")
      } finally saved.foreach { case (k, v) =>
        v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
      }
    }
  }

  // grain frames: small key domains with nulls, so grains collide on
  // their aggregate signatures and null keys form their own groups
  private val grainFrameGen: Gen[List[(Option[Int], Option[Int], Double)]] =
    Gen.choose(1, 30).flatMap(n => Gen.listOfN(n, Gen.zip(
      Gen.option(Gen.choose(-2, 3)), Gen.option(Gen.choose(0, 2)),
      Gen.choose(0, 3).map(_.toDouble))))
  private val grainAggs = Seq(sum(col("v")).as("sum_v"),
    count(lit(1)).as("n_rows"), count_distinct(col("a")).as("n_a"))
  private def grainParts(rows: List[(Option[Int], Option[Int], Double)]) =
    graft.operators.PlantParts.grainRollup(rows.toDF("a", "b", "v"),
      Seq("a" -> col("a"), "b" -> col("b")), grainAggs)

  test("grainRollup equals the union of one aggregation per grain (property)") {
    forAll(grainFrameGen, 12) { rows =>
      val df = rows.toDF("a", "b", "v")
      def grain(label: String, priority: Int, key: String): DataFrame =
        df.groupBy(col(key).cast("string").as("part_key"))
          .agg(grainAggs.head, grainAggs.tail: _*)
          .select(lit(label).as("grain"), lit(priority).as("priority"),
            col("part_key"), col("sum_v"), col("n_rows"), col("n_a"))
      def sorted(d: DataFrame) = d.collect().map(_.toSeq.map(String.valueOf))
        .sortBy(_.mkString("|")).toSeq
      assert(sorted(grainParts(rows)) ==
        sorted(grain("a", 1, "a").unionByName(grain("b", 2, "b"))))
    }
  }

  test("trueGranularity marks exactly the lowest (priority, part_key) row per signature (property)") {
    forAll(grainFrameGen, 12) { rows =>
      val got = graft.operators.PlantParts.trueGranularity(grainParts(rows),
          Seq("sum_v", "n_rows", "n_a"))
        .select("priority", "part_key", "sum_v", "n_rows", "n_a", "true_gran")
        .as[(Int, Option[String], Double, Long, Long, Boolean)].collect().toSeq
      // Spark's ascending order puts a null part_key first
      val lowest = got.groupBy(r => (r._3, r._4, r._5)).values
        .map(_.minBy(r => (r._1, r._2.fold("")("~" + _)))).toSet
      assert(got.filter(_._6).toSet == lowest)
      assert(got.count(_._6) == lowest.size)
    }
  }
}
