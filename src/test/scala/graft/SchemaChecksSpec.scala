package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.checks.CheckRunner
import graft.checks.CheckRunner._
import graft.functions.WeightedQuantile
import graft.schema.{Field, FieldType, Registry, Resource}
import graft.sources.ParquetSink

class SchemaChecksSpec extends SparkSpec {
  import spark.implicits._

  private val res = Resource("t", Seq(
    Field("id", FieldType.Integer, required = true),
    Field("flag", FieldType.Str, enum = Some(Seq("A", "B"))),
    Field("v", FieldType.Number, min = Some(0), max = Some(10))),
    primaryKey = Seq("id"))

  test("enforceSchema orders, casts, and nulls enum violations") {
    val df = Seq((1.0, "A", 1, "x"), (2.0, "Z", 2, "y")).toDF("v", "flag", "id", "junk")
    val out = res.enforceSchema(df)
    assert(out.columns.toSeq == Seq("id", "flag", "v"))
    assert(out.schema("id").dataType == LongType)
    val flags = out.orderBy("id").select("flag").collect().map(r =>
      if (r.isNullAt(0)) null else r.getString(0))
    assert(flags.toSeq == Seq("A", null))
  }

  test("CheckRunner flags violations and passes clean data") {
    val df = Seq((1, "A", 5.0), (1, "B", 20.0), (2, null, 3.0))
      .toDF("id", "flag", "v")
    val out = CheckRunner.run(df, CheckRunner.fromResource(res) :+
        RowCount("t:rows", 3L))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(!out("t:pk_unique")) // id 1 duplicated
    assert(out("t:id:not_null"))
    assert(out("t:flag:enum")) // nulls pass enum
    assert(!out("t:v:range")) // 20.0 out of range
    assert(out("t:rows"))
  }

  test("SummedNotExceed and OneValuePerKey: pass/fail lanes, nulls, failure budget") {
    val df = Seq(
      // (a, b, thr, key, value)
      (Some(1.0), Some(1.0), Some(5.0), Some(1), "x"),  // 2 <= 5 ok
      (Some(3.0), Some(3.0), Some(5.0), Some(1), "x"),  // 6 > 5  FAIL
      (None, Some(9.0), Some(5.0), Some(2), "y"),       // null a: skipped
      (Some(9.0), Some(9.0), None, Some(2), "z"),       // null thr: skipped
      (Some(0.0), Some(0.0), Some(0.0), None, "w")      // null key: skipped by FD
    ).toDF("a", "b", "thr", "k", "v")
    val out = CheckRunner.run(df, Seq(
      SummedNotExceed("sum_exceed", "a", "b", "thr"),
      SummedNotExceed("sum_exceed_budget", "a", "b", "thr",
        errorThreshold = 1),
      SummedNotExceed("sum_exceed_mult", "a", "b", "thr",
        multiplier = 2.0),
      OneValuePerKey("fd_fail", "k", "v"),   // key 2 -> {y, z}
      OneValuePerKey("fd_pass", "v", "v")))
      .collect().map(r => r.getString(0) -> (r.getBoolean(1), r.getLong(2)))
      .toMap
    assert(out("sum_exceed") == (false, 1L))        // one exceeding row
    assert(out("sum_exceed_budget") == (true, 1L))  // inside the budget
    assert(out("sum_exceed_mult") == (true, 0L))    // 6 <= 10
    assert(out("fd_fail") == (false, 1L))           // one violating key
    assert(out("fd_pass") == (true, 0L))
  }

  test("CheckRunner computes the input lineage exactly once (fused + shared)") {
    // A per-row accumulator UDF proves the scan count: before the round-12
    // fusion, a suite of N whole-table checks re-executed the input N times.
    def probedInput() = {
      val acc = spark.sparkContext.longAccumulator("rows_scanned")
      val tick = udf { (x: Int) => acc.add(1L); x }
      val df = spark.range(100).toDF("id")
        .select(tick(col("id").cast("int")).as("probe"),
          (col("id") % 7).as("k"), (col("id") % 3).as("v"))
      (df, acc)
    }
    // fused-only suite: 4 global-agg checks -> ONE scan
    val (dfA, accA) = probedInput()
    val outA = CheckRunner.run(dfA, Seq(
      NotNull("c1", "probe"), InRange("c2", "probe", -1, 1000),
      RowCount("c3", 100L), SummedNotExceed("c4", "probe", "k", "v",
        multiplier = 1e9)))
      .collect()
    assert(accA.value == 100L, s"fused suite scanned ${accA.value} rows")
    // output rows preserve the caller's check order (the oracle SQL
    // replays the same UNION ALL order)
    assert(outA.map(_.getString(0)).toSeq == Seq("c1", "c2", "c3", "c4"))
    // mixed suite: fused pass + 2 grouped checks -> input still scanned once
    val (dfB, accB) = probedInput()
    CheckRunner.run(dfB, Seq(
      NotNull("c1", "probe"), UniqueKey("c5", Seq("probe")),
      OneValuePerKey("c6", "k", "v")))
      .collect()
    assert(accB.value == 100L, s"mixed suite scanned ${accB.value} rows")
  }

  test("CheckRunner over written parquet starts no execution until used") {
    // a bare-scan suite (the capstone pattern) builds a lazy frame: the
    // fused checks' rows are picked from one shared aggregate, not read
    // back from a checkpointed row
    val dir = java.nio.file.Files.createTempDirectory("graft_lazy_checks").toString
    ParquetSink.write(
      Seq((1, "A", 5.0), (1, "B", 20.0), (2, null, 3.0)).toDF("id", "flag", "v"),
      res, dir)
    val suite = CheckRunner.fromResource(res)
    val (result, actions) =
      actionsDuring(CheckRunner.run(spark.read.parquet(dir), suite))
    assert(actions.isEmpty, actions)
    val rows = result.collect()
    assert(rows.map(_.getString(0)).toSeq === suite.map(_.name))
    assert(rows.map(r => r.getString(0) -> r.getBoolean(1)).toMap === Map(
      "t:pk_unique" -> false, "t:id:not_null" -> true,
      "t:flag:enum" -> true, "t:v:range" -> false))
    // two file scans: the primary-key check's and the ONE fused aggregate
    // the three fused checks share (their picks reuse its exchange)
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Int = (p match {
      case _: FileSourceScanExec => 1
      case _ => 0
    }) + (p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }).map(scans).sum
    assert(scans(result.queryExecution.executedPlan) === 2,
      result.queryExecution.executedPlan)
  }

  test("WeightedQuantile picks smallest value reaching cumulative weight") {
    val df = Seq((1.0, 1.0), (2.0, 1.0), (3.0, 10.0)).toDF("v", "w")
    val got = df.agg(WeightedQuantile($"v", $"w", 1, 2)).head().getDouble(0)
    assert(got == 3.0) // cum: 1,2,12 of 12; first >= 6 is v=3
    val med = Seq((1.0, 5.0), (9.0, 5.0)).toDF("v", "w")
      .agg(WeightedQuantile($"v", $"w", 1, 2)).head().getDouble(0)
    assert(med == 1.0) // cum 5 of 10 reaches exactly half
  }

  test("ForeignKey counts child keys absent from the parent, nulls pass") {
    val child = Seq((1, 10), (2, 10), (3, 99), (4, 98))
      .toDF("id", "parent_id")
      .withColumn("parent_id",
        org.apache.spark.sql.functions.when($"id" === 4, null)
          .otherwise($"parent_id"))
    val parent = Seq((10, "a"), (20, "b")).toDF("pk", "name")
    val out = CheckRunner.run(child, Seq(
        CheckRunner.ForeignKey("child:fk", Seq("parent_id"), parent, Seq("pk"))))
      .collect().head
    assert(!out.getBoolean(1))
    assert(out.getLong(2) == 1) // only id=3 violates; id=4's NULL passes
  }

  test("ParquetSink writes enforced schema with partitioning") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val df = Seq((1, "A", 5.0), (2, "B", 3.0)).toDF("id", "flag", "v")
    ParquetSink.write(df, res, dir, partitionBy = Seq("flag"))
    val back = spark.read.parquet(dir)
    assert(back.count() == 2)
    assert(back.schema("id").dataType == LongType)
  }

  test("Profile.profileTable: nulls, exact small distincts, typed min/max") {
    import graft.checks.Profile
    val df = Seq(
      (Some(1L), Some("x")), (Some(2L), None), (Some(2L), Some("a")),
      (None, Some("x")), (Some(5L), Some("b")))
      .toDF("num", "str")
    val out = Profile.profileTable(df, Seq("num", "str"))
      .orderBy("column").collect()
    val num = out(0); val str = out(1)
    assert(num.getString(0) == "num" && num.getLong(1) == 5 &&
      num.getLong(2) == 1)        // one null
    assert(num.getDouble(3) == 3.0) // {1,2,5} — exact below sketch size
    assert(num.getDouble(4) == 1.0 && num.getDouble(5) == 5.0)
    assert(num.isNullAt(6) && num.isNullAt(7)) // numeric: no string lane
    assert(str.getLong(2) == 1 && str.getDouble(3) == 3.0) // {x,a,b}
    assert(str.isNullAt(4) && str.isNullAt(5))
    assert(str.getString(6) == "a" && str.getString(7) == "x")
  }

  test("Profile.profileTable counts -0.0 and 0.0 as one value, like countDistinct") {
    import graft.checks.Profile
    // the KMV sketch hashes string forms: "-0.0" and "0.0" differ, while
    // every NaN renders "NaN" — countDistinct sees 3 values in both columns
    val negNaN = java.lang.Double.longBitsToDouble(0xfff8000000000000L)
    val df = Seq(0.0, -0.0, 1.0, Double.NaN, negNaN)
      .map(d => (d, d.toFloat)).toDF("d", "f")
    val exact = df.agg(countDistinct($"d"), countDistinct($"f")).head()
    assert(exact.getLong(0) == 3 && exact.getLong(1) == 3)
    val est = Profile.profileTable(df, Seq("d", "f"))
      .select("column", "n_distinct_est").as[(String, Double)]
      .collect().toMap
    assert(est == Map("d" -> 3.0, "f" -> 3.0), s"n_distinct_est: $est")
  }

  test("Profile.correlationMatrix: exact signs, constants null, bit-stable") {
    import graft.checks.Profile
    val df = (1 to 200).map { i =>
      (i.toDouble, 2.0 * i + 5, -3.0 * i, 7.0, (i % 7).toDouble)
    }.toDF("x", "y_pos", "y_neg", "const", "mod")
    val cols = Seq("x" -> 10, "y_pos" -> 10, "y_neg" -> 10,
      "const" -> 10, "mod" -> 10)
    val out = Profile.correlationMatrix(df, cols)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(out(("x", "y_pos")).contains(1.0))   // perfect linear
    assert(out(("x", "y_neg")).contains(-1.0))  // perfect inverse
    assert(out(("x", "const")).isEmpty)         // zero variance -> NULL
    // agrees with Spark's float corr within rounding
    val ref = df.agg(corr(col("x"), col("mod"))).head().getDouble(0)
    assert(math.abs(out(("x", "mod")).get - ref) < 1e-6)
    // exact integer moments: repartition cannot move a single bit
    val out13 = Profile.correlationMatrix(df.repartition(13), cols)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(out13 == out)
  }

  test("Profile.correlationMatrix longMoments: bit-identical, guarded, faster path") {
    import graft.checks.Profile
    // negatives + irregular values exercise the signed hi/lo split
    val df = (1 to 500).map { i =>
      (i - 250.0, math.sin(i) * 1000.0, (i % 13) - 6.0)
    }.toDF("a", "b", "c")
    val cols = Seq("a" -> 100, "b" -> 1000, "c" -> 10)
    def vals(long: Boolean, parts: Int) =
      Profile.correlationMatrix(df.repartition(parts), cols,
          longMoments = long)
        .collect().map(r => ((r.getString(0), r.getString(1)),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    // the long split-accumulator path computes the SAME integer moments:
    // not within tolerance — the same bits, any partitioning
    val dec = vals(long = false, 4)
    assert(vals(long = true, 4) == dec)
    assert(vals(long = true, 17) == dec)
    // overflow safety: quantized magnitudes past 2^31 must fail loudly,
    // never wrap. Under ANSI (this repo's sessions) Spark's own
    // ARITHMETIC_OVERFLOW fires at the long multiply; in non-ANSI
    // deployments the products wrap silently and the post-aggregation
    // guard raises its own message instead — either way, loud.
    val huge = Seq((3.0e9, 1.0), (4.0e9, 2.0)).toDF("a", "b")
    val ex = intercept[Exception] {
      Profile.correlationMatrix(huge, Seq("a" -> 10, "b" -> 10),
        longMoments = true).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(ex).exists(m => m.contains("overflow guard") ||
      m.contains("ARITHMETIC_OVERFLOW")))
    // the decimal fallback handles the same input fine
    assert(Profile.correlationMatrix(huge, Seq("a" -> 10, "b" -> 10))
      .collect().length == 1)
  }

  test("Profile.psiDrift: identical dists ~0, planted shift detected, empty buckets safe") {
    import graft.checks.Profile
    val ref = (Seq.fill(50)("a") ++ Seq.fill(30)("b") ++ Seq.fill(20)("c"))
      .toDF("k")
    // same distribution -> PSI ≈ 0 (add-one smoothing keeps it tiny)
    val same = Profile.psiDrift(ref, ref, "k")
      .select("psi_total").head().getDouble(0)
    assert(math.abs(same) < 1e-9, s"same-dist PSI = $same")
    // planted shift: 'c' disappears, 'd' appears -> full-outer bucket
    // union, zero-count lanes smoothed, PSI well over the 0.25 alarm bar
    val cur = (Seq.fill(20)("a") ++ Seq.fill(30)("b") ++ Seq.fill(50)("d"))
      .toDF("k")
    val drift = Profile.psiDrift(ref, cur, "k").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(drift.keySet == Set("a", "b", "c", "d"))
    assert(drift("c").getLong(2) == 0L && drift("d").getLong(1) == 0L)
    assert(drift("a").getDouble(6) > 0.25, "planted drift not flagged")
    // hand-check one contribution: bucket b is 30/104 on both sides
    val pb = 31.0 / 104.0
    assert(drift("b").getDouble(5) ==
      BigDecimal((pb - pb) * math.log(pb / pb))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("Profile.olsByGroup: exact line recovered, constant-x null lane") {
    import graft.checks.Profile
    val df = ((1 to 50).map(i => ("g1", i.toDouble, 3.5 * i + 2.0)) ++
      (1 to 30).map(i => ("g2", i.toDouble, -0.25 * i + 10.0)) ++
      (1 to 10).map(_ => ("g3", 7.0, 1.0)))
      .toDF("g", "x", "y")
    val out = Profile.olsByGroup(df, Seq("g"), "x" -> 100, "y" -> 100)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("g1").getDouble(2) == 3.5 && out("g1").getDouble(3) == 2.0 &&
      out("g1").getDouble(4) == 1.0)
    assert(out("g2").getDouble(2) == -0.25 && out("g2").getDouble(3) == 10.0)
    assert(out("g3").isNullAt(2) && out("g3").isNullAt(4)) // zero variance
    // exact moments: partitioning is bit-invariant
    val out7 = Profile.olsByGroup(df.repartition(7), Seq("g"),
        "x" -> 100, "y" -> 100)
      .collect().map(r => r.getString(0) -> r.toSeq).toMap
    assert(out7 == out.map { case (k, r) => k -> r.toSeq })
    // the long split-accumulator path computes the SAME integer moments
    // per group: identical bits, any partitioning (incl. negative slopes
    // exercising the signed hi/lo split)
    val outL = Profile.olsByGroup(df.repartition(11), Seq("g"),
        "x" -> 100, "y" -> 100, longMoments = true)
      .collect().map(r => r.getString(0) -> r.toSeq).toMap
    assert(outL == out.map { case (k, r) => k -> r.toSeq })
    // per-group overflow guard: quantized magnitudes past 2^31 fail
    // loudly (ANSI ARITHMETIC_OVERFLOW or the guard's raise), never wrap
    val huge = Seq(("g", 3.0e9, 1.0), ("g", 4.0e9, 2.0)).toDF("g", "x", "y")
    val ex = intercept[Exception] {
      Profile.olsByGroup(huge, Seq("g"), "x" -> 10, "y" -> 10,
        longMoments = true).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(ex).exists(m => m.contains("overflow guard") ||
      m.contains("ARITHMETIC_OVERFLOW")))
  }

  test("Profile.chiSquare: perfect association V=1, independence V=0, empty cells") {
    import graft.checks.Profile
    // perfect association: b is a function of a (diagonal table)
    val dep = (Seq.fill(30)(("a1", "b1")) ++ Seq.fill(20)(("a2", "b2")))
      .toDF("x", "y")
    val d = Profile.chiSquare(dep, "x", "y").collect()
    assert(d.forall(_.getDouble(7) == 1.0)) // cramers_v
    assert(d.length == 4) // full 2x2 grid incl. the two empty cells
    val offDiag = d.filter(r => r.getLong(2) == 0L)
    assert(offDiag.length == 2 &&
      offDiag.forall(r => r.getDouble(4) > 0)) // empty cells contribute E
    // exact independence: proportional rows -> chi2 = 0, V = 0
    val ind = (Seq.fill(40)(("a1", "b1")) ++ Seq.fill(10)(("a1", "b2")) ++
      Seq.fill(20)(("a2", "b1")) ++ Seq.fill(5)(("a2", "b2")))
      .toDF("x", "y")
    val i = Profile.chiSquare(ind, "x", "y").collect()
    assert(i.forall(r => r.getDouble(5) == 0.0 && r.getDouble(7) == 0.0))
    assert(i.forall(r => r.getLong(6) == 1L)) // dof (2-1)(2-1)
  }

  test("Profile.chiSquare: single-category column -> dof 0, cramers_v NULL") {
    import graft.checks.Profile
    // one category on x: least(nA-1, nB-1) = 0 used to divide by zero
    // (NULL in non-ANSI, DIVIDE_BY_ZERO under ANSI); now gated explicitly
    val df = (Seq.fill(12)(("only", "b1")) ++ Seq.fill(8)(("only", "b2")))
      .toDF("x", "y")
    val out = Profile.chiSquare(df, "x", "y").collect()
    assert(out.length == 2)
    assert(out.forall(r => r.getLong(6) == 0L))  // dof
    assert(out.forall(r => r.isNullAt(7)))       // cramers_v gated
    assert(out.forall(r => r.getDouble(5) == 0.0)) // chi2 trivially 0
  }

  test("CheckRunner.run rejects an empty check list explicitly") {
    // an empty suite used to surface as reduce's opaque
    // UnsupportedOperationException after the checkpoint work had run
    val df = Seq((1, "A")).toDF("id", "flag")
    val e = intercept[IllegalArgumentException] {
      CheckRunner.run(df, Seq.empty)
    }
    assert(e.getMessage.contains("empty check list"), e.getMessage)
  }
}
