package graft

/** Smoke: every declared query runs on sf0.001 and (except pair-finders,
  * which may legitimately be empty at the smallest scale) returns rows.
  * Full value correctness is the driver's DuckDB oracle (Verify +
  * tools/check_oracle.py); this guards against runtime regressions. */
class QueriesSpec extends SparkSpec {

  private val mayBeEmpty = Set("q40_ngram_jaccard", "q41_minhash_lsh")

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name runs on sf0.001") {
      val df = fn(spark, sf)
      val n = df.count()
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned 0 rows")
    }
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("a second run of Bench's headline lanes compiles no new classes") {
    // one run of the twelve lanes fills ~180 codegen cache entries; Spark's
    // default cache of 100 recompiled part of them on every later run.
    // perfbench's five spine lanes alone fill ~85, under 100, so they
    // recompiled only when one of the cache's LRU segments overflowed.
    def pass(): Unit = Bench.headline.foreach { name =>
      SparkEntry.queries(name)(spark, sf)
        .write.format("noop").mode("overwrite").save()
      graft.util.SessionHygiene.releaseAll(spark)
    }
    pass()
    val (_, compiles) = compilesDuring(pass())
    assert(compiles === 0L)
  }

  test("the registry holds 211 lanes, all but the two imputers with an oracle") {
    assert(SparkEntry.lanes.size === 211)
    assert(SparkEntry.lanes.map(_.name).distinct.size === 211)
    assert(SparkEntry.lanes.filter(_.oracle.isEmpty).map(_.name).toSet ===
      Set("q61_matrix_impute", "q81_tubal_impute"))
  }

  test("select returns the named lanes and rejects every unknown name") {
    val picked = SparkEntry.select(Seq("q42_cosine_topk", "q01_pricing_summary",
      "q42_cosine_topk"))
    assert(picked.map(_.name) === Seq("q42_cosine_topk", "q01_pricing_summary"))
    val e = intercept[IllegalArgumentException](SparkEntry.select(
      Seq("q42_cosine_topk", "q999_typo", "q02_region", "q999_typo")))
    assert(e.getMessage.contains("q999_typo, q02_region"))
    assert(!e.getMessage.contains("q42_cosine_topk"))
  }

  test("every oracleSql key has a matching query") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("every oracleSql entry matches its pinned SHA-256 digest") {
    // src/test/resources/oracle_sql.sha256 changes only when a lane's
    // oracle is meant to change; a refactor of the oracle builders must
    // leave every string byte-identical
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/oracle_sql.sha256"), "UTF-8")
    val pinned = try src.getLines()
      .filterNot(l => l.isEmpty || l.startsWith("#"))
      .map { l => val Array(d, k) = l.split("  "); k -> d }.toMap
    finally src.close()
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val actual = SparkEntry.oracleSql.map { case (k, v) =>
      k -> md.digest(v.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    }
    assert(actual.keySet === pinned.keySet)
    val changed = actual.keySet.toSeq.sorted.filter(k => actual(k) != pinned(k))
    assert(changed.isEmpty,
      changed.map(k => s"${actual(k)}  $k").mkString("changed:\n", "\n", ""))
  }
}
