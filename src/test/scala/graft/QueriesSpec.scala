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

  test("every oracleSql key has a matching query") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }
}
