package graft

import org.apache.spark.sql.functions._

/** Linkage capstone (`Etl.buildLinkageWide`): the reference's
  * record-linkage pipeline start-to-finish — name canon → phonetic
  * blocking → FS training → prediction → best match — on the supplier
  * fixture's two legal-form dressings of the same entities. */
class LinkageCapstoneSpec extends SparkSpec {

  private lazy val out = Etl.buildLinkageWide(spark, sf).collect()

  test("the lineage runs ONE eager action: the weights+prior collect") {
    // every driver action before the returned frame is used is a barrier
    // the capstone pays on each pass; the skew guard needs none
    import org.apache.spark.graftaccess.Bus
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit = actions.add(funcName)
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = actions.add(funcName)
    }
    Bus.drain(spark.sparkContext) // earlier tests' events stay out
    spark.listenerManager.register(listener)
    try {
      Etl.buildLinkageWide(spark, sf)
      Bus.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    assert(actions.asScala.toSeq === Seq("collect"))
  }

  test("the capstone runs 3 actions: weights collect, write, one validation") {
    val dir = java.nio.file.Files.createTempDirectory("graft_linkcap_actions")
    val ((_, _, failed), actions) =
      actionsDuring(Etl.linkageCapstone(spark, sf, dir.toString))
    assert(failed === 0L)
    assert(actions === Seq("collect" -> false, "command" -> true,
      "collect" -> false), actions)
  }

  private def capstoneRun(): Long = {
    val dir = java.nio.file.Files.createTempDirectory("graft_linkcap_run")
    try {
      val (_, _, failed) = Etl.linkageCapstone(spark, sf, dir.toString)
      failed
    } finally rm(dir.toFile)
  }

  test("a second linkage capstone run reuses its generated classes") {
    // One run fills ~125 codegen cache entries here. Spark's default
    // cache of 100 recompiled ~100 of them on every later run; the cache
    // GraftSession.tune sizes keeps them all. A later run may still
    // compile AQE's plan variants: a join re-planned in another stage
    // completion order can take another shape, which is new code (0-8
    // compiles per run on local[4], two per variant: the driver's class
    // loader and the executor's).
    assert(capstoneRun() === 0L)
    val (failed, compiles) = compilesDuring(capstoneRun())
    assert(failed === 0L)
    assert(compiles <= 16L, s"a warm run compiled $compiles classes")
  }

  test("every job the capstone starts names its table or phase") {
    import org.apache.spark.graftaccess.Bus
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val descriptions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(jobStart: SparkListenerJobStart): Unit =
        descriptions.add(Option(jobStart.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("<none>"))
    }
    Bus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(capstoneRun() === 0L)
      Bus.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    assert(descriptions.asScala.toSet === Set("linkage_capstone:build",
      "out_linkage_matches:write", "linkage_capstone:validate"),
      descriptions.asScala.toSeq)
  }

  test("cleaner is load-bearing: every true pair differs raw, agrees canon") {
    // replicate the two dressings for a handful of ids and check the
    // canon convergence the pipeline depends on
    import graft.functions.CompanyNames
    val ident = concat(lit("id"),
      translate(format_string("%05d", col("k")), "0123456789", "abcdefghij"))
    val probe = spark.range(1, 9).toDF("k")
      .withColumn("a", concat(lit("Acme Power & Light "), ident, lit(" "),
        element_at(array(Seq("LLC", "Inc.", "Corp", "Ltd").map(lit): _*),
          (pmod(col("k"), lit(4)) + 1).cast("int"))))
      .withColumn("b", upper(concat(lit("Acme Power & Light "), ident,
        lit(", "),
        element_at(array(Seq("Ltd Liability Co", "Incorporated",
          "Corporation", "Limited").map(lit): _*),
          (pmod(col("k"), lit(4)) + 1).cast("int")))))
      .select(col("a"), col("b"),
        (CompanyNames.clean(col("a")) === CompanyNames.clean(col("b")))
          .as("eq"),
        (col("a") === col("b")).as("rawEq"))
      .collect()
    assert(probe.forall(!_.getBoolean(3)), "raw names must differ")
    assert(probe.forall(_.getBoolean(2)),
      probe.filterNot(_.getBoolean(2)).take(2).mkString("; "))
  }

  test("one best match per right record; accepted matches are self-matches") {
    val rIds = out.map(_.getLong(0))
    assert(rIds.length == rIds.distinct.length, "r_id must be unique")
    assert(out.nonEmpty)
    val accepted = out.filter(_.getBoolean(7))
    assert(accepted.length * 10 >= out.length * 7,
      s"${accepted.length}/${out.length} accepted — FS should accept most")
    val selfAmongAccepted =
      accepted.count(r => r.getLong(0) == r.getLong(1))
    assert(selfAmongAccepted * 100 >= accepted.length * 95,
      s"$selfAmongAccepted/${accepted.length} accepted are self-matches")
  }

  test("accepted rows clear the 0.9 probability threshold, rejected don't") {
    val thr = math.round(math.log(0.9 / (1.0 - 0.9)) / math.log(2.0) * 1e9)
    assert(out.forall(r => r.getBoolean(7) == (r.getLong(6) >= thr)))
  }

  test("capstone run: write + checks pass end-to-end") {
    val dir = java.nio.file.Files.createTempDirectory("graft_linkcap")
    try {
      val (core, checks, failed) = Etl.linkageCapstone(spark, sf, dir.toString)
      assert(core > 0 && checks >= 0)
      assert(failed == 0, s"$failed failed checks")
    } finally rm(dir.toFile)
  }

  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
    f.delete(); ()
  }
}
