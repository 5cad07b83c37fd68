package graft

import org.apache.spark.sql.functions._
import graft.schema.{Field, FieldType, Resource}
import graft.sources.Extractor
import graft.sources.Extractor.Partition

class EtlSpec extends SparkSpec {
  import spark.implicits._

  test("Extractor unions partitions through column maps and enforces schema") {
    val d1 = java.nio.file.Files.createTempDirectory("graft_ex1").toString
    val d2 = java.nio.file.Files.createTempDirectory("graft_ex2").toString
    // two "years" of the same logical table with drifted raw column names
    Seq((1L, 10.0)).toDF("plant_id", "cap").write.mode("overwrite").parquet(d1)
    Seq((2L, 20.0, "x")).toDF("plant", "capacity_mw", "junk")
      .write.mode("overwrite").parquet(d2)
    val res = Resource("plants", Seq(
      Field("plant_id", FieldType.Integer, required = true),
      Field("capacity_mw", FieldType.Number)))
    val out = Extractor.extract(spark, Seq(
      Partition(d1, columnMap = Map("plant_id" -> "plant_id", "cap" -> "capacity_mw")),
      Partition(d2, columnMap = Map("plant" -> "plant_id", "capacity_mw" -> "capacity_mw"))),
      res)
    assert(out.columns.toSeq == Seq("plant_id", "capacity_mw"))
    val rows = out.orderBy("plant_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(rows.toSeq == Seq((1L, 10.0), (2L, 20.0)))
  }

  test("Etl.build outputs conform to their declared resources and checks pass") {
    val outputs = Etl.build(spark, sf)
    val cust = Etl.customerSummary.enforceSchema(outputs(Etl.customerSummary.name))
    val supp = Etl.supplierYearly.enforceSchema(outputs(Etl.supplierYearly.name))
    assert(cust.count() > 0 && supp.count() > 0)
    import graft.checks.CheckRunner
    val custFails = CheckRunner.run(cust,
      CheckRunner.fromResource(Etl.customerSummary))
      .where(!col("passed")).count()
    val suppFails = CheckRunner.run(supp,
      CheckRunner.fromResource(Etl.supplierYearly))
      .where(!col("passed")).count()
    assert(custFails == 0 && suppFails == 0)
  }

  test("Etl.capstone: chained wide lineage writes, validates, conserves revenue") {
    val dir = java.nio.file.Files.createTempDirectory("graft_capstone").toString
    val (sec, _, failed) = Etl.capstone(spark, sf, dir)
    assert(sec > 0 && failed == 0)
    val metrics = spark.read.parquet(s"$dir/${Etl.supplierMetrics.name}")
    val parts = spark.read.parquet(s"$dir/${Etl.plantParts.name}")
    assert(metrics.count() > 0 && parts.count() > 0)
    // ownership allocation conserves: summed allocated revenue equals the
    // total price of orders that HAVE lineitems (fraction sums to 1 per
    // such order; the synthetic fixture leaves ~2% of orders without
    // lineitems and those carry no ownership to allocate). Tolerance
    // covers double summation order + round(2).
    val orders = Tables.load(spark, sf, "orders")
    val lineitem = Tables.load(spark, sf, "lineitem")
    val expected = orders.join(lineitem,
        col("o_orderkey") === col("l_orderkey"), "left_semi")
      .agg(sum("o_totalprice")).as[Double].head()
    val got = metrics.agg(sum("alloc_revenue")).as[Double].head()
    assert(math.abs(got - expected) / expected < 1e-6,
      s"allocation lost mass: $got vs $expected")
    // the three grains each cover all suppliers exactly once at the
    // supplier grain, and every region row aggregates >= 1 supplier
    val supParts = parts.where(col("grain") === "supplier")
    assert(supParts.count() ==
      metrics.select("s_suppkey").distinct().count())
    // true-grain: the finest grain wins every signature collision, so
    // every supplier-grain row with a unique signature is true
    assert(parts.where(col("grain") === "supplier" && !col("true_gran"))
      .count() == 0)
  }

  test("corpus capstone: chained data pipeline writes, validates, and filters correctly") {
    val out = java.nio.file.Files.createTempDirectory("graft_corpus_cap").toString
    val (_, _, failed) = Etl.corpusCapstone(spark, "/root/testdata/sf0.01", out)
    assert(failed === 0L, s"corpus capstone failed $failed checks")
    val result = spark.read.parquet(s"$out/${Etl.corpusWide.name}")
    val docs = Tables.load(spark, "/root/testdata/sf0.01", "documents")
    val n = result.count()
    assert(n > 0 && n < docs.count()) // every stage filtered something
    // no benchmark doc (decontamination source slice) survives
    assert(result.where(col("doc_id") % 37 === 0).count() == 0)
    // near-dup canonicalization kept only cluster minima: no surviving
    // doc is a dup of a smaller surviving doc (q69's is_dup semantics)
    val dup = graft.dedup.NearDup.jaccardPairs(docs, "doc_id", "text",
        n = 3, thresholdNum = 1, thresholdDen = 4)
      .select(org.apache.spark.sql.functions.greatest(col("id_a"),
        col("id_b")).as("doc_id")).distinct()
    assert(result.join(dup, Seq("doc_id"), "left_semi").count() == 0)
    // mixture: every language's kept tokens stay within one boundary doc
    // of half that language's pre-mixture tokens (the budget rule)
    val kept = result.groupBy("lang")
      .agg(sum("n_tokens").as("kept")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept.nonEmpty && kept.values.forall(_ > 0))
    // tokenizer accounting (stage 7): every word yields >= 1 subword
    // piece under the trained unigram vocab, and multi-char pieces make
    // the total strictly less than the character count
    val pieceRows = result.select("n_tokens", "n_pieces").collect()
    assert(pieceRows.forall(r => r.getLong(1) >= r.getLong(0)),
      "n_pieces must be >= n_tokens (each word >= 1 piece)")
    // stage 8: model-ready pairs — one (input, target) row per kept doc,
    // same split/placement, T5 sentinel contract held
    val pairs = spark.read.parquet(s"$out/${Etl.corpusPairs.name}")
    assert(pairs.count() === n)
    assert(pairs.join(result, Seq("doc_id", "split", "shard", "chunk_id"))
      .count() === n, "pairs must carry the wide frame's placement")
    val sentinel = "<extra_id_(\\d+)>".r
    pairs.collect().foreach { r =>
      val ns = r.getAs[Long]("n_spans").toInt
      val inIds = sentinel.findAllMatchIn(r.getAs[String]("input_text"))
        .map(_.group(1).toInt).toSeq
      assert(inIds === (0 until ns), s"doc ${r.getAs[Long]("doc_id")}")
      assert(r.getAs[String]("target_text").endsWith(s"<extra_id_$ns>"))
    }
    // fraction-based decontamination keeps a superset of the any-hit
    // survivors: dirty (>= 10% overlap) implies contaminated (any hit)
    val eval = docs.where(col("doc_id") % 37 === 0)
    val train = docs.where(col("doc_id") % 37 =!= 0)
    val anyHitSurvivors = graft.dedup.NearDup.decontaminate(
        train, eval, "doc_id", "text", n = 4)
      .where(!col("contaminated")).select("doc_id")
    assert(anyHitSurvivors.join(
        graft.dedup.NearDup.contaminationReport(
            train, eval, "doc_id", "text", n = 4)
          .where(col("dirty")).select("doc_id"),
        Seq("doc_id"), "left_semi").count() === 0,
      "a doc with zero eval hits can never be dirty")
  }

  test("capstone golden row counts: manifest matches, any drift fails") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft_golden_spec").toString
    Etl.writeOutputs(out, Etl.etlOutputs, Etl.buildWide(spark, sf))
    val observed = Etl.rowCounts(spark, out, Etl.etlOutputs)

    // identity golden -> no drift
    assert(Etl.rowCountDrift(observed, observed).isEmpty)

    // one changed count, one removed partition, one phantom -> 3 drifts
    val doctored = observed
      .withColumn("n_rows",
        when(col("partition") === "supplier", col("n_rows") + 1)
          .otherwise(col("n_rows")))
      .where(col("partition") =!= "region")
      .unionByName(Seq(("ghost_table", "2099", 5L))
        .toDF("table_name", "partition", "n_rows"))
    assert(Etl.rowCountDrift(observed, doctored).count() === 3)

    // the committed manifest pins the graded scale factors; this spec's
    // sf0.001 run must NOT be pinned (capstone skips the diff for
    // unpinned labels), while sf0.01 and sf0.1 slices must exist
    val golden = spark.createDataFrame(Etl.rowCountGoldens)
    assert(golden.where(col("sf") === "sf0.01").count() > 0)
    assert(golden.where(col("sf") === "sf0.1").count() > 0)
    // and the committed slice agrees with a fresh sf0.01 build end-to-end
    // via the capstone itself (checks + golden diff all pass)
    val capOut = java.nio.file.Files.createTempDirectory("graft_cap_gold").toString
    val (_, _, failed) = Etl.capstone(spark, "/root/testdata/sf0.01", capOut)
    assert(failed === 0L, s"capstone failed $failed checks at sf0.01")
  }

  test("a broken golden manifest fails loudly, naming the line or path") {
    val header = "sf,table_name,partition,n_rows"
    val good = Etl.parseRowCountGoldens(Seq(header, "sf0.01,out_t,1995,7"))
    assert(good === Seq(Etl.GoldenCount("sf0.01", "out_t", "1995", 7L)))
    // a line that is not four fields, and a count that is not an integer
    for (bad <- Seq("sf0.01,out_t,1995", "sf0.01,out_t,1995,7,8",
                    "sf0.01,out_t,1995,seven", "")) {
      val e = intercept[IllegalStateException](
        Etl.parseRowCountGoldens(Seq(header, "sf0.1,out_t,1995,3", bad)))
      assert(e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
    val noHeader = intercept[IllegalStateException](
      Etl.parseRowCountGoldens(Seq("sf0.01,out_t,1995,7")))
    assert(noHeader.getMessage.contains(header), noHeader.getMessage)
    val missing = intercept[IllegalStateException](
      Etl.readRowCountGoldens("/goldens/no_such_manifest.csv"))
    assert(missing.getMessage.contains("/goldens/no_such_manifest.csv"),
      missing.getMessage)
  }

  test("Etl.capstone validates in ONE action after its last write") {
    // every output is written first; then the CheckRunner suites and the
    // golden drift of both tables are one lazy plan, collected once
    // the sf0.01 fixture beside `sf`: the manifest pins it, so the golden
    // drift is part of the validation plan
    val sf001 = new java.io.File(new java.io.File(sf).getParentFile, "sf0.01")
    val dir = java.nio.file.Files.createTempDirectory("graft_cap_actions")
    val ((_, _, failed), actions) = actionsDuring(
      Etl.capstone(spark, sf001.getPath, dir.toString))
    assert(failed === 0L)
    val lastWrite = actions.lastIndexWhere(_._2)
    assert(actions.count(_._2) === 2, actions)
    assert(actions.drop(lastWrite + 1).map(_._1) === Seq("collect"), actions)
  }

  test("the corpus capstone runs its pinned sequence of actions") {
    // every eager barrier before the writes, in order; a refactor that
    // moves or adds one changes this sequence
    val dir = java.nio.file.Files.createTempDirectory("graft_corpus_actions")
    val ((_, _, failed), actions) =
      actionsDuring(Etl.corpusCapstone(spark, sf, dir.toString))
    assert(failed === 0L)
    val ckpt = "localCheckpoint" -> false
    assert(actions === Seq(
      "collect" -> false, // ConnectedComponents' routing collect
      ckpt,               // the quality-scored accounting frame
      ckpt,               // the kept accounting frame
      ckpt, ckpt, ckpt,   // unigram word dictionary, seed vocab, EM round 1
      ckpt,               // EM round 2, read by the per-word encode
      "command" -> true, "command" -> true, // the two parquet writes
      "collect" -> false), actions)         // the one validation action
  }
}
