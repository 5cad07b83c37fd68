package graft

import org.apache.spark.sql.SparkSession

/** GraftExtensions registers native expressions as SQL functions — the SQL
  * front door (SURVEY §3.3) sees them like built-ins. Builds its own
  * session (extensions bind at session build), sharing the JVM's
  * SparkContext, and restores the shared session afterwards. */
class ExtensionsSpec extends org.scalatest.funsuite.AnyFunSuite {

  private def withExtensions(body: SparkSession => Unit): Unit = {
    val prior = TestSession.spark // ensure the shared context exists
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try body(GraftSession.tune(
      SparkSession.builder().master("local[2]")
        .withExtensions(new graft.plans.GraftExtensions),
      shufflePartitions = 2).getOrCreate())
    finally {
      SparkSession.setDefaultSession(prior)
      SparkSession.setActiveSession(prior)
    }
  }

  test("word_shingles and float_dot_product are callable from SQL") {
    withExtensions { spark =>
      val sh = spark.sql(
        "SELECT word_shingles('a b c d', 3) AS s").head().getSeq[String](0)
      assert(sh == Seq("a b c", "b c d"))
      val d = spark.sql(
        """SELECT float_dot_product(
          |  array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
          |  array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d""".stripMargin)
        .head().getDouble(0)
      assert(d == 11.0)
      // hex60: must match the JVM twin (and therefore DuckDB's md5 form)
      val h = spark.sql("SELECT hex60('0_the') AS h").head().getLong(0)
      assert(h == graft.functions.PortableHash.hex60("0_the"))
      assert(h == 318072122888941889L)
      val jw = spark.sql(
        "SELECT jaro_winkler('MARTHA', 'MARHTA') AS jw").head().getDouble(0)
      assert(jw == 0.9611111111111111)
      // metaphone: same code as the Column form / driver twin
      val mp = spark.sql(
        "SELECT metaphone('Acme Power') AS mp").head().getString(0)
      assert(mp == "AKM PWR")
      assert(mp == graft.functions.Phonetics.metaphone("Acme Power"))
      // geometry expressions: unit square ∩ offset unit square = 0.25
      def sq(ox: Double, oy: Double) =
        s"""array(struct(${ox}d AS x, ${oy}d AS y),
           |  struct(${ox + 1}d AS x, ${oy}d AS y),
           |  struct(${ox + 1}d AS x, ${oy + 1}d AS y),
           |  struct(${ox}d AS x, ${oy + 1}d AS y))""".stripMargin
      val ia = spark.sql(
        s"SELECT polygon_intersect_area(${sq(0, 0)}, ${sq(0.5, 0.5)}) AS a")
        .head().getDouble(0)
      assert(math.abs(ia - 0.25) < 1e-12)
      val clipped = spark.sql(
        s"SELECT size(convex_clip(${sq(0, 0)}, ${sq(0.5, 0.5)})) AS n")
        .head().getInt(0)
      assert(clipped == 4)
      // zorder_key: same interleave as the Column form / driver reference
      val zs = spark.sql(
        "SELECT zorder_key(3, 5, 4) AS z, zorder_key(0, 0, 4) AS z0, " +
          "zorder_key(1, 2, 3, 2) AS z3").head()
      def refZ(dims: Seq[Long], bits: Int): Long =
        (for (i <- 0 until bits; (v, d) <- dims.zipWithIndex)
          yield ((v >> i) & 1L) << (i * dims.size + d)).sum
      assert(zs.getLong(0) == refZ(Seq(3L, 5L), 4))
      assert(zs.getLong(1) == 0L)
      assert(zs.getLong(2) == refZ(Seq(1L, 2L, 3L), 2))
      // WKB bridge: writer emits canonical LE bytes, reader round-trips;
      // force_multi upgrades a single polygon to MultiPolygon (type 6)
      val wkb = spark.sql(
        """SELECT lower(hex(wkb_from_polygons(p))) AS h,
          |  wkb_to_polygons(wkb_from_polygons(p, true)).wkb_type AS t
          |FROM (SELECT array(array(array(
          |  named_struct('x', 0.0d, 'y', 0.0d),
          |  named_struct('x', 4.0d, 'y', 0.0d),
          |  named_struct('x', 4.0d, 'y', 4.0d),
          |  named_struct('x', 0.0d, 'y', 4.0d)))) AS p)""".stripMargin).head()
      assert(wkb.getString(0).startsWith("010300000001000000" + "05000000"))
      assert(wkb.getInt(1) == 6)
    }
  }

  test("long_sq_dist is callable from SQL; mismatched lengths throw") {
    withExtensions { spark =>
      val d = spark.sql(
        "SELECT long_sq_dist(array(1L, -2L, 30L), array(4L, 2L, 30L)) AS d")
        .head().getLong(0)
      assert(d == 25L)
      val e = intercept[Exception](spark.sql(
        "SELECT long_sq_dist(array(1L, 2L, 3L), array(1L, 2L)) AS d").collect())
      val chain = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).mkString(" | ")
      assert(chain.contains("long_sq_dist: array lengths differ (3 vs 2)"), chain)
    }
  }

  test("a wrong-arity call fails naming the function") {
    withExtensions { spark =>
      val e = intercept[Exception](
        spark.sql("SELECT float_dot_product(array(CAST(1.0 AS FLOAT))) AS d").collect())
      val chain = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).mkString(" | ")
      assert(chain.contains("float_dot_product: wrong number of arguments (1)"), chain)
    }
  }
}
