package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.graftaccess.Internals
import org.apache.spark.sql.types.{BooleanType, IntegerType, LongType, StringType}

/** Catalyst integration point: registers graft's native expressions in the
  * session FunctionRegistry so they are first-class SQL functions —
  * `spark.sql("SELECT float_dot_product(a, b)")`,
  * `SELECT word_shingles(text, 3)` — usable from the engine's SQL front
  * door (SURVEY §3.3) exactly like built-ins, with the same codegen path
  * as the Column API.
  *
  * Activate with
  * `.config("spark.sql.extensions", "graft.plans.GraftExtensions")` or
  * `.withExtensions(new GraftExtensions)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    /** Registers `name`; argument lists `build` does not match fail with
      * the function's name, the argument count and its usage. */
    def register(name: String, usage: String)(
        build: PartialFunction[Seq[Expression], Expression]): Unit =
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, ""),
        (args: Seq[Expression]) => build.applyOrElse(args, (_: Seq[Expression]) =>
          throw new IllegalArgumentException(
            s"$name: wrong number of arguments (${args.length}); usage: $usage"))))

    register("float_dot_product",
      "float_dot_product(a, b) - dot product of two float arrays in double precision") {
      case Seq(a, b) => FloatDotProduct(a, b)
    }
    register("long_sq_dist",
      "long_sq_dist(a, b) - exact integer squared euclidean distance of two bigint arrays") {
      case Seq(a, b) => LongSqDist(a, b)
    }
    register("word_shingles",
      "word_shingles(text, n) - distinct lowercase word n-gram shingles") {
      case Seq(text, Literal(n: Int, IntegerType)) => WordShingles(text, n)
      case Seq(_, other) => throw new IllegalArgumentException(
        s"word_shingles: n must be an integer literal, got $other")
    }
    register("jaro_winkler",
      "jaro_winkler(a, b) - Jaro-Winkler similarity (boost threshold 0.7, prefix cap 4)") {
      case Seq(a, b) => JaroWinkler(a, b)
    }
    register("metaphone",
      "metaphone(s) - Metaphone phonetic code (Philips 1990), per word, " +
        "joined with spaces; the reference's splink blocking key function") {
      case Seq(s) => Metaphone(s)
    }
    register("convex_clip",
      "convex_clip(subject, clip) - Sutherland-Hodgman intersection ring of a simple polygon with a CONVEX clip ring") {
      case Seq(subject, clip) => ConvexClip(subject, clip)
    }
    register("polygon_intersect_area",
      "polygon_intersect_area(a, b) - exact intersection area of two simple (possibly concave) polygon rings") {
      case Seq(a, b) => PolygonIntersectArea(a, b)
    }
    // the portable 60-bit MD5-prefix hash (graft.functions.PortableHash) as
    // a SQL function — the same native Md5Prefix60 expression as the
    // Column form, bit-identical to DuckDB's
    // ('0x'||substr(md5(x),1,15))::BIGINT
    register("hex60",
      "hex60(x) - portable 60-bit hash: first 15 hex digits of md5(x) as a BIGINT") {
      case Seq(x) => Md5Prefix60(Cast(x, StringType))
    }
    // Morton/Z-order key as SQL: Layout.zorderValue's mask-and-multiply
    // sum (plain codegen'd long arithmetic), for clustered writes from the
    // SQL front door
    register("zorder_key",
      "zorder_key(d1, d2, ..., bits) - Morton/Z-order interleave of the" +
        " low `bits` bits of each dimension as a BIGINT (bits*dims <= 62)") {
      case args if args.length >= 3 =>
        val bits = args.last match {
          case Literal(v: Int, IntegerType) => v
          case Literal(v: Long, LongType) => v.toInt
          case _ => throw new IllegalArgumentException(
            "zorder_key: bits must be an integer literal")
        }
        Internals.converted(
          graft.operators.Layout.zorderValue(args.init.map(Internals.column), bits))
    }
    register("wkb_from_polygons",
      "wkb_from_polygons(polys[, force_multi]) - little-endian WKB" +
        " Polygon/MultiPolygon bytes from polygons x open rings x vertices") {
      case Seq(polys) => WkbFromPolygons(polys, false)
      case Seq(polys, Literal(force: Boolean, BooleanType)) => WkbFromPolygons(polys, force)
      case Seq(_, other) => throw new IllegalArgumentException(
        s"wkb_from_polygons: force_multi must be a boolean literal, got $other")
    }
    register("wkb_to_polygons",
      "wkb_to_polygons(bin) - decode WKB Polygon/MultiPolygon bytes to" +
        " struct<wkb_type, polys: polygons x open rings x vertices>") {
      case Seq(bin) => WkbToPolygons(bin)
    }
  }
}
