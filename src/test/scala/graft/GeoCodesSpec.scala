package graft

import org.apache.spark.sql.functions._
import graft.functions.{Cleaning, GeoCodes, PortableHash}

class GeoCodesSpec extends SparkSpec {
  import spark.implicits._

  test("portable hex60: JVM twin == Spark column == DuckDB reference values") {
    // Reference values computed independently with python hashlib (== DuckDB
    // md5): int(md5(s).hexdigest()[:15], 16).
    assert(PortableHash.hex60("0_the") == 318072122888941889L)
    assert(PortableHash.hex60("1_quick brown fox") == 271649956553939561L)
    assert(PortableHash.seeded(7, "abc") == 1060178307449739230L)
    val got = Seq("the", "quick brown fox")
      .toDF("s")
      .select(PortableHash.seeded(0, $"s").as("h0"),
        PortableHash.seeded(1, $"s").as("h1"))
      .collect()
    assert(got(0).getLong(0) == PortableHash.seeded(0, "the"))
    assert(got(1).getLong(1) == PortableHash.seeded(1, "quick brown fox"))
  }

  test("PortableHash.combine matches the string_agg SQL twin") {
    // combine(h0, h1) = hex60("h0_h1") on decimal renderings
    val df = Seq((12L, 345L)).toDF("a", "b")
    val got = df.select(
      PortableHash.combine(Seq($"a", $"b")).as("c")).head().getLong(0)
    assert(got == PortableHash.hex60("12_345"))
  }

  test("addFipsIds: normalize + manual fix + broadcast dim + zero-pad") {
    val dim = GeoCodes.nationDim(spark)
    val df = Seq(
      (1L, "  FRANCE  "),     // messy case/space → normalize
      (2L, "UNTIED STATES"),  // known misspelling → manual fix
      (3L, "ATLANTIS")        // unmatched → NULL code
    ).toDF("id", "state")
    val out = GeoCodes.addFipsIds(df, "state", dim, outCol = "fips", width = 3,
        fixes = Map("untied states" -> "united states"))
      .orderBy("id").select("fips").as[Option[String]].collect()
    assert(out.toSeq == Seq(Some("250"), Some("840"), None))
  }

  test("findTimezone: dim hit wins, longitude fallback covers the rest") {
    val dim = GeoCodes.nationDim(spark)
    val df = Seq(
      (1L, "japan", 0.0),       // dim hit → Asia/Tokyo
      (2L, "atlantis", 31.0),   // miss → Etc/GMT-2 (31/15 rounds to 2)
      (3L, "atlantis", -97.0),  // miss → Etc/GMT+6 (-97/15 rounds to -6)
      (4L, "atlantis", 0.0)     // miss → Etc/GMT-0
    ).toDF("id", "state", "lon")
    val out = GeoCodes.findTimezone(df, "state", Some("lon"), dim)
      .orderBy("id").select("timezone").as[String].collect()
    assert(out.toSeq ==
      Seq("Asia/Tokyo", "Etc/GMT-2", "Etc/GMT+6", "Etc/GMT-0"))
  }

  test("US state dim: addFipsIds zero-pads to 2 and finds timezones") {
    val dim = GeoCodes.stateDim(spark)
    val df = Seq((1L, "  California "), (2L, "WEST   VIRGINIA"), (3L, "Texas"))
      .toDF("id", "state")
    val out = GeoCodes.findTimezone(
        GeoCodes.addFipsIds(df, "state", dim, outCol = "fips", width = 2),
        "state", None, dim)
      .orderBy("id").select("fips", "timezone")
      .as[(String, String)].collect().toSeq
    assert(out == Seq(("06", "America/Los_Angeles"),
      ("54", "America/New_York"), ("48", "America/Chicago")))
  }

  test("cleanName applies fixes AFTER normalization") {
    val df = Seq("  UNTIED   STATES ").toDF("s")
    val got = df.select(GeoCodes.cleanName($"s",
      Map("untied states" -> "united states"))).head().getString(0)
    assert(got == "united states")
  }

  test("tz grid answers from LOCATION, beating both state dim and fallback") {
    val dim = GeoCodes.stateDim(spark)
    val grid = GeoCodes.usTzGridDim(spark)
    val rows = Seq(
      // Pensacola FL: state dim says New_York, nautical says Etc/GMT+6 —
      // the grid knows the panhandle is Central
      (1L, "florida", 30.42, -87.22),
      // Las Vegas NV with NO usable state: nautical would say Etc/GMT+8
      (2L, "atlantis", 36.17, -115.14),
      // Phoenix AZ: no-DST zone invisible to both other paths
      (3L, "atlantis", 33.45, -112.07),
      // Detroit MI: grid refines to America/Detroit
      (4L, "atlantis", 42.33, -83.05),
      // missing lat/lng: the state dim fallback answers
      (5L, "hawaii", Double.NaN, Double.NaN),
      // open ocean, no state: nautical fallback answers
      (6L, "atlantis", 30.0, -40.0))
      .toDF("id", "state", "lat", "lon")
      .withColumn("lat", when(isnan($"lat"), lit(null)).otherwise($"lat"))
      .withColumn("lon", when(isnan($"lon"), lit(null)).otherwise($"lon"))
    val out = GeoCodes.findTimezoneGrid(rows, "state", "lat", "lon", dim, grid)
      .orderBy("id").select("timezone").as[String].collect().toSeq
    assert(out == Seq("America/Chicago", "America/Los_Angeles",
      "America/Phoenix", "America/Detroit", "Pacific/Honolulu", "Etc/GMT+3"))
  }

  test("tz grid covers the continental box exactly once per cell") {
    val g = GeoCodes.usTzGrid
    assert(g.size == (25 * 4) * (58 * 4))
    assert(g.map(c => (c._1, c._2)).distinct.size == g.size)
    val zones = g.map(_._3).toSet
    assert(zones == Set("America/New_York", "America/Chicago",
      "America/Denver", "America/Los_Angeles", "America/Phoenix",
      "America/Detroit", "America/Indiana/Indianapolis",
      "America/Boise", "America/Menominee"))
  }

  test("usTzPoint resolves boundary-straddling city pairs like the polygons") {
    import GeoCodes.usTzPoint
    // each pair sits on opposite sides of a legal boundary that a
    // state-level lookup or a 1-degree meridian band gets wrong
    val cases = Seq(
      // Tennessee east/west split
      ((36.16, -86.78), "America/Chicago"),      // Nashville
      ((35.96, -83.92), "America/New_York"),     // Knoxville
      ((35.05, -85.31), "America/New_York"),     // Chattanooga
      // Kentucky split: Louisville Eastern, Bowling Green Central
      ((38.25, -85.76), "America/New_York"),
      ((36.99, -86.44), "America/Chicago"),
      // Alabama is Central even east of the -87.5 meridian band
      ((33.52, -86.80), "America/Chicago"),      // Birmingham
      ((32.46, -84.99), "America/New_York"),     // Columbus GA
      ((34.26, -85.16), "America/New_York"),     // Rome GA (NW corner)
      // Florida panhandle west of the Apalachicola
      ((30.16, -85.66), "America/Chicago"),      // Panama City
      ((30.44, -84.28), "America/New_York"),     // Tallahassee
      // Indiana: NW pocket Central, rest Eastern (own zone)
      ((41.60, -87.35), "America/Chicago"),      // Gary
      ((41.68, -86.25), "America/Indiana/Indianapolis"), // South Bend
      ((39.77, -86.16), "America/Indiana/Indianapolis"), // Indianapolis
      ((37.97, -87.57), "America/Chicago"),      // Evansville (SW pocket)
      // Michigan: Detroit zone + western-UP Menominee zone
      ((42.96, -85.67), "America/Detroit"),      // Grand Rapids
      ((45.82, -88.06), "America/Menominee"),    // Iron Mountain
      ((46.50, -84.35), "America/Detroit"),      // Sault Ste Marie
      // Dakotas / Nebraska / Kansas Mountain staircase
      ((44.08, -103.23), "America/Denver"),      // Rapid City
      ((44.37, -100.35), "America/Chicago"),     // Pierre
      ((46.88, -102.79), "America/Denver"),      // Dickinson ND
      ((48.15, -103.62), "America/Chicago"),     // Williston ND (NW Central)
      ((41.87, -103.66), "America/Denver"),      // Scottsbluff NE
      ((41.12, -100.77), "America/Chicago"),     // North Platte NE
      ((39.35, -101.71), "America/Denver"),      // Goodland KS
      ((39.40, -101.05), "America/Chicago"),     // Colby KS
      // Texas: El Paso Mountain, panhandle Central
      ((31.76, -106.49), "America/Denver"),
      ((35.20, -101.83), "America/Chicago"),     // Amarillo
      // Idaho/Oregon: Boise zone, Pacific panhandle, Malheur county
      ((43.62, -116.20), "America/Boise"),       // Boise
      ((47.68, -116.78), "America/Los_Angeles"), // Coeur d'Alene
      ((44.03, -116.96), "America/Boise"),       // Ontario OR (Malheur)
      ((43.59, -119.05), "America/Los_Angeles"), // Burns OR
      ((43.49, -112.03), "America/Boise"),       // Idaho Falls
      // Mountain/Pacific odds and ends
      ((36.17, -115.14), "America/Los_Angeles"), // Las Vegas
      ((37.10, -113.58), "America/Denver"),      // St George UT
      ((40.76, -111.89), "America/Denver"),      // Salt Lake City
      ((46.87, -113.99), "America/Denver"),      // Missoula MT
      // Arizona: Phoenix no-DST vs Navajo Nation DST
      ((33.45, -112.07), "America/Phoenix"),
      ((36.91, -111.46), "America/Phoenix"),     // Page AZ
      ((35.68, -109.35), "America/Denver"),      // Navajo Nation (Ganado)
      ((32.69, -114.62), "America/Phoenix"),     // Yuma (west of -114.55)
      ((34.85, -114.61), "America/Los_Angeles"), // Needles CA
      // FINAL-declaration sweep (round 10): the remaining tricky pairs
      // the 0.25-degree boundary-rule grid is expected to answer —
      // residual deviation inside straddling cells is the documented
      // closed scope (COVERAGE.md)
      ((37.08, -88.60), "America/Chicago"),      // Paducah KY (west KY)
      ((35.15, -90.05), "America/Chicago"),      // Memphis TN
      ((36.15, -109.55), "America/Denver"),      // Navajo Nation NE AZ
      ((32.71, -103.14), "America/Denver"),      // Hobbs NM
      ((31.99, -102.08), "America/Chicago"),     // Midland TX
      ((30.69, -88.04), "America/Chicago"),      // Mobile AL
      ((30.42, -87.22), "America/Chicago"),      // Pensacola FL
      ((46.54, -87.40), "America/Detroit"),      // Marquette MI (central UP)
      ((44.51, -88.01), "America/Chicago"))      // Green Bay WI
    val misses = cases.collect {
      case ((la, lo), want) if usTzPoint(la, lo) != want =>
        s"($la,$lo): got ${usTzPoint(la, lo)}, want $want"
    }
    assert(misses.isEmpty, misses.mkString("\n"))
  }
}
