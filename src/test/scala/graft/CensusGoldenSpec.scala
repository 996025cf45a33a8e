package graft

import org.apache.spark.sql.Row
import graft.census.{Mapping, Normalize}

/** Golden test pinning the reference's census semantics end to end
  * (`Test_census_tract.py:171-175` None-fill + expected-first ordering,
  * `:352-359` header normalization + mapping rename + unmapped audit,
  * `:398` concat-by-name, plus the COPY-time blank/sentinel cleaning of
  * SURVEY §1.2): two "states" with different column subsets go through
  * the full pipeline and must produce exactly the golden rows. */
class CensusGoldenSpec extends SparkTestBase {
  import scala.jdk.CollectionConverters._
  import org.apache.spark.sql.types._

  private def df(cols: Seq[String], rows: Seq[Seq[String]]) = {
    val schema = StructType(cols.map(StructField(_, StringType, nullable = true)))
    spark.createDataFrame(rows.map(r => Row(r: _*)).asJava, schema)
  }

  // Raw API-shaped frames: geo columns lowercase (as the Census API
  // returns them), estimate codes upper, state_fips appended (R4).
  private val stateAL = df(
    Seq("NAME", "DP02_0060E", "S0101_C01_001E", "state", "county", "tract", "state_fips"),
    Seq(
      Seq("Tract 1, AL", "1200", "300", "01", "001", "000100", "01"),
      Seq("Tract 2, AL", "  ", "-666666666", "01", "001", "000200", "01")))

  private val stateAK = df(
    Seq("NAME", "DP03_0062E", "state", "county", "tract", "state_fips"),
    Seq(Seq("Tract 9, AK", "52000", "02", "013", "000300", "02")))

  private val expected = Seq("NAME", "DP02_0060E", "DP03_0062E", "S0101_C01_001E")
  private val estimates = Map(
    "Less than High School" -> false,
    "Median Household Income" -> false,
    "Total Population" -> false)

  test("normalizeHeader matches the reference transform") {
    assert(Normalize.normalizeHeader(" dp02-0060e ") == "DP02_0060E")
    assert(Normalize.normalizeHeader("state") == "STATE")
  }

  test("unmapped-column audit excludes geo/identity columns") {
    val un = Normalize.unmappedColumns(
      Normalize.normalizeHeaders(stateAL), Mapping.codeToLabel)
    assert(un == Set.empty)
  }

  test("full census pipeline produces the golden rows") {
    val out = Normalize.censusPipeline(
      Seq(stateAL, stateAK), expected, Mapping.codeToLabel, estimates,
      Seq("STATE_FIPS", "COUNTY", "TRACT"))

    // pandas-concat column order: first frame's conformed order, then
    // columns only present in later frames appended
    assert(out.columns.toSeq == Seq("NAME", "Less than High School",
      "Median Household Income", "Total Population",
      "STATE", "COUNTY", "TRACT", "STATE_FIPS"))

    val rows = out.collect().map(r => (
      r.getString(0),
      Option(r.getDecimal(1)).map(_.longValueExact()),
      Option(r.getDecimal(2)).map(_.longValueExact()),
      Option(r.getDecimal(3)).map(_.longValueExact()),
      r.getString(5), r.getString(6), r.getString(7))).toSeq

    val golden = Seq(
      ("Tract 1, AL", Some(1200L), None, Some(300L), "001", "000100", "01"),
      ("Tract 2, AL", None, None, None, "001", "000200", "01"),
      ("Tract 9, AK", None, Some(52000L), None, "013", "000300", "02"))
    assert(rows == golden)
  }

  test("raw headers that match expected only after normalization don't duplicate") {
    // "dp02-0060e " normalizes to DP02_0060E — conformance must happen on
    // normalized names or a NULL duplicate column appears (round-4 fix)
    val raw = df(
      Seq("NAME", "dp02-0060e ", "state", "county", "tract", "state_fips"),
      Seq(Seq("Tract X, AL", "77", "01", "001", "000900", "01")))
    val out = Normalize.censusPipeline(
      Seq(raw), Seq("NAME", "DP02_0060E"), Mapping.codeToLabel,
      Map("Less than High School" -> false), Seq("STATE_FIPS"))
    assert(out.columns.count(_ == "Less than High School") == 1)
    val r = out.collect().head
    assert(r.getDecimal(out.columns.indexOf("Less than High School"))
      .longValueExact() == 77L)
  }

  test("cleanCast: blanks and suppression sentinels become NULL") {
    import org.apache.spark.sql.functions._
    val d = df(Seq("v"), Seq(Seq("42"), Seq(""), Seq("   "), Seq("-666666666"),
      Seq("-888888888")))
      .select(Normalize.cleanCast(col("v")).as("c"))
    assert(d.collect().map(r => Option(r.get(0)).map(_.toString)).toSeq ==
      Seq(Some("42"), None, None, None, None))
  }

  test("percent codes clean-cast to DECIMAL(5,1)") {
    import org.apache.spark.sql.functions._
    val d = df(Seq("v"), Seq(Seq("12.3"), Seq("")))
      .select(Normalize.cleanCast(col("v"), percent = true).as("c"))
    assert(d.schema("c").dataType.typeName == "decimal(5,1)")
    assert(d.collect().map(r => Option(r.get(0)).map(_.toString)).toSeq ==
      Seq(Some("12.3"), None))
  }

  test("percent codes under ANSI: a sentinel and a blank clean to NULL") {
    import org.apache.spark.sql.functions._
    val prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      val d = df(Seq("v"), Seq(Seq("-666666666"), Seq(""), Seq("  "), Seq("7.25")))
        .select(Normalize.cleanCast(col("v"), percent = true).as("c"))
      assert(d.schema("c").dataType.typeName == "decimal(5,1)")
      assert(d.collect().map(r => Option(r.get(0)).map(_.toString)).toSeq ==
        Seq(None, None, None, Some("7.3")))
    } finally spark.conf.set("spark.sql.ansi.enabled", prev)
  }

  test("cleaning builds one Project per input frame, whatever the code count") {
    import org.apache.spark.sql.catalyst.plans.logical.Project
    val geo = Seq("state", "county", "tract")
    for (codes <- Seq(Mapping.codeToLabel.keys.toSeq.sorted.take(1),
        Mapping.codeToLabel.keys.toSeq.sorted)) {
      val frame = df(("NAME" +: codes) ++ geo,
        Seq(("Tract 1" +: codes.map(c => if (c.endsWith("PE")) "1.5" else "3")) ++
          Seq("01", "001", "000100")))
      val estimates = codes.map(c => Mapping.codeToLabel(c) -> c.endsWith("PE")).toMap
      val out = Normalize.censusPipeline(Seq(frame), "NAME" +: codes,
        Mapping.codeToLabel, estimates, Seq("STATE", "COUNTY", "TRACT"))
      val projects = out.queryExecution.logical.collect { case p: Project => p }
      assert(projects.size == 1, s"${codes.size} codes: ${projects.size} Projects")
      assert(out.columns.toSeq ==
        ("NAME" +: codes.map(Mapping.codeToLabel)) ++ geo.map(_.toUpperCase))
    }
  }

  test("census states domain: 51 zero-padded FIPS, unassigned removed") {
    val fips = ops.SortsCensus.censusStates(spark, sfDir)
      .collect().map(_.getString(0)).toSeq
    assert(fips.size == 51)
    assert(fips.head == "01" && fips.last == "56")
    assert(!fips.contains("03") && !fips.contains("43"))
    assert(fips == fips.sorted)
  }
}
