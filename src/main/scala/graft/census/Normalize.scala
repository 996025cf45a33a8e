package graft.census

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import graft.functions.CleanDecimal

/** The reference's data-processing semantics (SURVEY.md §2.1 R5-R11,
  * R20-R23), re-expressed as pure DataFrame→DataFrame transforms.
  *
  * Each function cites the behavior it reproduces from
  * `/root/reference/Test_census_tract.py` / `test_final_zcta.py`.
  * All transforms are narrow: none shuffles. [[sortLikeWarehouse]]
  * mirrors the Redshift SORTKEY as one partition sorted in place.
  */
object Normalize {

  /** R7 (`Test_census_tract.py:352,382`): header normalization —
    * `replace('-','_')`, upper-case, strip. */
  def normalizeHeader(name: String): String =
    name.replace('-', '_').toUpperCase.trim

  /** Apply [[normalizeHeader]] to every column name. */
  def normalizeHeaders(df: DataFrame): DataFrame =
    df.toDF(df.columns.map(normalizeHeader).toIndexedSeq: _*)

  /** R8 (`Test_census_tract.py:354`): rename columns via the broadcast
    * mapping dict with identity fallback. Mapping keys are matched against
    * normalized (upper/trim) names, like the reference's upper-cased dict. */
  def renameByMapping(df: DataFrame, mapping: Map[String, String]): DataFrame = {
    val renames = df.columns.flatMap { c =>
      mapping.get(normalizeHeader(c)).map(c -> _)
    }.toMap
    df.withColumnsRenamed(renames)
  }

  /** R9 (`Test_census_tract.py:356-359`): columns that are neither mapped
    * nor geo/identity — the reference logs a warning for these. */
  def unmappedColumns(df: DataFrame, mapping: Map[String, String]): Set[String] =
    df.columns.map(normalizeHeader).toSet -- mapping.keySet -- Mapping.geoColumns

  /** R5 (`Test_census_tract.py:171-172`): NULL-fill expected-but-absent
    * columns, then R6 (`:174-175`): expected columns first in declared
    * order, extras appended in their original order. */
  def conformSchema(df: DataFrame, expected: Seq[String]): DataFrame =
    df.select(conformOrder(df.columns.toSeq, expected).map {
      case (c, Some(_)) => ref(c)
      case (c, None) => nullString.as(c)
    }: _*)

  /** The R5/R6 column order as (output name, present input column): the
    * expected columns in declared order (`None` = absent, NULL-filled),
    * then the extras in their original order. */
  private def conformOrder(present: Seq[String],
      expected: Seq[String]): Seq[(String, Option[String])] = {
    val have = present.toSet
    expected.map(c => c -> Some(c).filter(have)) ++
      present.filterNot(expected.contains).map(c => c -> Some(c))
  }

  private val nullString: Column = lit(null).cast(StringType)

  /** A column by its exact name: census labels hold spaces, `$`, `<`
    * and `,`, and a name is never parsed as a nested-field path. */
  private def ref(name: String): Column = col(s"`${name.replace("`", "``")}`")

  /** R10 (`Test_census_tract.py:398`): vertical concat aligning by column
    * name, NULL-filling mismatches (pandas concat semantics). */
  def unionByNameAll(dfs: Seq[DataFrame]): DataFrame =
    dfs.reduce(_.unionByName(_, allowMissingColumns = true))

  /** Census suppressed-value sentinels are ≤ -6e8 (§1.2), e.g.
    * -666666666. */
  final val SentinelCeiling = -600000000L

  /** §1.2 sentinel semantics: a sentinel → NULL on a numeric column. */
  def sentinelToNull(c: Column): Column =
    when(c <= SentinelCeiling, lit(null)).otherwise(c)

  /** Full cleaning of one raw STRING estimate cell (R22 + §1.2): blank →
    * NULL, cast to DECIMAL(18,0) (counts) or DECIMAL(5,1) (percent
    * codes), sentinel → NULL — the one native expression
    * [[graft.functions.CleanDecimal]], which reads each cell once. A
    * percent cell is rounded to one decimal and sentinel-checked before
    * it narrows to (5,1): DECIMAL(5,1) cannot hold -666666666, and under
    * ANSI the narrowing would throw instead of yielding NULL. */
  def cleanCast(c: Column, percent: Boolean = false): Column =
    CleanDecimal(c, percent)

  /** R21 (`Test_census_tract.py:236-237`): the Redshift
    * `SORTKEY (state_fips, county, tract)` expressed as a Spark layout —
    * one partition, sorted within it: a totally-ordered write layout
    * without a shuffle. A range repartition would give the same order
    * at the cost of a `RangePartitioner` sampling job, which runs the
    * whole input once more, and a shuffle; the reference's largest
    * load, every US tract (about 85k rows a vintage), sorts no faster
    * that way, and AQE coalesces its shuffle to one partition anyway. */
  def sortLikeWarehouse(df: DataFrame, keys: Seq[String]): DataFrame =
    df.coalesce(1)
      .sortWithinPartitions(keys.map(col).toIndexedSeq: _*)

  /** End-to-end reference orchestration (`Test_census_tract.py:316-408`
    * plus the COPY-time cleaning of R22/§1.2): each per-state frame is
    * schema-conformed, header-normalized, renamed by the code→label
    * mapping, its estimate columns cleaned by [[cleanCast]] (blank→NULL,
    * sentinel→NULL, decimal cast: one small expression per cell), then
    * everything is concatenated by column name and laid out in warehouse
    * sort order. `estimates` maps the *renamed* column label to its
    * percent-code flag (DECIMAL(5,1) vs (18,0)).
    * Each frame's steps compose into ONE `select`: a chain of per-column
    * `withColumn`s re-analyses a plan one `Project` deeper per code.
    * Pinned by the golden test in `graft.CensusGoldenSpec`. */
  def censusPipeline(
      perState: Seq[DataFrame],
      expected: Seq[String],
      mapping: Map[String, String],
      estimates: Map[String, Boolean],
      sortKeys: Seq[String]): DataFrame = {
    val prepared = perState.map { df =>
      // normalize FIRST: a raw header like "dp02-0060e " must unify with
      // its expected name before conformance, or conformance would add
      // a NULL duplicate of a column that only matches post-normalization
      val rawOf = df.columns.map(c => normalizeHeader(c) -> c).toMap
      df.select(conformOrder(df.columns.toSeq.map(normalizeHeader),
          expected.map(normalizeHeader)).map { case (name, present) =>
        val label = mapping.getOrElse(name, name)
        val raw = present.fold(nullString)(n => ref(rawOf(n)))
        estimates.get(label).fold(raw)(cleanCast(raw, _)).as(label)
      }: _*)
    }
    sortLikeWarehouse(unionByNameAll(prepared), sortKeys)
  }
}
