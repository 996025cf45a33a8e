package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, Row, SparkSession, Dataset}

/** The ONE deliberate bridge into Spark's `private[sql]` surface, kept
  * to one-line calls. Building a [[org.apache.spark.sql.Dataset]]
  * from a custom [[LogicalPlan]] node (the documented extension path
  * for whole-operator semantics: LogicalPlan + Strategy + SparkPlan,
  * SURVEY.md §7.3 / graft.plans.AsOfJoin) has no public constructor —
  * `Dataset.ofRows` is `private[sql]`, so every engine that ships a
  * custom operator (including Spark's own connectors) hosts a shim in
  * this package. No other graft code touches non-public API. */
object Bridge {

  /** Wrap an (already analyzed/resolved) logical plan as a DataFrame. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The analyzed logical plan of a DataFrame (resolved attributes —
    * what a custom operator composes over). */
  def analyzedPlan(df: Dataset[Row]): LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed

  /** `StructType.merge` (`private[sql]`): how the parquet `mergeSchema`
    * read option combines the schemas of the files it reads. */
  def mergeSchemas(a: StructType, b: StructType, caseSensitive: Boolean): StructType =
    a.merge(b, caseSensitive)
}
