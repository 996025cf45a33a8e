package graft.census

import org.apache.spark.sql.{DataFrame, SaveMode}

/** R21/R22 warehouse-load semantics, re-expressed on the Spark catalog
  * (`Test_census_tract.py:210-260`: `create_redshift_table` creates the
  * table if absent, `copy_from_s3_to_redshift` COPY-appends into it;
  * the ZCTA pipeline's rebuild path overwrites).
  *
  * `saveAsTable` / the JDBC writer both carry the same create-if-absent
  * + Append/Overwrite distinction; the SORTKEY clause (R21) becomes the
  * one-partition sorted layout of [[Normalize.sortLikeWarehouse]]
  * applied before the write, the equivalent of a sorted bulk load.
  *
  * `format`: `"parquet"` (default) lands in the session catalog;
  * `"jdbc"` writes to a real warehouse over the wire — the caller
  * supplies `url` (and `driver` if not auto-registered) via `options`,
  * and `table` becomes the JDBC `dbtable`. Both paths share the layout
  * and SaveMode semantics. Tested in `graft.WarehouseSpec` — the JDBC
  * leg against an embedded Derby database (the JDBC driver on the
  * local classpath; a Redshift/Postgres jar slots in identically).
  */
object Warehouse {
  def load(df: DataFrame, table: String, mode: SaveMode,
      sortKeys: Seq[String] = Seq.empty,
      format: String = "parquet",
      options: Map[String, String] = Map.empty): Unit = {
    val laid =
      if (sortKeys.nonEmpty) Normalize.sortLikeWarehouse(df, sortKeys) else df
    val writer = laid.write.mode(mode).options(options)
    format match {
      case "jdbc" => writer.format("jdbc").option("dbtable", table).save()
      case f => writer.format(f).saveAsTable(table)
    }
  }

  /** MERGE upsert (SCD type 1) — the third load mode between the
    * reference's drop-and-recreate (ZCTA) and blind append (tract):
    * `updates` rows replace target rows with equal `keys`
    * (when-matched UPDATE), unmatched `updates` rows insert, unmatched
    * target rows survive — `MERGE INTO t USING u ON t.k = u.k WHEN
    * MATCHED THEN UPDATE * WHEN NOT MATCHED THEN INSERT *`, expressed
    * as one full-outer join + row-existence switch. Both frames must
    * share the target's schema.
    *
    * The switch tests an `__exists` marker, not `coalesce` per column:
    * a matched update row whose NON-key column is legitimately NULL
    * must overwrite the old value with NULL, which a column-wise
    * coalesce would silently keep.
    *
    * Scale shape: ONE shuffle on the merge keys (the same movement a
    * warehouse MERGE does); when `updates` is small relative to the
    * target, a production run can feed this a broadcast hint. Keys
    * compare null-safely (`<=>`) so NULL-keyed rows merge rather than
    * duplicate.
    *
    * PRECONDITION: `updates` must be unique on `keys`. A duplicate
    * update key is the warehouse MERGE cardinality violation (ANSI
    * MERGE errors on multiple matches); the full-outer form would
    * silently fan the target row out instead, so the violation is
    * DETECTED IN-FLIGHT: a codegen'd count-window marker on the update
    * side (no extra job, no driver-side pre-count) fails the action
    * with `MERGE_CARDINALITY_VIOLATION` the moment a duplicate key
    * reaches the join. Pinned in `WarehouseSpec`. */
  def merge(target: DataFrame, updates: DataFrame,
      keys: Seq[String]): DataFrame = {
    val cols = target.columns.toSeq
    require(updates.columns.toSeq == cols,
      s"updates schema ${updates.columns.mkString(",")} != target ${cols.mkString(",")}")
    import org.apache.spark.sql.functions.{col, when}
    val cond = keys.map(k => col(s"t.$k") <=> col(s"u.$k")).reduce(_ && _)
    val u = guardedUpdates(updates, keys)
    target.alias("t").join(u, cond, "full_outer")
      .select(cols.map(c =>
        when(col("u.__exists").isNotNull, col(s"u.$c"))
          .otherwise(col(s"t.$c")).as(c)): _*)
  }

  /** The MERGE cardinality guard shared by [[merge]] and [[mergeScd2]]:
    * the count window rides the SAME shuffle the join needs on the
    * update side (both hash-partition on the keys), so the guard adds
    * no data movement; it is folded INTO the `__exists` marker the
    * output switch reads — a standalone guard column would be pruned
    * away (and the error with it) as dead by ColumnPruning. */
  private def guardedUpdates(updates: DataFrame,
      keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, count, lit, raise_error, when}
    import org.apache.spark.sql.expressions.Window
    val existsOrFail = when(
      count(lit(1)).over(Window.partitionBy(keys.map(col): _*)) > 1,
      raise_error(lit("MERGE_CARDINALITY_VIOLATION: updates contain " +
        s"duplicate merge keys (${keys.mkString(", ")})")))
      .otherwise(lit(true))
    updates.withColumn("__exists", existsOrFail).alias("u")
  }

  /** MERGE with a DELETE arm — the full CDC load shape
    * (`MERGE ... WHEN MATCHED AND op = 'D' THEN DELETE WHEN MATCHED
    * THEN UPDATE * WHEN NOT MATCHED AND op <> 'D' THEN INSERT *`):
    * `changes` carries the target schema plus `opCol` ('U' upsert /
    * 'D' delete). A matched delete removes the target row; a delete
    * of an absent key is a no-op (never an error — CDC replays and
    * out-of-order compaction both produce them); updates/inserts
    * behave exactly as [[merge]]. Same single full-outer shuffle; the
    * delete arm is ONE filter on the joined stream, not a second
    * anti-join pass. Same changes-unique-on-keys precondition,
    * enforced by the same in-flight guard (ANSI MERGE cardinality
    * applies to every arm — an update and a delete for one key in one
    * batch is the violation, not a resolvable race). */
  def mergeWithDeletes(target: DataFrame, changes: DataFrame,
      keys: Seq[String], opCol: String = "op"): DataFrame = {
    val cols = target.columns.toSeq
    require(changes.columns.toSeq == cols :+ opCol,
      s"changes schema ${changes.columns.mkString(",")} != target schema + $opCol")
    import org.apache.spark.sql.functions.{col, lit, when}
    val cond = keys.map(k => col(s"t.$k") <=> col(s"u.$k")).reduce(_ && _)
    val u = guardedUpdates(changes, keys)
    target.alias("t").join(u, cond, "full_outer")
      // matched delete drops the target row; unmatched delete is a
      // no-op row that vanishes here too
      .filter(!(col(s"u.$opCol") <=> lit("D")))
      .select(cols.map(c =>
        when(col("u.__exists").isNotNull, col(s"u.$c"))
          .otherwise(col(s"t.$c")).as(c)): _*)
  }

  /** MERGE upsert, SCD type 2 — the history-PRESERVING load the
    * reference's Redshift warehouse runs beside [[merge]]'s
    * existence-switch overwrite: instead of replacing a matched row,
    * the current (`valid_to IS NULL`) version is CLOSED at the batch
    * time and the incoming attributes open a new version, so every
    * key's attribute timeline survives (`valid_from`/`valid_to` range
    * rows, the Kimball type-2 dimension — public design).
    *
    * `target` carries `keys ++ attrs ++ (validFrom, validTo)`;
    * `updates` carries `keys ++ attrs` (no validity columns — the
    * merge owns them). Per update row, matched against the target's
    * OPEN version of its key:
    *
    *  - attrs CHANGED (any attr not null-safely equal): the open row
    *    closes (`valid_to = asOf`) and a new open row inserts
    *    (`valid_from = asOf`);
    *  - attrs unchanged: the open row passes through untouched — no
    *    spurious version (the idempotence that makes re-running a
    *    batch a no-op);
    *  - key absent from the target: a new open row inserts;
    *  - target rows not matched by any update — ALL history rows and
    *    untouched open rows — pass through unchanged.
    *
    * Scale shape: the SAME single shuffle as [[merge]] — ONE
    * full-outer join on the keys over the whole target (history rows
    * ride along as unmatched left rows; the open-version restriction
    * is part of the join condition, not a second scan), with the
    * changed/unchanged switch and the close+open row pair emitted by
    * one codegen'd `explode` of a per-row struct array. No window over
    * the target, no self-join of versions. Same `updates`-unique-on-
    * keys precondition as [[merge]], enforced by the same in-flight
    * guard; `target` must hold at most one open row per key (the SCD2
    * table invariant — pinned, with the no-overlap law, in
    * `WarehouseSpec`). */
  def mergeScd2(target: DataFrame, updates: DataFrame, keys: Seq[String],
      asOf: org.apache.spark.sql.Column,
      validFrom: String = "valid_from",
      validTo: String = "valid_to"): DataFrame = {
    import org.apache.spark.sql.functions.{array, col, explode, lit, struct, when}
    val cols = target.columns.toSeq
    val attrs = cols.filterNot(c =>
      keys.contains(c) || c == validFrom || c == validTo)
    require(updates.columns.toSeq == keys ++ attrs ||
        updates.columns.toSeq == cols.filterNot(Seq(validFrom, validTo).contains),
      s"updates schema ${updates.columns.mkString(",")} != target business " +
        s"columns ${(keys ++ attrs).mkString(",")}")
    val validFromType = target.schema(validFrom).dataType
    val validToType = target.schema(validTo).dataType
    val cond = keys.map(k => col(s"t.$k") <=> col(s"u.$k")).reduce(_ && _) &&
      col(s"t.$validTo").isNull
    val u = guardedUpdates(updates, keys)
    // `t.valid_from` is non-null on every real SCD2 row, so it doubles
    // as the target-presence marker after the full-outer join
    val tPresent = col(s"t.$validFrom").isNotNull
    val unchanged =
      if (attrs.isEmpty) lit(true)
      else attrs.map(a => col(s"t.$a") <=> col(s"u.$a")).reduce(_ && _)
    val tRow = struct(cols.map(c => col(s"t.$c").as(c)): _*)
    val closedOld = struct(cols.map {
      case c if c == validTo => asOf.cast(validToType).as(validTo)
      case c => col(s"t.$c").as(c)
    }: _*)
    val newOpen = struct(cols.map {
      case c if c == validFrom => asOf.cast(validFromType).as(validFrom)
      case c if c == validTo => lit(null).cast(validToType).as(validTo)
      case c => col(s"u.$c").as(c)
    }: _*)
    target.alias("t").join(u, cond, "full_outer")
      .select(explode(
        when(col("u.__exists").isNull, array(tRow))
          .when(!tPresent, array(newOpen))
          .when(unchanged, array(tRow))
          .otherwise(array(closedOld, newOpen))).as("r"))
      .select(col("r.*"))
  }
}
