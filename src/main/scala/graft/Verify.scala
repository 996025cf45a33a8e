package graft

import java.nio.file.{Files, Paths}
import scala.collection.immutable.ListMap

/** Correctness dump, run in a [[Harness.session]]: each
  * `SparkEntry.queries` result → `<outDir>/<name>/` parquet, plus the
  * JSON records `tools/check.py` gates on:
  *  - `oracle_sql.json`: query name → DuckDB oracle SQL;
  *  - `pinned.json`: the rows-only queries' binding contracts (recall
  *    floors, sketch error bounds, ground-truth parity) re-derived
  *    against this fixture ([[ops.Pinned]]);
  *  - `streaming.json`: the streaming/source components run to
  *    completion and compared row for row with their batch twins
  *    ([[ops.StreamingPinned]]).
  *
  * Usage: `runMain graft.Verify <sfDir> <outDir> [q1,q2,...]`. The
  * optional filter dumps just those queries (`tools/check.py` takes the
  * same subset as trailing args); `__streaming__` in it runs the
  * streaming battery alone. `SPARK_GRAFT_SKIP_PINNED=1` and
  * `SPARK_GRAFT_SKIP_STREAMING=1` skip those records. A record that is
  * not written this run is deleted, so `check.py` never gates on a
  * stale one from an earlier fixture or build.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val rawOnly = args.drop(2).headOption
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty) // blank filter arg = no filter, never "none"
    val streamingOnly = rawOnly.exists(_.contains("__streaming__"))
    val only = rawOnly.map(_ - "__streaming__").filter(_.nonEmpty)
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"unknown query name(s) in filter: ${unknown.toSeq.sorted.mkString(",")}")
    }
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    def record(name: String, value: Option[Any]): Unit = {
      val path = Paths.get(s"$outDir/$name.json")
      value match {
        case Some(v) => Harness.json.writeValue(path.toFile, v)
        case None => Files.deleteIfExists(path)
      }
    }
    SparkEntry.queries
      .filter { case _ if streamingOnly && only.isEmpty => false
        case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // a streaming-only run dumps nothing, so it writes no oracle
    // manifest either (check.py would fail every query as missing)
    record("oracle_sql", Option.when(!(streamingOnly && only.isEmpty))(
      SparkEntry.oracleSql))
    val skipPinned = streamingOnly ||
      sys.env.get("SPARK_GRAFT_SKIP_PINNED").exists(_ != "0")
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    val wanted = only.fold(rowsOnly)(rowsOnly.intersect)
    record("pinned", Option.when(!skipPinned && wanted.nonEmpty) {
      // wanted goes INTO Pinned.all so only those queries' pins execute
      val pins = ops.Pinned.all(spark, sfDir, Some(wanted))
        .filter(p => wanted.contains(p.query))
      System.err.println(
        s"[verify] pinned: ${pins.size} checks, ${pins.count(!_.pass)} fail")
      ListMap(pins.groupBy(_.query).toSeq.sortBy(_._1).map { case (name, ps) =>
        name -> ps.map(p => ListMap("metric" -> p.metric, "value" -> p.value,
          "bound" -> p.bound, "op" -> p.op, "pass" -> p.pass))
      }: _*)
    })
    // full runs only: a subset dev loop shouldn't pay the ~2-min battery
    val skipStreaming =
      sys.env.get("SPARK_GRAFT_SKIP_STREAMING").exists(_ != "0") ||
        (only.nonEmpty && !streamingOnly)
    record("streaming", Option.when(!skipStreaming) {
      val scs = ops.StreamingPinned.all(spark, sfDir)
      System.err.println(
        s"[verify] streaming: ${scs.size} checks, ${scs.count(!_.matches)} fail")
      ListMap(scs.map(c => c.component.split(' ').head -> ListMap(
        "component" -> c.component, "impl" -> c.impl, "twin" -> c.twin,
        "rows_compared" -> c.rows, "match" -> c.matches, "note" -> c.note)): _*)
    })
    spark.stop()
  }
}
