package graft

import com.fasterxml.jackson.core.json.JsonWriteFeature
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** The one entry harness of the mains ([[Bench]], [[Prof]], [[Verify]],
  * [[GenScale]]): the session factory, the table warm-up, the timed
  * noop-sink run and the JSON writer. Every main gets the same session,
  * so the oracle gate runs under the conf the bench times.
  *
  * Session knobs (read by [[confs]]):
  *  - `SPARK_GRAFT_CPUS`: `local[N]` cores; default
  *    `Runtime.availableProcessors`.
  *  - `SPARK_GRAFT_SHUFFLE_PARTITIONS`: the INITIAL shuffle width;
  *    default = cores. Under AQE the width is a ceiling (coalescing only
  *    merges; nothing re-splits an oversized partition except skew-join
  *    handling), so at sf100 single tasks carried multi-GB sort/hash
  *    working sets at width 32 — graph_clustering_coeff and graph_kcore
  *    ran out of execution memory — and passed at 256. Size the initial
  *    width for the data and let AQE coalesce the tail.
  *  - `SPARK_GRAFT_IO_CODEC`: shuffle/spill codec (default lz4). zstd
  *    trades CPU for a markedly better shuffle ratio; the sf100 wedge
  *    family (graph_triangles et al.) died on shuffle-scratch disk, not
  *    on plan shape.
  *  - `SPARK_GRAFT_CHECKPOINT_DIR`: routes every iterative op's lineage
  *    cut through RELIABLE `Dataset.checkpoint`
  *    ([[ops.Util.CheckpointDirConf]]) instead of `localCheckpoint`.
  *    Local checkpoint blocks live in the block manager and PIN the
  *    protected storage half of the unified pool — at sf100 the graph
  *    family's checkpointed frames squeezed execution memory until
  *    aggregation could not acquire its minimum page. On-disk
  *    checkpoints are also the only posture that survives executor
  *    loss; small fixtures keep the faster local form.
  *
  * Any other conf reaches the session as a `spark.*` JVM system
  * property (e.g. `JAVA_TOOL_OPTIONS=-Dspark.x=y`).
  */
object Harness {

  private val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** The session confs for `env` — pure, so a spec can check the
    * env→conf mapping without starting a SparkContext. */
  def confs(env: Map[String, String]): Seq[(String, String)] = {
    def knob(k: String): Option[String] = env.get(k).filter(_.nonEmpty)
    val cpus = knob("SPARK_GRAFT_CPUS")
      .getOrElse(Runtime.getRuntime.availableProcessors.toString)
    Seq(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" ->
        knob("SPARK_GRAFT_SHUFFLE_PARTITIONS").getOrElse(cpus),
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.extensions" -> "graft.GraftExtensions",
      "spark.ui.enabled" -> "false") ++
      knob("SPARK_GRAFT_IO_CODEC").map("spark.io.compression.codec" -> _) ++
      knob("SPARK_GRAFT_CHECKPOINT_DIR").map(ops.Util.CheckpointDirConf -> _)
  }

  /** The session every main runs in: [[confs]] of the process env, log
    * level WARN. */
  def session(): SparkSession = {
    val spark = confs(sys.env)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Touch every table once (file listing, footer reads, codegen JIT of
    * the scan path) so the first timed query does not absorb session
    * start-up. A missing table is skipped and named; fatal errors
    * (OOM, linkage) propagate. */
  def warmTables(spark: SparkSession, sfDir: String): Unit =
    for (tbl <- Tables)
      try runNoop(ops.Util.t(spark, sfDir, tbl))
      catch { case NonFatal(e) =>
        System.err.println(s"[harness] warm-up skip $tbl: ${e.getMessage}")
      }

  /** Run `df`'s FULL plan through the noop sink (every row produced and
    * discarded; `count()` would let Catalyst prune projections and drop
    * final sorts) and return the seconds taken. By-name, so building
    * the DataFrame — eager checkpoints and index reads included — is
    * inside the timed window. */
  def runNoop(df: => DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** The JSON writer of the mains' artifacts: Scala maps, seqs and
    * numbers as JSON; NaN/Infinity unquoted, as a Python reader expects. */
  val json: ObjectMapper = JsonMapper.builder()
    .addModule(DefaultScalaModule)
    .disable(JsonWriteFeature.WRITE_NAN_AS_STRINGS)
    .build()
}
