package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.graft.Bridge
import scala.collection.mutable

/** Dev profiling main: runs named registered queries exactly as [[Bench]]
  * does ([[Harness.session]], [[Harness.warmTables]], one uncounted
  * warm-up rep, then timed [[Harness.runNoop]] reps) with a
  * SparkListener attached, so optimization work targets the measured
  * cost, not a guess. After the last rep of each query it prints:
  *  - the stage report: jobs, stages, task counts, per-stage wall time,
  *    input and shuffle bytes; each stage row names the job row it ran
  *    under and the operator scopes of its RDDs (`WholeStageCodegen (2)`,
  *    `Exchange`, …) — under AQE a stage's own name is the thread-pool
  *    call site, which says nothing about the operator;
  *  - one row per job (ms, job description) — operators that label
  *    their rounds via `setJobDescription` get per-round cost here;
  *  - the query's `explain("formatted")` plan;
  *  - every rep's seconds and their min.
  *
  * Usage: `runMain graft.Prof <sfDir> <reps> q1 [q2 ...]`
  */
object Prof {
  private class L extends SparkListener {
    case class St(name: String, job: Int, tasks: Int, ms: Long,
      shufR: Long, shufW: Long, input: Long)
    val stages = mutable.ArrayBuffer[St]()
    val jobRows = mutable.ArrayBuffer[(Long, String)]()
    private val jobStart = mutable.Map[Int, (Long, String)]()
    private val stageJob = mutable.Map[Int, Int]()
    private val jobRow = mutable.Map[Int, Int]()
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      jobStart(j.jobId) = (j.time, Option(j.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse(""))
      j.stageIds.foreach(s => stageJob.getOrElseUpdate(s, j.jobId))
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      jobStart.remove(j.jobId).foreach { case (t0, desc) =>
        jobRow(j.jobId) = jobRows.size
        jobRows += ((j.time - t0, desc))
      }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val i = s.stageInfo
      val m = i.taskMetrics
      val scopes = i.rddInfos.sortBy(_.id)
        .flatMap(Bridge.rddScopeName).map(_.trim).distinct
      stages += St(
        if (scopes.isEmpty) i.name.takeWhile(_ != '\n')
        else scopes.mkString(", "),
        stageJob.getOrElse(i.stageId, -1), i.numTasks,
        i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L),
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.inputMetrics.bytesRead)
    }
    def reset(): Unit = {
      stages.clear(); jobRows.clear(); jobStart.clear()
      stageJob.clear(); jobRow.clear()
    }
    def report(): String = {
      val head = s"jobs=${jobRows.size} stages=${stages.size} " +
        s"tasks=${stages.map(_.tasks).sum} stageMs=${stages.map(_.ms).sum} " +
        s"jobMs=${jobRows.map(_._1).sum}"
      val rows = stages.map { s =>
        val job = jobRow.get(s.job).fold("job?")(r => s"job$r")
        f"    ${s.ms}%6dms t=${s.tasks}%3d in=${s.input / 1024}%8dK " +
        f"sr=${s.shufR / 1024}%7dK sw=${s.shufW / 1024}%7dK  " +
        f"$job%-6s ${s.name}%.70s"
      }
      val jobs = jobRows.zipWithIndex.map { case ((ms, desc), i) =>
        f"    job$i%-3d ${ms}%6dms  ${desc}%.60s" }
      (head +: (rows ++ jobs)).mkString("\n")
    }
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, reps, names) = (args(0), args(1).toInt, args.drop(2).toSeq)
    val spark = Harness.session()
    val l = new L
    spark.sparkContext.addSparkListener(l)
    Harness.warmTables(spark, sfDir)
    for (n <- names) {
      val fn = SparkEntry.queries(n)
      Harness.runNoop(fn(spark, sfDir)) // warm-up: FixtureCache builds, JIT
      val times = (1 to reps).map { _ =>
        Thread.sleep(50); l.reset()
        Harness.runNoop(fn(spark, sfDir))
      }
      println(f"[prof] $n rep$reps ${times.last}%.3fs\n" + l.report())
      println(fn(spark, sfDir).queryExecution
        .explainString(ExplainMode.fromString("formatted")))
      println(f"[prof] $n reps=${times.map(t => f"$t%.3f").mkString(",")} " +
        f"min=${times.min}%.3f")
    }
    spark.stop()
  }
}
