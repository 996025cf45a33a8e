package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.graftbench.SparkInternals
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region: run → pass → op → {construct, execute, layer calls}.
  * All spans of one op carry that op's id. */
final case class Span(id: Int, parent: Int, op: String, name: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder for the driver thread. While disabled, `span`
  * only runs its body. While enabled, it also tags Spark jobs submitted
  * inside the span with the span's name (local property
  * [[Tracer.SpanProp]]), which is how construction-time jobs are told
  * apart from execution jobs. */
final class Tracer(sc: SparkContext) {
  var enabled = false
  var op = ""
  private var nextId = 0
  private val stack = mutable.ArrayBuffer.empty[(Int, String)]
  val spans = mutable.ArrayBuffer.empty[Span]

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      nextId += 1
      val id = nextId
      val parent = stack.lastOption.map(_._1).getOrElse(0)
      stack += ((id, name))
      sc.setLocalProperty(Tracer.SpanProp, name)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.remove(stack.length - 1)
        sc.setLocalProperty(Tracer.SpanProp, stack.lastOption.map(_._2).orNull)
        spans += Span(id, parent, op, name, t0, t1)
      }
    }

  /** Spans that closed after `fromIndex`. */
  def since(fromIndex: Int): Seq[Span] = spans.drop(fromIndex).toSeq
}

object Tracer {
  val SpanProp = "graftbench.span"

  /** Self time per span name: each span's duration minus the time its
    * direct children cover. */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val childTime = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.seconds - childTime.getOrElse(s.id, 0.0)).sum
    }
  }
}

/** Spark-side counters for the layer record: a `SparkListener` for jobs,
  * stages, task metrics and the plans of finished SQL executions (kernel
  * attribution), a `QueryExecutionListener` for Catalyst phase times, and
  * a `StreamingQueryListener` for micro-batch progress. `take()` drains the listener bus and returns
  * (and resets) everything counted since the previous call. */
final class Probe(spark: SparkSession) {
  private val counts = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val batchSeconds = mutable.ArrayBuffer.empty[Double]
  private val stageExec = mutable.Map.empty[Int, Long]
  private val execCpu = mutable.Map.empty[Long, Double].withDefaultValue(0.0)
  private val fnExecs = mutable.Set.empty[Long]

  private def add(k: String, v: Double): Unit = synchronized { counts(k) += v }

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      add("exec.jobs", 1)
      val props = Option(e.properties)
      if (props.flatMap(p => Option(p.getProperty(Tracer.SpanProp))).contains("construct"))
        add("entry.construct_jobs", 1)
      props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(id => synchronized(e.stageIds.foreach(stageExec(_) = id.toLong)))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      add("exec.stages", 1)
      add("exec.tasks", info.numTasks)
      Option(info.taskMetrics).foreach { m =>
        val cpu = m.executorCpuTime / 1e9
        add("exec.task_run_s", m.executorRunTime / 1e3)
        add("exec.task_cpu_s", cpu)
        add("scan.input_bytes", m.inputMetrics.bytesRead)
        add("scan.input_rows", m.inputMetrics.recordsRead)
        add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("shuffle.spill_bytes", m.diskBytesSpilled)
        synchronized(stageExec.get(info.stageId).foreach(execCpu(_) += cpu))
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        if (SparkInternals.queryExecution(end).exists(qe => Probe.usesKernels(qe.executedPlan)))
          synchronized(fnExecs += end.executionId)
      case _ =>
    }
  }

  private val queries = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { p =>
      phases.get(p).foreach(s => add(s"plans.${p}_s", s.durationMs / 1e3))
    }
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        add("streaming.batches", 1)
        Option(p.durationMs.get("triggerExecution"))
          .foreach(ms => synchronized(batchSeconds += ms.longValue / 1e3))
        add("streaming.state_rows", p.stateOperators.map(_.numRowsTotal).sum)
      }
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(queries)
    spark.streams.addListener(streams)
  }

  def detach(): Unit = {
    SparkInternals.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(jobs)
    spark.listenerManager.unregister(queries)
    spark.streams.removeListener(streams)
  }

  def take(): Probe.Sample = {
    SparkInternals.drain(spark.sparkContext)
    synchronized {
      counts("functions.stage_cpu_s") += fnExecs.toSeq.map(execCpu).sum
      val s = Probe.Sample(counts.toMap, batchSeconds.toList)
      counts.clear(); batchSeconds.clear(); stageExec.clear(); execCpu.clear(); fnExecs.clear()
      s
    }
  }
}

object Probe {
  /** Counters of one op, plus its streaming micro-batch durations. */
  final case class Sample(counts: Map[String, Double], batchSeconds: Seq[Double])

  /** True when a physical plan (adaptive stages and subqueries included)
    * evaluates an expression from `graft.functions`. */
  def usesKernels(plan: SparkPlan): Boolean = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
    }
    nodes(plan).exists(_.expressions.exists(_.exists(
      _.getClass.getName.startsWith("graft.functions."))))
  }
}
