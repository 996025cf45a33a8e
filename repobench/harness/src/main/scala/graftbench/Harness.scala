package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

/** Closed-loop, one-client benchmark harness: one JVM per run, ops run one
  * after another on the driver thread.
  *
  * Phases: set-up (session with `graft.GraftExtensions`, inputs opened;
  * "READY" is printed when it ends), a cold pass (empty cache root), then
  * warm passes in a per-pass order drawn from the seed. The first
  * `discard` warm passes settle the JIT and are not counted; counted
  * passes run until `--seconds` have been spent in them. Every op's
  * output is checked after its timed region. The last stdout line is
  * `RESULT <json>`.
  *
  * With `--trace 1`, listeners and spans are attached on the cold pass and
  * on counted passes in blocks of four, traced / untraced / untraced /
  * traced, so that a pass's position in the JVM's warm-up weighs the same
  * on both sides; the tracing overhead is the median over blocks of the
  * traced ÷ untraced pass time − 1. The spans (run → pass → op → layer
  * calls) are written to `--spans` as JSON lines when the run ends.
  *
  * Usage: `graftbench.Harness --workload W --seed N --seconds S --trace 0|1
  *   --work DIR --data DIR [--discard N] [--expected FILE] [--record FILE]
  *   [--spans FILE] [--only op,op] [--corrupt op]`
  */
object Harness {
  final case class OpRun(name: String, pass: Int, seconds: Double,
      failure: Option[String], layers: Map[String, Double], spans: Seq[Span],
      batchSeconds: Seq[Double])

  final case class PassRun(pass: Int, traced: Boolean, ops: Seq[OpRun],
      jvm: Map[String, Double], sinks: Map[String, Double], wallSeconds: Double) {
    def seconds: Double = ops.map(_.seconds).sum
    def verified: Int = ops.count(_.failure.isEmpty)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Linear-interpolated quantile of the pooled samples at the highest
    * percentile (at most 90) that still has 10 samples beyond it. */
  private def tailQuantile(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) return 0.0
    val q = math.max(0.0, math.min(0.9, 1.0 - 10.0 / s.length))
    val pos = q * (s.length - 1)
    val (lo, hi) = (pos.floor.toInt, pos.ceil.toInt)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  private def parse(args: Array[String]): Map[String, String] =
    args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  /** Executor slots (`local[Cores]`) and the fixed shuffle width. One of
    * the host's four cores stays free for the JIT, the GC and other load,
    * so that a stage does not wait on a task whose core is taken; with
    * four slots the warm metrics spread twice as wide across runs. */
  val Cores = 3

  def main(args: Array[String]): Unit = {
    val opt = parse(args)
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val budget = opt("seconds").toDouble
    val trace = opt.get("trace").contains("1")
    val work = opt("work")
    // a traced run discards at least the first warm pass: it is far slower
    // than the ones after it, which the traced/untraced blocks cannot
    // balance out the way they balance a steady trend
    val discard = opt.getOrElse("discard", "1").toInt.max(if (trace) 1 else 0)
    val mapper = new ObjectMapper()

    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoint/streaming")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"$work/checkpoint/rdd")

    val expected = opt.get("expected").filter(p => new File(p).exists).map { p =>
      mapper.readTree(new File(p)).fields().asScala.map { e =>
        e.getKey -> Fingerprint.Print(e.getValue.get("rows").asLong, e.getValue.get("hash").asText)
      }.toMap
    }.getOrElse(Map.empty)
    // self-test hook: a corrupted expected value must surface as a failed op
    val expectedUsed = opt.get("corrupt").fold(expected) { n =>
      expected.updatedWith(n)(_.map(p => p.copy(rows = p.rows + 1)))
    }
    val only = opt.get("only").toSeq.flatMap(_.split(',')).filter(_.nonEmpty)
    val wl = Workloads(workload, spark, opt("data"), expectedUsed, only)
    wl.open()
    val readyS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    println(s"READY $readyS")
    Console.flush()

    val sc = spark.sparkContext
    val tracer = new Tracer(sc)
    val probe = new Probe(spark)
    val cacheRoot = new File(sys.props("graft.cache.root"))

    def files(dir: File): Map[String, Long] =
      if (!dir.exists) Map.empty
      else if (dir.isFile) Map(dir.getPath -> dir.length)
      else Option(dir.listFiles).toSeq.flatten.filterNot(_.getName.startsWith("."))
        .flatMap(f => files(f)).toMap

    def cacheEntries(): Map[String, Long] =
      Option(cacheRoot.listFiles).toSeq.flatten
        .filter(f => f.isDirectory && !f.getName.contains(".tmp_"))
        .map(f => f.getName -> files(f).values.sum).toMap

    // the cold pass runs in declared order, so every seed pays the same
    // first-op JIT; warm passes draw their order from the seed
    def order(pass: Int): Seq[Op] = if (pass == 0) wl.ops else {
      val rnd = new Random(seed * 7919L + pass)
      val left = mutable.ArrayBuffer.from(wl.ops)
      val done = mutable.Set.empty[String]
      val out = mutable.ArrayBuffer.empty[Op]
      while (left.nonEmpty) {
        val ready = left.filter(_.deps.forall(done.contains))
        val pick = ready(rnd.nextInt(ready.length))
        left -= pick; done += pick.name; out += pick
      }
      out.toSeq
    }

    def jvmNow(): Map[String, Double] = Map(
      "jvm.gc_s" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime.max(0L)).sum / 1e3,
      "jvm.jit_s" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3)

    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)

    def runOp(op: Op, ctx: PassCtx, traced: Boolean, seen: mutable.Map[String, Long]): OpRun = {
      val opId = s"p${ctx.pass}/${op.name}"
      sc.setJobGroup(opId, op.name, interruptOnCancel = false)
      tracer.op = opId
      val spanMark = tracer.spans.length
      val cache0 = if (traced) cacheEntries() else Map.empty[String, Long]
      val (calls0, bytes0) = (CountingFetcher.calls.get, CountingFetcher.bytes.get)
      val t0 = System.nanoTime()
      val outcome =
        try Right(tracer.span("op")(op.run(ctx)))
        catch { case NonFatal(e) => Left(e) }
      val secs = (System.nanoTime() - t0) / 1e9
      sc.clearJobGroup()
      val fetched = Map(
        "sources.fetches" -> (CountingFetcher.calls.get - calls0).toDouble,
        "sources.fetch_bytes" -> (CountingFetcher.bytes.get - bytes0).toDouble)
      val sample = if (traced) probe.take() else Probe.Sample(Map.empty, Nil)
      val spans = tracer.since(spanMark)
      val layers = mutable.Map.empty[String, Double] ++ sample.counts ++ fetched
      if (traced) {
        val newCache = cacheEntries() -- cache0.keySet
        layers("cache.builds") = newCache.size.toDouble
        layers("cache.bytes_written") = newCache.values.sum.toDouble
        seen ++= files(new File(ctx.root))
        Seq("construct" -> "entry.construct_s", "sources.scan" -> "sources.scan_s",
          "census.pipeline" -> "census.pipeline_s", "census.merge" -> "census.merge_s",
          "sinks.commit" -> "sinks.commit_s", "sinks.read" -> "sinks.read_s",
          "sinks.vacuum" -> "sinks.vacuum_s").foreach { case (span, metric) =>
          layers(metric) = spans.filter(_.name == span).map(_.seconds).sum
        }
      }
      val failure = outcome match {
        case Left(e) => Some(s"threw $e")
        case Right(check) =>
          try check() catch { case NonFatal(e) => Some(s"check threw $e") }
      }
      if (traced) probe.take() // the check's own jobs are not the op's
      failure.foreach(f => System.err.println(s"[graftbench] FAILED $opId: $f"))
      OpRun(op.name, ctx.pass, secs, failure, layers.toMap, spans, sample.batchSeconds)
    }

    def runPass(pass: Int, traced: Boolean): PassRun = {
      val wall0 = System.nanoTime()
      val root = new File(s"$work/passes/p$pass")
      root.mkdirs()
      tracer.enabled = traced
      if (traced) probe.attach()
      heapPools.foreach(_.resetPeakUsage())
      val jvm0 = jvmNow()
      val seen = mutable.Map.empty[String, Long]
      val ctx = PassCtx(spark, pass, root.getPath, tracer)
      tracer.op = s"p$pass"
      val ops = tracer.span("pass")(order(pass).map(runOp(_, ctx, traced, seen)))
      val jvm = jvmNow().map { case (k, v) => k -> (v - jvm0(k)) } +
        ("jvm.heap_peak_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0)
      if (traced) probe.detach()
      tracer.enabled = false
      val tableDir = s"${root.getPath}/tracts/"
      val tableBytes = seen.filter(_._1.startsWith(tableDir)).values.sum.toDouble
      val firstLoad = seen.filter(_._1.startsWith(s"${tableDir}data/v1-")).values.sum.toDouble
      val sinks = Map(
        "sinks.files_written" -> seen.size.toDouble,
        "sinks.bytes_written" -> seen.values.sum.toDouble,
        "sinks.write_amp" -> (if (firstLoad > 0) tableBytes / firstLoad else 0.0))
      org.apache.commons.io.FileUtils.deleteDirectory(root)
      PassRun(pass, traced, ops, jvm, sinks, (System.nanoTime() - wall0) / 1e9)
    }

    // ---- the run
    val runStart = System.nanoTime()
    val cold = runPass(0, traced = trace)
    val passes = mutable.ArrayBuffer(cold)
    (1 to discard).foreach(p => passes += runPass(p, traced = false))
    val counted = mutable.ArrayBuffer.empty[PassRun]
    // an untraced run counts at least 2 passes, a traced run whole
    // traced/untraced/untraced/traced blocks
    def enough = if (trace) counted.nonEmpty && counted.length % 4 == 0 else counted.length >= 2
    while (!enough || counted.map(_.seconds).sum < budget) {
      val p = 1 + discard + counted.length
      counted += runPass(p, traced = trace && Set(0, 3).contains(counted.length % 4))
    }
    passes ++= counted
    // pass spans have parent 0: the run span closes the tree
    tracer.spans += Span(0, -1, "run", "run", runStart, System.nanoTime())
    opt.get("spans").filter(_ => trace).foreach { path =>
      val w = new java.io.PrintWriter(new File(path), "UTF-8")
      try tracer.spans.foreach { s =>
        w.println(mapper.writeValueAsString(mapper.createObjectNode().put("id", s.id)
          .put("parent", s.parent).put("op", s.op).put("name", s.name)
          .put("start_ns", s.startNs).put("end_ns", s.endNs)))
      } finally w.close()
    }
    val defects = wl.knownDefects()
    spark.stop()

    // ---- end-to-end metrics, from the untraced counted passes
    val warm = counted.filterNot(_.traced).toSeq
    val warmOk = warm.flatMap(_.ops).filter(_.failure.isEmpty)
    val perOpMedian = warmOk.groupBy(_.name).values.map(rs => median(rs.map(_.seconds)))
    val all = passes.flatMap(_.ops)
    val out = mapper.createObjectNode()
    out.put("workload", workload)
    out.put("ops_attempted", all.length)
    out.put("ops_failed", all.count(_.failure.isDefined))
    val fails = out.putArray("failures")
    all.flatMap(r => r.failure.map(f => s"p${r.pass}/${r.name}: $f")).take(20).foreach(fails.add)
    val known = out.putObject("known_defects")
    defects.foreach { case (k, v) => known.put(k, v) }
    out.put("cold_ops_per_s", cold.verified / cold.seconds)
    out.put("warm_ops_per_s", warm.map(_.verified).sum / warm.map(_.seconds).sum)
    out.put("warm_geomean_s",
      if (perOpMedian.isEmpty) 0.0 else math.exp(perOpMedian.map(math.log).sum / perOpMedian.size))
    out.put("warm_p90_s", tailQuantile(warmOk.map(_.seconds)))
    out.put("cold_pass_s", cold.seconds)
    out.put("warm_pass_median_s", median(warm.map(_.seconds)))
    out.put("passes_discarded", discard)
    val passSecs = out.putArray("pass_seconds")
    passes.foreach(p => passSecs.add(p.seconds))
    val passWalls = out.putArray("pass_wall_seconds")
    passes.foreach(p => passWalls.add(p.wallSeconds))
    out.put("passes_counted", counted.length)
    val opTimes = out.putObject("op_seconds")
    warm.flatMap(_.ops).groupBy(_.name).toSeq.sortBy(_._1).foreach { case (n, rs) =>
      opTimes.putObject(n).put("warm_median", median(rs.map(_.seconds)))
        .put("cold", cold.ops.find(_.name == n).fold(0.0)(_.seconds)) }
    wl match {
      case e: EntryWorkload =>
        val fp = out.putObject("fingerprints")
        e.seen.toSeq.sortBy(_._1).foreach { case (n, p) =>
          fp.putObject(n).put("rows", p.rows).put("hash", p.hash) }
      case _ =>
    }
    if (trace) layerReport(out, cold, counted.toSeq, wl, Cores)
    opt.get("record").foreach { path =>
      mapper.writerWithDefaultPrettyPrinter().writeValue(new File(path), out.get("fingerprints"))
    }
    out.put("jvm_uptime_s", ManagementFactory.getRuntimeMXBean.getUptime / 1e3)
    println("RESULT " + mapper.writeValueAsString(out))
  }

  /** Per-layer record: for every metric the cold-pass value and the median
    * over the traced counted passes; and the tracing overhead from the
    * counted passes' traced/untraced/untraced/traced blocks. */
  private def layerReport(out: ObjectNode, cold: PassRun, counted: Seq[PassRun],
      wl: Workload, slots: Int): Unit = {
    val traced = counted.filter(_.traced)
    def passMetrics(p: PassRun): Map[String, Double] = {
      val sum = p.ops.flatMap(_.layers).groupMapReduce(_._1)(_._2)(_ + _)
      val taskRun = sum.getOrElse("exec.task_run_s", 0.0)
      val scans = p.ops.filter(_.name.startsWith("census_scan"))
      val scanBytes = scans.map(_.layers.getOrElse("sources.fetch_bytes", 0.0)).sum
      val derived = Map(
        "exec.slot_idle_ratio" -> (1.0 - taskRun / (p.seconds * slots)),
        "streaming.batch_p50_s" -> median(p.ops.flatMap(_.batchSeconds)),
        "sources.fetch_amplification" ->
          (if (scans.isEmpty || wl.sourceBytes == 0) 0.0
           else scanBytes / (scans.length * wl.sourceBytes.toDouble)))
      val selfTimes = Tracer.selfTimes(p.ops.flatMap(_.spans)).map {
        case (n, v) => s"span.$n.self_s" -> v }
      sum ++ derived ++ p.jvm ++ p.sinks ++ selfTimes
    }
    val coldM = passMetrics(cold)
    val warmM = traced.map(passMetrics)
    val names = (LayerMetrics ++ coldM.keys ++ warmM.flatMap(_.keys)).distinct
      .filterNot(_.startsWith("streaming.batch_s"))
    // cold − warm construction per op: what the cold pass paid for caches
    val construct = (p: PassRun) => p.ops.map(r => r.name -> r.layers.getOrElse("entry.construct_s", 0.0)).toMap
    val warmConstruct = traced.map(construct)
    val buildS = construct(cold).map { case (n, c) =>
      math.max(0.0, c - median(warmConstruct.flatMap(_.get(n)))) }.sum
    val layers = out.putObject("layers")
    names.sorted.foreach { n =>
      val node = layers.putObject(n)
      if (n == "cache.build_s") { node.put("cold", buildS); node.put("warm", 0.0) }
      else {
        node.put("cold", coldM.getOrElse(n, 0.0))
        node.put("warm", median(warmM.map(_.getOrElse(n, 0.0))))
      }
    }
    val overhead = counted.grouped(4).map { b =>
      val (t, u) = b.partition(_.traced)
      t.map(_.seconds).sum / u.map(_.seconds).sum - 1.0
    }.toSeq
    out.put("trace.overhead_ratio", median(overhead))
  }

  /** Every per-layer metric the report always carries, zero where a
    * workload does not touch the layer. */
  val LayerMetrics: Seq[String] = Seq(
    "entry.construct_s", "entry.construct_jobs",
    "plans.analysis_s", "plans.optimization_s", "plans.planning_s",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_s", "exec.task_cpu_s",
    "exec.slot_idle_ratio",
    "scan.input_bytes", "scan.input_rows",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.fetch_wait_s", "shuffle.spill_bytes",
    "functions.stage_cpu_s",
    "cache.builds", "cache.bytes_written", "cache.build_s",
    "sources.fetches", "sources.fetch_bytes", "sources.fetch_amplification", "sources.scan_s",
    "census.pipeline_s", "census.merge_s",
    "sinks.commit_s", "sinks.read_s", "sinks.files_written", "sinks.bytes_written",
    "sinks.write_amp",
    "streaming.batches", "streaming.batch_p50_s", "streaming.state_rows",
    "jvm.gc_s", "jvm.jit_s", "jvm.heap_peak_mb")
}
