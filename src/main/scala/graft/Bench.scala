package graft

import com.fasterxml.jackson.databind.JsonNode
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import scala.util.Try

/** Benchmark main: times every registered query against
  * `SPARK_GRAFT_SF_DIR` in a [[Harness.session]] and prints two JSON
  * lines, mirrored to `SPARK_GRAFT_BENCH_OUT` (default
  * `BENCH_LOCAL.json`).
  *
  * Each query runs its FULL plan through [[Harness.runNoop]], so the
  * timed plan is the one the oracle checks. Per query: one warm-up rep,
  * timed separately and discarded (it pays codegen JIT, FixtureCache
  * builds and broadcast warm-up, which only ever inflate a median), then
  * `SPARK_GRAFT_BENCH_REPS` (default 3) reps reported as their MEDIAN —
  * single runs on a shared local session swing 3-5x from scheduler/JIT
  * noise. Any failed rep fails the query: it is listed in "failed" and
  * never reported as the median of its surviving reps. "value" is the
  * sum of medians, "value_min" the sum of per-query minima (noise only
  * ever inflates a rep, so the min is the contention-immune number),
  * "wall_sec" the whole loop.
  *
  * Knobs, beside the session knobs of [[Harness.confs]]:
  *  - `SPARK_GRAFT_BENCH_ONLY=q1,q2`: time just those queries.
  *  - `SPARK_GRAFT_BENCH_REWARM=1`: re-read the fixture bytes before
  *    each query. At sf>=1 the suite's own shuffle scratch evicts
  *    fixture pages, so later queries would read cold while earlier
  *    ones read warm; re-reading restores the state an isolated run's
  *    warm-up produces, so in-suite ≈ isolated by construction.
  *  - `SPARK_GRAFT_BENCH_FORK=1`: one JVM per query (see [[forkMain]]).
  *
  * Artifact layout — a truncating log capture keeps only the TAIL of stdout:
  *  - The big line leads with the `rep_outliers` diagnostic (raw reps of
  *    any query whose reps spread more than 2x), then the per-query map
  *    ordered by median ascending (failed queries, -1, first; the
  *    slowest last), then the headline scalars, so a head-truncated
  *    capture keeps the total and the slow families. Last comes
  *    `cold_sec`, each query's discarded first rep (in fork mode, each
  *    child's `warmup_sec`): the cold time a fresh cache root pays.
  *  - The compact line (<200 chars) is printed LAST, after
  *    `spark.stop()`, so nothing Spark logs on shutdown can follow it.
  *    `contention_ratio` is wall clock over what a quiet host spends
  *    (Σ medians × reps + the measured warm-up total); `warmup_sec`
  *    tells a cold-cache run from a contended one.
  *  - Keys are additions-only: none is renamed or reordered.
  */
object Bench {
  val DefaultReps = 3

  /** One query's outcome: median and min seconds when every rep passed,
    * the warm-up seconds, and the raw rep times. */
  private[graft] case class Result(name: String, sec: Option[Double],
    min: Option[Double], warmSec: Double, reps: Seq[Double])

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
  }

  /** Parse one fork-mode child artifact (both JSON lines, in order) into
    * (median sec, min sec, warm-up sec). Each key is read from the first
    * line that carries it. Pinned by `BenchForkSpec`:
    *  - A child that catches a per-rep exception still exits 0 but
    *    reports `-1.0` and lists the query in its own "failed" array, so
    *    exit code alone is not a pass signal.
    *  - The per-query number is read INSIDE the "queries" object: a
    *    query named like a headline key (value, reps, ...) must not bind
    *    the headline.
    *  - value_min is the child's min over its reps, so the parent's sum
    *    matches normal mode's Σ per-query minima. A missing or negative
    *    value_min falls back to the median, never to a failure.
    *  - An empty or malformed artifact is a failure with warm-up 0. */
  private[graft] def parseChildArtifact(name: String, artifact: String,
      exit: Int): (Option[Double], Option[Double], Double) = {
    val lines = Try(Harness.json.readerFor(classOf[JsonNode])
      .readValues[JsonNode](artifact).readAll().asScala.toSeq).getOrElse(Nil)
    def field(k: String): Option[JsonNode] =
      lines.iterator.flatMap(l => Option(l.get(k))).nextOption()
    def num(n: JsonNode): Option[Double] =
      Option(n).filter(_.isNumber).map(_.asDouble)
    val childFailed = field("failed").exists(_.size > 0)
    val sec = field("queries").flatMap(q => num(q.get(name)))
      .filter(v => exit == 0 && v >= 0 && !childFailed)
    val secMin = field("value_min").flatMap(num)
      .filter(v => sec.isDefined && v >= 0).orElse(sec)
    (sec, secMin, field("warmup_sec").flatMap(num).getOrElse(0.0))
  }

  /** FORK mode: every query in its OWN JVM — one subprocess per query,
    * same classpath and --add-opens/-Xmx/-D flags as this process, all
    * other env inherited. A long suite in one JVM accumulates heap aging
    * (FixtureCache builds, allocator fragmentation) that swings
    * single-rep numbers both ways, and no in-process protocol removes
    * it. Cost: one session start-up (~20 s) per query, so this is the
    * sf>=1 rung tool, not the sf0.1 default. The merged artifact has the
    * normal shape plus `"fork":1`, less the in-process-only
    * `warmup`/`contention_ratio`. */
  private def forkMain(sfDir: String, names: Seq[String], reps: Int): Unit = {
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
      .filter(a => a.startsWith("--add-opens") || a.startsWith("-Xmx")
        || a.startsWith("-Xms") || a.startsWith("-D"))
    val cp = System.getProperty("java.class.path")
    val wall0 = System.nanoTime()
    val results = names.map { name =>
      val out = java.nio.file.Files.createTempFile("graft_fork_", ".json")
      val log = java.nio.file.Files.createTempFile("graft_fork_", ".log")
      val pb = new ProcessBuilder(
        (Seq(javaBin) ++ jvmArgs ++ Seq("-cp", cp, "graft.Bench")).asJava)
      pb.environment().put("SPARK_GRAFT_BENCH_ONLY", name)
      pb.environment().put("SPARK_GRAFT_BENCH_OUT", out.toString)
      pb.environment().remove("SPARK_GRAFT_BENCH_FORK")
      pb.redirectErrorStream(true)
      pb.redirectOutput(log.toFile)
      val exit = pb.start().waitFor()
      val artifact = Try(java.nio.file.Files.readString(out)).getOrElse("")
      val (sec, secMin, warm) = parseChildArtifact(name, artifact, exit)
      java.nio.file.Files.deleteIfExists(out)
      if (sec.isEmpty)
        System.err.println(s"[bench] fork $name FAILED (exit $exit, log $log)")
      else java.nio.file.Files.deleteIfExists(log)
      Result(name, sec, secMin, warm, Nil)
    }
    emit(sfDir, results, reps, (System.nanoTime() - wall0) / 1e9, fork = true)(())
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.get("SPARK_GRAFT_BENCH_REPS").map(_.toInt)
      .getOrElse(DefaultReps).max(1)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    if (sys.env.get("SPARK_GRAFT_BENCH_FORK").exists(_ != "0"))
      return forkMain(sfDir, names, reps)
    val spark = Harness.session()
    Harness.warmTables(spark, sfDir)
    val rewarm = sys.env.get("SPARK_GRAFT_BENCH_REWARM").exists(_ != "0")
    val rewarmBuf = new Array[Byte](1 << 20)
    def touch(f: java.io.File): Unit =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(touch)
      else {
        val in = new java.io.FileInputStream(f)
        try { while (in.read(rewarmBuf) >= 0) () } finally in.close()
      }
    val wall0 = System.nanoTime()
    val results = names.map { name =>
      val fn = SparkEntry.queries(name)
      def rep(): Option[Double] =
        try Some(Harness.runNoop(fn(spark, sfDir)))
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          None
        }
      if (rewarm)
        try touch(new java.io.File(sfDir))
        catch { case e: Throwable =>
          System.err.println(s"[bench] rewarm failed: ${e.getMessage}") }
      val warmSec = rep().getOrElse(0.0)
      val times = (1 to reps).flatMap(_ => rep())
      val ok = times.length == reps
      Result(name, Option.when(ok)(median(times)), Option.when(ok)(times.min),
        warmSec, times)
    }
    emit(sfDir, results, reps, (System.nanoTime() - wall0) / 1e9,
      fork = false)(spark.stop())
  }

  /** The two artifact lines: (big, compact). */
  private[graft] def artifactLines(sfDir: String, rs: Seq[Result], reps: Int,
      wallSec: Double, fork: Boolean): (String, String) = {
    // Locale.ROOT: a comma-decimal default locale would print 1,357
    def fixed(fmt: String, x: Double) =
      new java.math.BigDecimal(fmt.formatLocal(java.util.Locale.ROOT, x))
    val ok = rs.filter(_.sec.isDefined)
    val total = ok.flatMap(_.sec).sum
    val totalMin = ok.flatMap(_.min).sum
    val outliers = ok.filter(r =>
      r.reps.nonEmpty && r.reps.max / math.max(r.reps.min, 1e-9) > 2.0)
    val warmupSec = rs.map(_.warmSec).sum
    val forkKey = if (fork) Seq("fork" -> 1) else Nil
    val big = Seq("metric" -> "total", "unit" -> "sec", "sf" -> sfDir) ++
      forkKey ++ Seq(
      "rep_outliers" -> ListMap(outliers.map(r =>
        r.name -> r.reps.map(fixed("%.3f", _))): _*),
      "queries" -> ListMap(rs.map(r => r.name -> r.sec.getOrElse(-1.0))
        .sortBy(_._2): _*),
      "failed" -> rs.filter(_.sec.isEmpty).map(_.name),
      "value" -> total, "value_min" -> totalMin, "reps" -> reps,
      "wall_sec" -> wallSec,
      "cold_sec" -> ListMap(rs.map(r => r.name -> fixed("%.3f", r.warmSec)): _*))
    val compact = Seq("metric" -> "total_compact", "unit" -> "sec") ++
      forkKey ++ Seq("value" -> total, "value_min" -> totalMin,
      "n_queries" -> rs.size, "n_failed" -> (rs.size - ok.size),
      "n_outliers" -> outliers.size, "reps" -> reps) ++
      Option.when(!fork)("warmup" -> 1) ++
      Seq("warmup_sec" -> fixed("%.1f", warmupSec)) ++
      Option.when(!fork)("contention_ratio" -> fixed("%.3f",
        if (total > 0) wallSec / (total * reps + warmupSec) else -1.0)) ++
      Seq("wall_sec" -> wallSec)
    def line(kv: Seq[(String, Any)]) = Harness.json.writeValueAsString(ListMap(kv: _*))
    (line(big), line(compact))
  }

  /** Write both artifact lines to the mirror file (the only loss-proof
    * channel: stdout tail capture truncates the big line), print the big
    * line, run `beforeCompact`, then print the compact line. */
  private def emit(sfDir: String, rs: Seq[Result], reps: Int,
      wallSec: Double, fork: Boolean)(beforeCompact: => Unit): Unit = {
    val (bigLine, compactLine) = artifactLines(sfDir, rs, reps, wallSec, fork)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath),
      s"$bigLine\n$compactLine\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] mirror write to $outPath failed: ${e.getMessage}") }
    println(bigLine)
    beforeCompact
    println(compactLine)
  }
}
