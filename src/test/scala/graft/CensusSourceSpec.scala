package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import graft.sources.{CensusFetcher, CensusFixture, CensusSource}

/** Test transport: fails the first two fetches, then delegates to the
  * file read — exercises the retry policy through the fetcher seam. */
class FlakyFetcher extends CensusFetcher {
  override def fetch(target: String): java.io.InputStream = {
    val n = FlakyFetcher.attempts.incrementAndGet()
    if (n <= 2) throw new java.io.IOException(s"transient transport failure #$n")
    new java.io.FileInputStream(target)
  }
}

object FlakyFetcher {
  val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
}

/** Test transport: counts every fetch through the seam (metadata +
  * partition reads share the one counter; local-mode executors live in
  * this JVM). */
class CountingFetcher extends CensusFetcher {
  override def fetch(target: String): java.io.InputStream = {
    CountingFetcher.attempts.incrementAndGet()
    new java.io.FileInputStream(target)
  }
}

object CountingFetcher {
  val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
}

/** DSv2 census source (reference R1/R2/R5/R6/R18): API-shaped
  * array-of-arrays input, all-string schema, expected-column
  * reconciliation, state-chunk partitions, and predicate/projection
  * pushdown with partition pruning. */
class CensusSourceSpec extends SparkTestBase {

  private def read(expect: Seq[String] = CensusFixture.Expect,
      path: String = CensusFixture.path): DataFrame = {
    val r = spark.read.format("graft.sources.CensusSource")
      .option("path", path)
    (if (expect.nonEmpty) r.option("expect", expect.mkString(","))
     else r).load()
  }

  private def scanOf(df: DataFrame): BatchScanExec =
    df.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }
      .getOrElse(fail("no BatchScanExec in plan"))

  private def writeFixture(rows: Seq[Seq[String]]): String = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val arr = mapper.createArrayNode()
    rows.foreach { r =>
      val a = arr.addArray()
      r.foreach { c => if (c == null) a.addNull() else a.add(c); () }
    }
    val p = java.nio.file.Files.createTempFile("census_src_spec_", ".json")
    java.nio.file.Files.writeString(p, mapper.writeValueAsString(arr))
    p.toFile.deleteOnExit()
    p.toString
  }

  test("full scan: 2 rows per census state, all-string schema, 17 chunks + catch-all") {
    val df = read()
    assert(df.schema.fields.forall(f =>
      f.dataType == org.apache.spark.sql.types.StringType && f.nullable))
    assert(df.columns.toSeq == CensusFixture.Expect)
    assert(df.count() == 2L * CensusSource.stateFips.size)
    // 17 domain chunks + 1 catch-all remainder partition
    assert(scanOf(df).inputRDD.getNumPartitions == CensusSource.stateChunks.size + 1)
  }

  test("unfiltered scan returns NULL-state and out-of-domain rows (no silent loss)") {
    val path = writeFixture(Seq(
      Seq("NAME", "state"),
      Seq("Tract A", "06"),
      Seq("PR Tract", "72"), // Puerto Rico: outside the 51-FIPS domain
      Seq("No Geo", null)))
    val df = read(expect = Seq("NAME", "state"), path = path)
    assert(df.count() == 3, "every file row must survive a full scan")
    val byName = df.collect().map(r => r.getString(0) -> r).toMap
    assert(byName("PR Tract").getString(1) == "72")
    assert(byName("No Geo").isNullAt(1))
    // IsNotNull pushdown still filters the NULL-state row
    assert(df.filter(col("state").isNotNull).count() == 2)
  }

  test("explicit predicate on an out-of-domain state plans only the catch-all") {
    val path = writeFixture(Seq(
      Seq("NAME", "state"),
      Seq("Tract A", "06"),
      Seq("PR Tract", "72")))
    val df = read(expect = Seq("NAME", "state"), path = path)
      .filter(col("state") === "72")
    assert(scanOf(df).inputRDD.getNumPartitions == 1)
    assert(df.collect().map(_.getString(0)).toSeq == Seq("PR Tract"))
  }

  test("fetcher seam: a transport failing twice succeeds under the retry policy") {
    FlakyFetcher.attempts.set(0)
    val df = spark.read.format("graft.sources.CensusSource")
      .option("path", CensusFixture.path)
      .option("fetcherClass", classOf[FlakyFetcher].getName)
      .option("retryBaseWaitMs", "1")
      .option("retryMaxWaitMs", "2")
      .load()
      .filter(col("state") === "06")
    assert(df.count() == 2, "retry must recover from two transient failures")
    assert(FlakyFetcher.attempts.get() >= 3,
      "the failing attempts must have gone through the fetcher seam")
  }

  test("fetcher seam: failures beyond maxAttempts surface as a fetch error") {
    FlakyFetcher.attempts.set(0)
    val e = intercept[Exception] {
      spark.read.format("graft.sources.CensusSource")
        .option("path", CensusFixture.path)
        .option("fetcherClass", classOf[FlakyFetcher].getName)
        .option("maxAttempts", "2")
        .option("retryBaseWaitMs", "1")
        .load()
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: chain(t.getCause)
    assert(chain(e).exists(_.getMessage != null) &&
      chain(e).exists(t => Option(t.getMessage).exists(_.contains("after 2 attempts"))),
      s"expected a bounded-retry failure, got $e")
  }

  test("state IN predicate prunes partitions at planning") {
    val df = read().filter(col("state").isin("06", "36", "48"))
    // 06 / 36 / 48 fall in three distinct 3-state chunks
    assert(scanOf(df).inputRDD.getNumPartitions == 3)
    assert(df.select(col("state")).distinct().collect()
      .map(_.getString(0)).sorted.toSeq == Seq("06", "36", "48"))
  }

  test("state equality predicate plans exactly one chunk") {
    val df = read().filter(col("state") === "06")
    assert(scanOf(df).inputRDD.getNumPartitions == 1)
    assert(df.count() == 2)
  }

  test("column projection prunes the scan's read schema") {
    val df = read().select(col("NAME"), col("state"))
    assert(scanOf(df).output.map(_.name) == Seq("NAME", "state"))
  }

  test("pushed filters appear in the scan description (explain surface)") {
    val df = read().filter(col("state") === "06").select(col("NAME"))
    val desc = scanOf(df).scan.description()
    assert(desc.contains("EqualTo(state,06)"), desc)
    assert(desc.contains("ReadSchema"), desc)
  }

  test("expected-but-absent column is NULL-filled (R5), extras appended (R6)") {
    // file carries NAME/state plus an extra the caller didn't expect;
    // caller expects MISSING_VAR which the file lacks
    val path = writeFixture(Seq(
      Seq("NAME", "state", "EXTRA_COL"),
      Seq("Tract A", "06", "x1"),
      Seq("Tract B", "36", "x2")))
    val df = read(expect = Seq("NAME", "MISSING_VAR", "state"), path = path)
    assert(df.columns.toSeq == Seq("NAME", "MISSING_VAR", "state", "EXTRA_COL"))
    val rows = df.orderBy("state").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("Tract A", "Tract B"))
    assert(rows.forall(_.isNullAt(1)), "missing expected column NULL-filled")
    assert(rows.map(_.getString(3)).toSeq == Seq("x1", "x2"))
  }

  test("fixture without a state column reads as one unchunked partition") {
    val path = writeFixture(Seq(
      Seq("NAME", "zcta"),
      Seq("Z1", "10001"),
      Seq("Z2", "10002")))
    val df = read(expect = Seq.empty, path = path)
    assert(df.count() == 2)
    assert(scanOf(df).inputRDD.getNumPartitions == 1)
    // a pushed state predicate over the NULL-filled column matches nothing
    val filtered = read(expect = Seq("NAME", "state", "zcta"), path = path)
      .filter(col("state") === "06")
    assert(filtered.count() == 0)
  }

  test("fetch-policy options (R14/R15) parse and the scan still reads") {
    val df = spark.read.format("graft.sources.CensusSource")
      .option("path", CensusFixture.path)
      .option("maxAttempts", "2")
      .option("retryBaseWaitMs", "1")
      .option("throttleMs", "1")
      .load()
      .filter(col("state") === "06")
    assert(df.count() == 2)
  }

  test("HttpFetcher reads the wire format over localhost, retrying real 503s") {
    // the reference transport end-to-end (R1 + R14): an in-process HTTP
    // server serves the JSON array-of-arrays fixture but fails the
    // first two requests with 503 — Retry.withBackoff must recover
    // over real sockets, schema inference and partition reads both
    // going through HttpFetcher.
    import java.util.concurrent.atomic.AtomicInteger
    val failuresLeft = new AtomicInteger(2)
    val requests = new AtomicInteger(0)
    val body = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(CensusFixture.path))
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/acs", exchange => {
      requests.incrementAndGet()
      if (failuresLeft.getAndDecrement() > 0) {
        exchange.sendResponseHeaders(503, -1)
      } else {
        exchange.sendResponseHeaders(200, body.length.toLong)
        exchange.getResponseBody.write(body)
      }
      exchange.close()
    })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/acs?get=NAME&for=tract:*"
      val df = spark.read.format("graft.sources.CensusSource")
        .option("path", url)
        .option("fetcherClass", classOf[graft.sources.HttpFetcher].getName)
        .option("retryBaseWaitMs", "1")
        .option("retryMaxWaitMs", "2")
        .load()
        .filter(col("state") === "06")
      assert(df.count() == 2, "HTTP transport must serve the census scan")
      assert(failuresLeft.get() <= 0 && requests.get() >= 3,
        s"expected the 503s to be retried over the socket (saw ${requests.get()} requests)")
    } finally server.stop(0)
  }

  test("HttpFetcher surfaces persistent HTTP errors as bounded-retry failures") {
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/down", exchange => {
      exchange.sendResponseHeaders(500, -1)
      exchange.close()
    })
    server.start()
    try {
      val e = intercept[Exception] {
        spark.read.format("graft.sources.CensusSource")
          .option("path", s"http://127.0.0.1:${server.getAddress.getPort}/down")
          .option("fetcherClass", classOf[graft.sources.HttpFetcher].getName)
          .option("maxAttempts", "2")
          .option("retryBaseWaitMs", "1")
          .load()
      }
      def chain(t: Throwable): Seq[Throwable] =
        if (t == null) Seq.empty else t +: chain(t.getCause)
      assert(chain(e).exists(t =>
          Option(t.getMessage).exists(_.contains("after 2 attempts"))),
        s"expected a bounded-retry failure, got $e")
      assert(chain(e).exists(t =>
          Option(t.getMessage).exists(_.contains("HTTP 500"))),
        "the HTTP status must be the retried cause")
    } finally server.stop(0)
  }

  test("planning does exactly one metadata fetch per scan (cached header, unthrottled)") {
    CountingFetcher.attempts.set(0)
    val df = spark.read.format("graft.sources.CensusSource")
      .option("path", CensusFixture.path)
      .option("fetcherClass", classOf[CountingFetcher].getName)
      .load()
    val afterSchema = CountingFetcher.attempts.get()
    assert(afterSchema == 1, s"schema inference must fetch once, saw $afterSchema")
    val filtered = df.filter(col("state") === "06")
    assert(filtered.count() == 2)
    // one fetch for the scan: planning's header read pays it and the
    // single-partition data read shares it
    val total = CountingFetcher.attempts.get()
    assert(total == afterSchema + 1,
      s"expected planning+read to add exactly 1 fetch, saw ${total - afterSchema}")
  }

  test("one fetch per scan: an unfiltered 18-partition scan fetches once; " +
      "two scans of the same path fetch twice") {
    CountingFetcher.attempts.set(0)
    def load() = spark.read.format("graft.sources.CensusSource")
      .option("path", CensusFixture.path)
      .option("expect", CensusFixture.Expect.mkString(","))
      .option("fetcherClass", classOf[CountingFetcher].getName)
      .load()
    val df = load()
    assert(CountingFetcher.attempts.get() == 1, "schema inference fetches once")
    assert(df.collect().length == 2 * CensusSource.stateFips.size)
    assert(CountingFetcher.attempts.get() == 2,
      s"the scan's planning and 18 partition reads must share one fetch, " +
        s"saw ${CountingFetcher.attempts.get() - 1}")
    assert(scanOf(df).inputRDD.getNumPartitions == CensusSource.stateChunks.size + 1)
    // a range sort samples the scan, then reads it again: one scan, one fetch
    CountingFetcher.attempts.set(0)
    val sorted = load().repartitionByRange(col("state")).collect()
    assert(sorted.length == 2 * CensusSource.stateFips.size)
    assert(CountingFetcher.attempts.get() == 2,
      s"sampling and reading one scan must share its fetch, saw ${CountingFetcher.attempts.get()}")
    // nothing is shared across scans: each builds its own and fetches
    CountingFetcher.attempts.set(0)
    val (a, b) = (load(), load())
    assert(a.count() == b.count())
    assert(CountingFetcher.attempts.get() == 4,
      s"two scans = 2 schema + 2 scan fetches, saw ${CountingFetcher.attempts.get()}")
  }

  test("a failed shared fetch is retried, never replayed from the memo") {
    import graft.sources.FetchPolicy
    FlakyFetcher.attempts.set(0)
    val policy = FetchPolicy.Default.copy(maxAttempts = 1,
      fetcherClass = classOf[FlakyFetcher].getName)
    val token = java.util.UUID.randomUUID().toString
    // FlakyFetcher fails its first two fetches
    for (_ <- 1 to 2)
      intercept[RuntimeException](policy.fetchShared(token, CensusFixture.path, throttle = false))
    val first = policy.fetchShared(token, CensusFixture.path, throttle = false)
    assert(FlakyFetcher.attempts.get() == 3, "each failed read must fetch again")
    assert(first.length == 1 + 2 * CensusSource.stateFips.size)
    assert(policy.fetchShared(token, CensusFixture.path, throttle = false) eq first)
    assert(FlakyFetcher.attempts.get() == 3, "a kept parse is shared without a fetch")
    // another scan's token never sees it
    policy.fetchShared(java.util.UUID.randomUUID().toString, CensusFixture.path,
      throttle = false)
    assert(FlakyFetcher.attempts.get() == 4)
  }

  test("CensusUrl builds the reference's exact request URLs (R1)") {
    import graft.sources.CensusUrl
    // tract: NAME prepended, first-occurrence dedupe, comma-joined
    // state chunk (Test_census_tract.py:155-164,343)
    assert(CensusUrl.tract(2023, "acs/acs5/profile",
        Seq("DP02_0001E", "NAME", "DP02_0002E"), Seq("01", "02", "04")) ==
      "https://api.census.gov/data/2023/acs/acs5/profile" +
        "?get=NAME,DP02_0001E,DP02_0002E&for=tract:*&in=state:01,02,04")
    // zcta: no NAME prepend, space-bearing geo level form-encoded,
    // optional key appended (test_final_zcta.py:96-101)
    assert(CensusUrl.zcta(2017, "acs/acs5/profile", Seq("DP03_0062E")) ==
      "https://api.census.gov/data/2017/acs/acs5/profile" +
        "?get=DP03_0062E&for=zip+code+tabulation+area:*")
    assert(CensusUrl.zcta(2017, "acs/acs5", Seq("B01003_001E"),
        zcta = "10001", apiKey = Some("k1")) ==
      "https://api.census.gov/data/2017/acs/acs5" +
        "?get=B01003_001E&for=zip+code+tabulation+area:10001&key=k1")
  }

  test("scan_census_dsv2 registered query returns the expected relation") {
    val out = ops.Scans.scanCensusDsv2(spark, sfDir).collect()
    assert(out.length == 6) // 3 states x 2 tracts
    assert(out.map(_.getString(2)).toSeq == Seq("06", "06", "36", "36", "48", "48"))
    assert(out.head.getString(0) == "Census Tract 1, State 06")
    assert(out.head.getString(1) == "601")
  }

  test("A26: COUNT(*) GROUP BY state pushes down COMPLETELY — no Spark aggregate") {
    val df = ops.Scans.scanCensusAggPushdown(spark, sfDir)
    val rows = df.collect()
    assert(rows.length == 51)
    assert(rows.forall(_.getLong(1) == 2L), "every state has exactly 2 tracts")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PushedAggregation"), p)
    assert(!p.contains("HashAggregate") && !p.contains("SortAggregate") &&
      !p.contains("ObjectHashAggregate"),
      "complete pushdown must plan NO aggregate node:\n" + p)
  }

  test("A26: pushdown composes with the geo predicate and partition pruning") {
    val df = spark.read.format("graft.sources.CensusSource")
      .option("path", graft.sources.CensusFixture.path)
      .option("expect", graft.sources.CensusFixture.Expect.mkString(","))
      .load()
      .filter(org.apache.spark.sql.functions.col("state").isin("06", "36"))
      .groupBy("state").count()
    val got = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("06" -> 2L, "36" -> 2L))
    assert(!df.queryExecution.executedPlan.toString.contains("HashAggregate"))
  }

  test("A27: ORDER BY .. LIMIT pushes TopN into the scan; first page exact") {
    val df = ops.Scans.scanCensusTopnPushdown(spark, sfDir)
    val rows = df.collect()
    assert(rows.map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq("01", "02", "04", "05", "06")
        .flatMap(s => Seq((s, "000100"), (s, "000200"))))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PushedTopN: ORDER BY state, tract LIMIT 10"), p)
  }

  test("A27: a bare LIMIT pushes a per-partition row cap") {
    val df = spark.read.format("graft.sources.CensusSource")
      .option("path", graft.sources.CensusFixture.path)
      .option("expect", graft.sources.CensusFixture.Expect.mkString(","))
      .load()
      .limit(5)
    assert(df.count() == 5)
    assert(df.queryExecution.executedPlan.toString
      .contains("PushedLimit: LIMIT 5"), df.queryExecution.executedPlan)
  }

  test("A27: the local TopN sort is UTF-8 binary — supplementary chars " +
      "sort where Spark's merge expects them") {
    // "😀" (U+1F600) vs "�" (U+FFFD): Java's UTF-16 code-unit
    // compare puts the surrogate pair FIRST (0xD83D < 0xFFFD); Spark's
    // UTF8String binary compare puts it LAST (0xF0 > 0xEF). A local
    // top-N sorted with String ordering would keep 😀_a and discard
    // �_z — a row the global TakeOrdered merge can never recover.
    val path = writeFixture(Seq(
      Seq("NAME", "state"),
      Seq("😀_a", "06"),
      Seq("�_z", "06"),
      Seq("A", "06")))
    val df = read(expect = Seq("NAME", "state"), path = path)
      .orderBy(col("NAME"), col("state")).limit(2)
    assert(df.queryExecution.executedPlan.toString.contains("PushedTopN"))
    assert(df.collect().map(_.getString(0)).toSeq ==
      Seq("A", "�_z"),
      "local TopN must keep the UTF-8-binary top rows, not UTF-16's")
  }

  test("A27: a sort column absent from the raw header declines the " +
      "local bound (unbounded emit, Spark's TakeOrdered answers)") {
    // the file has no `tract` column — it is NULL-filled by the R5
    // projection AFTER the bound runs, so a local sort over it would
    // silently sort by nothing and keep the wrong (file-order) rows
    val path = writeFixture(Seq(
      Seq("NAME", "state"),
      Seq("c", "06"),
      Seq("b", "06"),
      Seq("a", "06")))
    val df = read(expect = Seq("NAME", "state", "tract"), path = path)
      .orderBy(col("tract"), col("NAME")).limit(2)
      .select(col("NAME"))
    assert(df.collect().map(_.getString(0)).toSeq == Seq("a", "b"),
      "missing sort column must fall back to unbounded emit")
  }

  test("A27: a descending or computed ordering declines the TopN pushdown") {
    val df = spark.read.format("graft.sources.CensusSource")
      .option("path", graft.sources.CensusFixture.path)
      .option("expect", graft.sources.CensusFixture.Expect.mkString(","))
      .load()
      .orderBy(org.apache.spark.sql.functions.col("state").desc)
      .limit(4)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("PushedTopN"), p)
    // the decline must not lose the limit: Spark's TakeOrdered answers
    assert(df.collect().map(_.getString(3)).toSeq ==
      Seq("56", "56", "55", "55"))
  }

  test("A28: a dim join's runtime filter reaches the source before reading") {
    val df = ops.Scans.scanCensusRuntimeFilter(spark, sfDir)
    val rows = df.collect().map(r =>
      (r.getString(0), r.getString(1), r.getLong(2)))
    assert(rows.toSeq == Seq(("06", "west", 2L), ("36", "east", 2L)))
    def nodes(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.SparkPlan] = p +: (p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        nodes(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        nodes(q.plan)
      case _ => p.children.flatMap(nodes)
    })
    val scan = nodes(df.queryExecution.executedPlan).collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
          if b.toString.contains("CensusScan") => b
    }.getOrElse(fail("no census BatchScan in plan"))
    // the runtime state-key filter must have reached the SOURCE and
    // pruned at PARTITION granularity: only the two matched states'
    // 3-state chunks are planned (2 chunks × 3 states × 2 tracts =
    // 12 rows leave the scan, not the table's 102) — the same
    // directory-level granularity file-source DPP gives; the join
    // absorbs the chunk-mates. Without SupportsRuntimeV2Filtering the
    // scan emits all 102.
    assert(scan.metrics("numOutputRows").value == 12L,
      s"scan emitted ${scan.metrics("numOutputRows").value} rows — " +
        "expected exactly the 2 pruned chunks' rows")
  }

  test("streaming read: paced micro-batches of state chunks sum to the " +
      "batch scan; a restart on the checkpoint consumes nothing new") {
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_census_stream_").toString
    def start(queryName: String) = spark.readStream
      .format("graft.sources.CensusSource")
      .option("path", CensusFixture.path)
      .option("expect", CensusFixture.Expect.mkString(","))
      .option("maxChunksPerTrigger", "5")
      .load()
      .groupBy(col("state")).count()
      .writeStream.format("memory").queryName(queryName)
      .outputMode("complete")
      .option("checkpointLocation", ckpt)
      .start()
    val q = start("census_stream")
    try {
      q.processAllAvailable()
      // totals equal the batch scan: 2 rows per census state
      val rows = spark.table("census_stream").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(rows.size == CensusSource.stateFips.size)
      assert(rows.values.forall(_ == 2L))
      // pacing: 17 chunks + 1 catch-all at 5/trigger = 4 data batches
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      assert(dataBatches == 4,
        s"expected 4 paced micro-batches, saw $dataBatches")
    } finally q.stop()
    // restart on the same checkpoint: the static fixture has no new
    // chunks — the resumed stream admits zero rows
    val q2 = start("census_stream_r")
    try {
      q2.processAllAvailable()
      assert(q2.recentProgress.forall(_.numInputRows == 0),
        "a restarted stream over consumed chunks must admit nothing")
    } finally q2.stop()
  }

  test("Trigger.AvailableNow drains the paced stream: every row, 4 data batches") {
    import org.apache.spark.sql.streaming.Trigger
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_census_avnow_").toString
    val q = spark.readStream
      .format("graft.sources.CensusSource")
      .option("path", CensusFixture.path)
      .option("expect", CensusFixture.Expect.mkString(","))
      .option("maxChunksPerTrigger", "5")
      .load()
      .writeStream.format("memory").queryName("census_avnow")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .start()
    try {
      assert(q.awaitTermination(120000L), "AvailableNow must stop by itself")
      assert(spark.table("census_avnow").count() == 2L * CensusSource.stateFips.size)
      // 17 chunks + 1 catch-all at 5/trigger = 4 data batches
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      assert(dataBatches == 4, s"expected 4 paced micro-batches, saw $dataBatches")
    } finally q.stop()
  }

  test("reported statistics make the census side broadcastable in joins") {
    import org.apache.spark.sql.functions.{col, lit, lpad}
    // a "fact" frame far larger than the census table, keyed by state
    val fact = spark.range(0, 50000)
      .select(lpad((col("id") % 56 + 1).cast("string"), 2, "0").as("state"),
        col("id"))
    val census = spark.read.format("graft.sources.CensusSource")
      .option("path", graft.sources.CensusFixture.path)
      .option("expect", graft.sources.CensusFixture.Expect.mkString(","))
      .load()
      .select(col("state"), col("tract"))
    val joined = fact.join(census, Seq("state"))
    joined.collect()
    val p = joined.queryExecution.executedPlan.toString
    // without SupportsReportStatistics the v2 relation costs
    // defaultSizeInBytes and this plans as a sort-merge join
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "census side must broadcast under reported statistics:\n" + p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("keyed output partitioning: a DECLINED state aggregate over a " +
      "state-filtered scan plans no post-scan exchange (r17 verdict #9)") {
    import org.apache.spark.sql.functions.{col, countDistinct}
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      def census = spark.read.format("graft.sources.CensusSource")
        .option("path", graft.sources.CensusFixture.path)
        .option("expect", graft.sources.CensusFixture.Expect.mkString(","))
        .load()
      // distinct aggregation is not pushable -> Spark plans a real
      // aggregate; with the scan reporting KeyGroupedPartitioning on
      // state, the state-clustered aggregate needs NO exchange
      val df = census.filter(col("state").isin("01", "02", "04"))
        .groupBy("state").agg(countDistinct(col("tract")).as("n_tracts"))
      val got = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == Map("01" -> 2L, "02" -> 2L, "04" -> 2L))
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("Aggregate"), s"decline path must aggregate:\n$p")
      assert(!p.contains("Exchange"),
        s"state-keyed scan output must satisfy the aggregate's " +
          s"clustering — no exchange:\n$p")
      // without the v2-bucketing conf the same query keeps its
      // exchange (the gate is the conf, chunk planning is unchanged)
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
      val p2 = census.filter(col("state").isin("01", "02", "04"))
        .groupBy("state").agg(countDistinct(col("tract")).as("n_tracts"))
        .queryExecution.executedPlan.toString
      assert(p2.contains("Exchange"),
        s"conf-off path should shuffle as before:\n$p2")
      // an UNFILTERED scan needs the catch-all partition and must
      // decline keyed planning (it cannot report one key per
      // partition honestly) — results stay correct
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      val full = census.groupBy("state").count()
      assert(full.collect().length == CensusSource.stateFips.size,
        "unfiltered keyed-declined scan must still see every state")
    } finally
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
  }

  test("A26: an unsupported grouping declines the pushdown and plans normally") {
    val df = spark.read.format("graft.sources.CensusSource")
      .option("path", graft.sources.CensusFixture.path)
      .option("expect", graft.sources.CensusFixture.Expect.mkString(","))
      .load()
      .groupBy("tract").count()
    val got = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("000100" -> 51L, "000200" -> 51L))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("Aggregate"), "fallback must aggregate in Spark:\n" + p)
    assert(!p.contains("PushedAggregation"), p)
  }
}
