package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{CoalesceExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import graft.census.{Mapping, Normalize}
import graft.ops.StreamingOps
import graft.sources.{CensusFixture, CensusSource}

/** Output layouts without a shuffle: the census warehouse sort lays its
  * rows out as one sorted partition ([[Normalize.sortLikeWarehouse]]),
  * and the idempotent micro-batch sink writes a small batch as one
  * file ([[StreamingOps.idempotentBatchAppend]]). */
class CensusLayoutSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  private def executed(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan
  }

  private def shuffles(p: SparkPlan) = collect(p) { case s: ShuffleExchangeExec => s }

  private def withConf[T](k: String, v: String)(body: => T): T = {
    val prev = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body finally prev.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  /** Jobs started while `body` runs, counted by job group. */
  private def jobsOf(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val marker = new java.util.concurrent.atomic.AtomicBoolean(false)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))) match {
          case Some("layout_counted") => jobs.incrementAndGet(); ()
          case Some("layout_marker") => marker.set(true)
          case _ => ()
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("layout_counted", "counted")
      body
      sc.setJobGroup("layout_marker", "flushes the listener bus")
      spark.range(1).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!marker.get() && System.nanoTime() < deadline) Thread.sleep(10)
      assert(marker.get(), "marker job never reached the listener")
      jobs.get()
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private val small: DataFrame = {
    import spark.implicits._
    (1 to 200).map(i => ((i * 37) % 200, s"r$i")).toDF("k", "v").repartition(4)
  }

  test("the warehouse sort is one partition: no shuffle, totally ordered") {
    val sorted = Normalize.sortLikeWarehouse(small, Seq("k"))
    val plan = executed(sorted)
    assert(shuffles(plan).size == 1, s"only the fixture's own repartition(4) shuffles:\n$plan")
    assert(collect(plan) { case c: CoalesceExec => c }.map(_.numPartitions) == Seq(1), plan)
    assert(sorted.rdd.getNumPartitions == 1)
    assert(sorted.collect().map(_.getInt(0)).toSeq == (0 until 200))
  }

  /** The fixture's codes are unmapped, so they keep their names and
    * clean as counts. */
  private def censusClean(load: () => DataFrame): DataFrame =
    Normalize.censusPipeline(Seq(load()), CensusFixture.Expect, Mapping.codeToLabel,
      Map("DP02_0001E" -> false, "DP03_0002E" -> false), Seq("STATE", "TRACT"))

  private def censusLoad(): DataFrame = spark.read.format("graft.sources.CensusSource")
    .option("path", CensusFixture.path)
    .option("expect", CensusFixture.Expect.mkString(","))
    .option("fetcherClass", classOf[CountingFetcher].getName)
    .load()

  test("the census warehouse sort of a scan: one job, one fetch, the rows of a range sort") {
    CountingFetcher.attempts.set(0)
    val df = censusClean(() => censusLoad())
    assert(CountingFetcher.attempts.get() == 1, "schema inference fetches once")
    assert(jobsOf(df.write.format("noop").mode("overwrite").save()) == 1)
    assert(CountingFetcher.attempts.get() == 2,
      s"planning and the read share one fetch, saw ${CountingFetcher.attempts.get()}")
    val rows = df.collect()
    assert(rows.length == 2 * CensusSource.stateFips.size)
    // a range repartition sorted within its partitions (a sampling job
    // and a shuffle) reads back the same rows in the same order
    val keys = Seq(col("STATE"), col("TRACT"))
    val ranged = censusClean(() => censusLoad()).repartitionByRange(keys: _*)
      .sortWithinPartitions(keys: _*).collect()
    assert(ranged.map(_.toSeq).toSeq == rows.map(_.toSeq).toSeq)
  }

  private def filesPerBatch(out: String): Map[String, Int] =
    new java.io.File(out).listFiles().filter(_.getName.startsWith("batch_id=")).map { d =>
      d.getName -> d.listFiles().count(f => f.getName.endsWith(".parquet"))
    }.toMap

  test("idempotentBatchAppend writes a small batch as one file; a large or stat-less batch keeps its layout") {
    val out = java.nio.file.Files.createTempDirectory("graft_onefile_").toString + "/sink"
    val write = StreamingOps.idempotentBatchAppend(out) _
    write(small, 0L)
    write(spark.createDataFrame(small.rdd, small.schema), 1L)
    withConf("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1k")(write(small, 2L))
    assert(filesPerBatch(out) == Map("batch_id=0" -> 1, "batch_id=1" -> 4, "batch_id=2" -> 4))
    write(small, 0L) // a re-delivery still replaces, never duplicates
    assert(spark.read.parquet(out).count() == 600)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out).getParentFile)
  }

  test("the census micro-batch stream lands one file per batch, every row once") {
    import org.apache.spark.sql.streaming.Trigger
    val root = java.nio.file.Files.createTempDirectory("graft_onefile_stream_").toString
    val sink: (DataFrame, Long) => Unit = StreamingOps.idempotentBatchAppend(s"$root/sink")
    val q = spark.readStream.format("graft.sources.CensusSource")
      .option("path", CensusFixture.path)
      .option("expect", CensusFixture.Expect.mkString(","))
      .option("maxChunksPerTrigger", "5")
      .load()
      .writeStream.foreachBatch(sink)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$root/ckpt")
      .start()
    try assert(q.awaitTermination(120000L), "AvailableNow must stop by itself")
    finally q.stop()
    val files = filesPerBatch(s"$root/sink")
    assert(files.size == 4 && files.values.forall(_ == 1), files)
    assert(spark.read.parquet(s"$root/sink").count() == 2L * CensusSource.stateFips.size)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }
}
