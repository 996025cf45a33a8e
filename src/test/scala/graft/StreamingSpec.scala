package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import graft.ops.StreamingOps

/** Top-level so Spark can derive an Encoder without an outer scope. */
case class Ev(event_id: Long, ts: Timestamp, user_id: Long, event_type: String)

/** Valued variant for the J19/J20 anomaly family. */
case class EvV(event_id: Long, ts: Timestamp, user_id: Long, value: Double)

/** Typed+valued variant for the J33/J34 attribution pair. */
case class EvTV(event_id: Long, ts: Timestamp, user_id: Long,
  event_type: String, value: Double)

/** True-streaming semantics for J4-J7 via MemoryStream: watermark late
  * drop, stateful dedup, stream-static join, and mapGroupsWithState
  * accumulation across micro-batches. */
class StreamingSpec extends SparkTestBase {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def tmpCheckpoint(): String =
    SparkTestBase.tempDir("graft_ckpt_")

  private def withQuery[A](q: StreamingQuery)(body: => A): A =
    try body finally q.stop()

  test("J4: watermarked tumbling agg drops events later than 10 minutes") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = StreamingOps.tumblingWithWatermark(in.toDF())
      .writeStream.format("memory").queryName("j4")
      .outputMode("update").option("checkpointLocation", tmpCheckpoint())
      .start()
    withQuery(q) {
      in.addData(
        Ev(1, ts("2024-01-01 10:05:00"), 1, "view"),
        Ev(2, ts("2024-01-01 11:30:00"), 1, "view"))
      q.processAllAvailable()
      // watermark is now 11:20 → the [10:00, 11:00) window is closed
      in.addData(Ev(3, ts("2024-01-01 10:06:00"), 1, "view"))
      q.processAllAvailable()
      val w10 = spark.table("j4")
        .filter($"wstart" === ts("2024-01-01 10:00:00").getTime / 1000)
        .select("n").collect().map(_.getLong(0))
      // the late event must NOT have produced an updated count of 2
      assert(w10.nonEmpty && w10.max == 1L)
    }
  }

  test("J5: streaming dedup by event_id emits each id once") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = StreamingOps.streamingDedup(in.toDF())
      .writeStream.format("memory").queryName("j5")
      .outputMode("append").option("checkpointLocation", tmpCheckpoint())
      .start()
    withQuery(q) {
      in.addData(Ev(1, ts("2024-01-01 10:00:00"), 1, "view"))
      q.processAllAvailable()
      in.addData(
        Ev(1, ts("2024-01-01 10:00:30"), 1, "view"), // duplicate id
        Ev(2, ts("2024-01-01 10:01:00"), 2, "click"))
      q.processAllAvailable()
      val ids = spark.table("j5").select("event_id").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == Seq(1L, 2L))
    }
  }

  test("J25: dedup-within-watermark suppresses near dups, re-emits after expiry") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = StreamingOps.streamingDedupWithinWatermark(in.toDF())
      .writeStream.format("memory").queryName("j25")
      .outputMode("append").option("checkpointLocation", tmpCheckpoint())
      .start()
    withQuery(q) {
      in.addData(
        Ev(1, ts("2024-01-01 10:00:00"), 1, "view"),
        Ev(1, ts("2024-01-01 10:01:00"), 1, "view")) // retry dup, inside delay
      q.processAllAvailable()
      assert(spark.table("j25")
        .filter($"event_id" === 1L).count() == 1L)
      // advance the watermark past id 1's expiry (10:00 + 10 min):
      // an 11:00 event moves the watermark to 10:50
      in.addData(Ev(2, ts("2024-01-01 11:00:00"), 2, "click"))
      q.processAllAvailable()
      // same id, long after its state expired → a genuinely new record
      in.addData(Ev(1, ts("2024-01-01 11:05:00"), 1, "view"))
      q.processAllAvailable()
      val n1 = spark.table("j25").filter($"event_id" === 1L).count()
      assert(n1 == 2L, s"expired id must re-emit (got $n1 rows for id 1)")
      // J5's forever-state dedup would have suppressed the re-arrival —
      // that contrast is the point of the within-watermark variant
    }
  }

  test("J26: AvailableNow backfill terminates, bounds input, resumes the delta") {
    import spark.implicits._
    val src = SparkTestBase.tempDir("graft_bf_src_")
    val ckpt = tmpCheckpoint()
    def drop(rows: (Long, Long, String)*): Unit =
      rows.toDF("event_id", "user_id", "event_type")
        .coalesce(1).write.mode("append").parquet(src)
    drop((1L, 1L, "view"), (2L, 1L, "click"))
    drop((3L, 2L, "view"))
    // backfill 1: consumes everything available at start, then STOPS
    StreamingOps.backfillAvailableNow(spark, src, ckpt, "j26")
    val n1 = spark.table("j26").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(n1 == Map("view" -> 2L, "click" -> 1L))
    // a file landing AFTER termination is not consumed by the done run
    drop((4L, 3L, "purchase"))
    assert(spark.table("j26").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap == n1)
    // restart on the SAME checkpoint: exactly the delta is processed
    StreamingOps.backfillAvailableNow(spark, src, ckpt, "j26b")
    val n2 = spark.table("j26b").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(n2 == Map("view" -> 2L, "click" -> 1L, "purchase" -> 1L))
  }

  test("J28: maxFilesPerTrigger paces the backfill into per-file batches") {
    import spark.implicits._
    val src = SparkTestBase.tempDir("graft_bf2_src_")
    def drop(rows: (Long, Long, String)*): Unit =
      rows.toDF("event_id", "user_id", "event_type")
        .coalesce(1).write.mode("append").parquet(src)
    drop((1L, 1L, "view"), (2L, 1L, "view"))
    drop((3L, 2L, "click"))
    drop((4L, 3L, "view"))
    // paced: one file per micro-batch → 3 batches, 4 rows total
    val paced = StreamingOps.backfillAvailableNow(spark, src,
      tmpCheckpoint(), "j28a", maxFilesPerTrigger = Some(1))
    assert(paced.length == 3 && paced.sum == 4L,
      s"expected 3 single-file batches, got $paced")
    // unpaced: the same files drain in ONE batch
    val unpaced = StreamingOps.backfillAvailableNow(spark, src,
      tmpCheckpoint(), "j28b")
    assert(unpaced == Seq(4L), s"expected one 4-row batch, got $unpaced")
  }

  test("J29: observed metrics ride each micro-batch and sum to the input") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[EvV]
    val q = StreamingOps.observedStreamCounts(
        in.toDF().withColumn("event_type",
          org.apache.spark.sql.functions.lit("view")))
      .writeStream.format("memory").queryName("j29")
      .outputMode("complete").option("checkpointLocation", tmpCheckpoint())
      .start()
    withQuery(q) {
      in.addData(
        EvV(1, ts("2024-01-01 10:00:00"), 1, 10.25),
        EvV(2, ts("2024-01-01 10:01:00"), 1, 4.75))
      q.processAllAvailable()
      in.addData(EvV(3, ts("2024-01-01 10:02:00"), 2, 5.00))
      q.processAllAvailable()
      val metrics = q.recentProgress.toSeq
        .flatMap(p => Option(p.observedMetrics.get("stream_qc")))
      // every data-carrying batch reported its own QC row
      val rows = metrics.map(_.getLong(0)).filter(_ > 0)
      assert(rows.sum == 3L, s"per-batch n_rows must sum to input: $metrics")
      val mass = metrics.map(m =>
        Option(m.get(1)).map(_.asInstanceOf[Double]).getOrElse(0.0)).sum
      assert(math.abs(mass - 20.0) < 1e-9, s"value mass $mass")
      assert(metrics.forall(_.getLong(2) == 0L), "no null values injected")
    }
  }

  test("J6: stream-static broadcast join enriches events with the dim") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val userDim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "segment")
    val in = MemoryStream[Ev]
    val q = StreamingOps.streamStaticJoin(in.toDF(), userDim)
      .writeStream.format("memory").queryName("j6")
      .outputMode("append").option("checkpointLocation", tmpCheckpoint())
      .start()
    withQuery(q) {
      in.addData(
        Ev(1, ts("2024-01-01 10:00:00"), 1, "view"),
        Ev(2, ts("2024-01-01 10:01:00"), 3, "view")) // user 3 not in dim
      q.processAllAvailable()
      val rows = spark.table("j6").collect()
        .map(r => (r.getLong(0), r.getString(2))).sorted
      assert(rows.toSeq == Seq((1L, "gold")))
    }
  }

  test("J7: mapGroupsWithState accumulates per-user counts across batches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = StreamingOps.statefulRunningCount(in.toDF())
      .writeStream.format("memory").queryName("j7")
      .outputMode("update").option("checkpointLocation", tmpCheckpoint())
      .start()
    withQuery(q) {
      in.addData(
        Ev(1, ts("2024-01-01 10:00:00"), 1, "view"),
        Ev(2, ts("2024-01-01 10:01:00"), 1, "view"),
        Ev(3, ts("2024-01-01 10:02:00"), 2, "view"))
      q.processAllAvailable()
      in.addData(
        Ev(4, ts("2024-01-01 10:03:00"), 1, "view"),
        Ev(5, ts("2024-01-01 10:04:00"), 2, "view"))
      q.processAllAvailable()
      val finalCounts = spark.table("j7")
        .groupBy("user_id").max("n_events").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(finalCounts == Map(1L -> 3L, 2L -> 2L))
    }
  }

  test("J27: transformWithState on RocksDB matches J7's running counts") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // transformWithState REQUIRES the RocksDB provider (per-variable
    // column families) — this pin covers the scalable disk-backed
    // store and the new API in one test
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[Ev]
      val q = StreamingOps.statefulRunningCountTws(in.toDF())
        .writeStream.format("memory").queryName("j27")
        .outputMode("update").option("checkpointLocation", tmpCheckpoint())
        .start()
      withQuery(q) {
        in.addData(
          Ev(1, ts("2024-01-01 10:00:00"), 1, "view"),
          Ev(2, ts("2024-01-01 10:01:00"), 1, "view"),
          Ev(3, ts("2024-01-01 10:02:00"), 2, "view"))
        q.processAllAvailable()
        in.addData(
          Ev(4, ts("2024-01-01 10:03:00"), 1, "view"),
          Ev(5, ts("2024-01-01 10:04:00"), 2, "view"))
        q.processAllAvailable()
        val finalCounts = spark.table("j27")
          .groupBy("user_id").max("n_events").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toMap
        // the EXACT accumulation J7's mapGroupsWithState produces
        assert(finalCounts == Map(1L -> 3L, 2L -> 2L))
      }
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("J27: state-schema EVOLUTION — a restart on the same checkpoint " +
      "with an added state variable resumes old state and initializes " +
      "the new variable") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[Ev]
      val checkpoint = tmpCheckpoint()
      // foreachBatch sink: the memory sink refuses checkpoint RECOVERY,
      // and recovery is the whole point here (the J11 restart harness)
      val collected =
        scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      val writer: (org.apache.spark.sql.DataFrame, Long) => Unit =
        (df, _) => collected.synchronized {
          collected ++= df.collect().map(r => (r.getLong(0), r.getLong(1)))
          ()
        }
      // phase 1: the ORIGINAL single-variable processor builds state
      val q1 = StreamingOps.statefulRunningCountTws(in.toDF())
        .writeStream.foreachBatch(writer)
        .outputMode("update").option("checkpointLocation", checkpoint)
        .start()
      withQuery(q1) {
        in.addData(
          Ev(1, ts("2024-01-01 10:00:00"), 1, "view"),
          Ev(2, ts("2024-01-01 10:01:00"), 1, "view"),
          Ev(3, ts("2024-01-01 10:02:00"), 2, "view"))
        q1.processAllAvailable()
      }
      collected.synchronized(collected.clear())
      // phase 2: restart on the SAME checkpoint with the EVOLVED
      // processor (added `last_event` ValueState)
      val q2 = StreamingOps.statefulRunningCountTwsV2(in.toDF())
        .writeStream.foreachBatch(writer)
        .outputMode("update").option("checkpointLocation", checkpoint)
        .start()
      withQuery(q2) {
        in.addData(
          Ev(4, ts("2024-01-01 10:03:00"), 1, "view"),
          Ev(5, ts("2024-01-01 10:04:00"), 2, "view"))
        q2.processAllAvailable()
        val rows = collected.synchronized(collected.toMap)
        // old variable RESUMED: user 1 had 2 pre-restart events + 1 new
        assert(rows.get(1L).contains(3L) && rows.get(2L).contains(2L),
          s"counts must resume from the pre-evolution checkpoint: $rows")
        // new variable INITIALIZED empty, then functioned: the emitted
        // last_event is the post-restart batch's max event id per key
        assert(rows.get(-1L).contains(4L) && rows.get(-2L).contains(5L),
          s"added state variable must initialize and track: $rows")
      }
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("J8: stream-stream interval join pairs views with in-window clicks only") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val views = MemoryStream[Ev]
    val clicks = MemoryStream[Ev]
    val q = StreamingOps.streamStreamIntervalJoin(views.toDF(), clicks.toDF())
      .writeStream.format("memory").queryName("j8")
      .outputMode("append").option("checkpointLocation", tmpCheckpoint())
      .start()
    withQuery(q) {
      views.addData(Ev(10, ts("2024-01-01 10:00:00"), 1, "view"))
      clicks.addData(
        Ev(20, ts("2024-01-01 10:03:00"), 1, "click"), // in window
        Ev(21, ts("2024-01-01 10:07:00"), 1, "click"), // outside 5 min
        Ev(22, ts("2024-01-01 10:01:00"), 2, "click")) // other user
      q.processAllAvailable()
      val pairs = spark.table("j8").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
      assert(pairs.toSeq == Seq((10L, 20L, 180000000L)))
    }
  }

  test("J10: flatMapGroupsWithState sessionization emits on event-time timeout") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = StreamingOps.sessionizeWithTimeout(in.toDF(), gapMinutes = 30)
      .writeStream.format("memory").queryName("j10")
      .outputMode("append").option("checkpointLocation", tmpCheckpoint())
      .start()
    withQuery(q) {
      in.addData(
        Ev(1, ts("2024-01-01 10:00:00"), 1, "view"),
        Ev(2, ts("2024-01-01 10:05:00"), 1, "view"))
      q.processAllAvailable()
      // session still open: watermark (9:35 — delay = gap = 30min)
      // hasn't passed 10:05 + 30min
      assert(spark.table("j10").isEmpty)
      // advance the watermark beyond 10:35 via another user's event...
      in.addData(Ev(3, ts("2024-01-01 11:30:00"), 2, "view"))
      q.processAllAvailable()
      // ...and trigger the timeout batch (wm = 11:00 > 10:35)
      in.addData(Ev(4, ts("2024-01-01 11:31:00"), 2, "view"))
      q.processAllAvailable()
      val sessions = spark.table("j10").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(sessions.toSeq == Seq(
        (1L, ts("2024-01-01 10:00:00").getTime / 1000, 2L, 300000000L)),
        s"expected user 1's closed 2-event session, got ${sessions.toSeq}")
      // user 2's session is still open — must NOT have been emitted
      assert(!sessions.exists(_._1 == 2L))
    }
  }

  test("J10: a same-batch gap splits into two sessions (no merge-across-gap)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = StreamingOps.sessionizeWithTimeout(in.toDF(), gapMinutes = 30)
      .writeStream.format("memory").queryName("j10gap")
      .outputMode("append").option("checkpointLocation", tmpCheckpoint())
      .start()
    withQuery(q) {
      // 10:00 and 11:00 arrive in ONE batch: 60min > 30min gap — the
      // old unconditional merge collapsed these into a single 10:00-
      // 11:00 session; they must be two
      in.addData(
        Ev(1, ts("2024-01-01 10:00:00"), 1, "view"),
        Ev(2, ts("2024-01-01 11:00:00"), 1, "view"))
      q.processAllAvailable()
      val first = spark.table("j10gap").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(first.toSeq == Seq(
        (1L, ts("2024-01-01 10:00:00").getTime / 1000, 1L, 0L)),
        s"the pre-gap session must close in-batch, got ${first.toSeq}")
      // advance the watermark past 11:00 + 30min (delay = gap = 30min,
      // so the driver event sits at 12:15), then trigger timeout
      in.addData(Ev(3, ts("2024-01-01 12:15:00"), 2, "view"))
      q.processAllAvailable()
      in.addData(Ev(4, ts("2024-01-01 12:16:00"), 2, "view"))
      q.processAllAvailable()
      val all = spark.table("j10gap").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(all.toSet.contains(
        (1L, ts("2024-01-01 11:00:00").getTime / 1000, 1L, 0L)),
        s"the post-gap session must close on timeout, got ${all.toSeq}")
      assert(all.count(_._1 == 1L) == 2, "exactly two sessions for user 1")
    }
  }

  test("J10: sub-10-minute gap sessionizes correctly (watermark derives from the gap)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[Ev]
    // gapMinutes = 5 < the old hardcoded 10-minute watermark (round-6
    // verdict #6): events 7 minutes apart across batches must close as
    // TWO sessions
    val q = StreamingOps.sessionizeWithTimeout(in.toDF(), gapMinutes = 5)
      .writeStream.format("memory").queryName("j10sub")
      .outputMode("append").option("checkpointLocation", tmpCheckpoint())
      .start()
    withQuery(q) {
      in.addData(Ev(1, ts("2024-01-01 10:00:00"), 1, "view"))
      q.processAllAvailable()
      in.addData(Ev(2, ts("2024-01-01 10:07:00"), 1, "view"))
      q.processAllAvailable()
      // the 7-minute gap splits in-batch against the open state
      val first = spark.table("j10sub").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(first.toSeq == Seq(
        (1L, ts("2024-01-01 10:00:00").getTime / 1000, 1L, 0L)),
        s"the pre-gap session must close, got ${first.toSeq}")
      // advance the watermark past 10:07 + 5min and trigger the timeout
      in.addData(Ev(3, ts("2024-01-01 10:20:00"), 2, "view"))
      q.processAllAvailable()
      in.addData(Ev(4, ts("2024-01-01 10:21:00"), 2, "view"))
      q.processAllAvailable()
      val all = spark.table("j10sub").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(all.count(_._1 == 1L) == 2, s"two sessions for user 1: ${all.toSeq}")
      assert(all.toSet.contains(
        (1L, ts("2024-01-01 10:07:00").getTime / 1000, 1L, 0L)))
    }
  }

  test("J11: streaming as-of enrichment equals the batch window trick across batches") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = StreamingOps.streamingAsOfEnrich(in.toDF())
      .writeStream.format("memory").queryName("j11")
      .outputMode("append").option("checkpointLocation", tmpCheckpoint())
      .start()
    // per-user in-order delivery, split MID-USER across two batches so
    // the state must carry the latest prior event between batches; ties
    // on ts within a batch exercise the (ts, event_id) order
    val batch1 = Seq(
      Ev(1, ts("2024-01-01 10:00:00"), 1, "view"),
      Ev(2, ts("2024-01-01 10:05:00"), 1, "purchase"), // prev = 1
      Ev(3, ts("2024-01-01 10:05:00"), 2, "purchase"), // no prior
      Ev(4, ts("2024-01-01 10:06:00"), 2, "click"))
    val batch2 = Seq(
      Ev(5, ts("2024-01-01 10:30:00"), 1, "purchase"), // prev = 2 (cross-batch)
      Ev(6, ts("2024-01-01 10:31:00"), 2, "purchase"), // prev = 4 (cross-batch)
      Ev(7, ts("2024-01-01 10:31:00"), 2, "purchase")) // prev = 6 (same ts as 6? no — later id, same batch)
    withQuery(q) {
      in.addData(batch1: _*); q.processAllAvailable()
      in.addData(batch2: _*); q.processAllAvailable()
      val streamed = spark.table("j11").collect()
        .map(r => (r.getLong(0), Option(r.get(2)).map(_.toString.toLong),
          Option(r.get(3)).map(_.toString), Option(r.get(4)).map(_.toString.toLong)))
        .sortBy(_._1).toSeq
      // the batch truth: C10's lag over the full union
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"ts", $"event_id")
      val batch = (batch1 ++ batch2).toDF()
        .withColumn("prev_event_id", lag($"event_id", 1).over(w))
        .withColumn("prev_event_type", lag($"event_type", 1).over(w))
        .withColumn("gap_us",
          unix_micros($"ts") - lag(unix_micros($"ts"), 1).over(w))
        .filter($"event_type" === "purchase")
        .select($"event_id", $"prev_event_id", $"prev_event_type", $"gap_us")
        .collect()
        .map(r => (r.getLong(0), Option(r.get(1)).map(_.toString.toLong),
          Option(r.get(2)).map(_.toString), Option(r.get(3)).map(_.toString.toLong)))
        .sortBy(_._1).toSeq
      assert(streamed == batch, s"\nstreamed=$streamed\nbatch=$batch")
    }
  }

  test("J11: as-of enrichment restarts from checkpoint with state intact, at micro precision") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sq = spark.sqlContext
    // the restart harness of the J9 checkpoint test applied to the
    // STATEFUL J11 operator (r8 verdict task 7): flatMapGroupsWithState
    // state must recover from the checkpoint across a stop/start with
    // the stream split MID-USER, and sub-millisecond timestamps must
    // keep full micro precision (r8 advice #1: a ms-truncated getTime
    // quantized gap_us and re-ordered same-ms events)
    val ckpt = tmpCheckpoint()
    val out = SparkTestBase.tempDir("graft_j11r_") + "/sink"
    val in = MemoryStream[Ev]
    val writer: (org.apache.spark.sql.DataFrame, Long) => Unit =
      StreamingOps.idempotentBatchAppend(out)
    def start(): StreamingQuery = StreamingOps.streamingAsOfEnrich(in.toDF())
      .writeStream.foreachBatch(writer)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    // same-millisecond, different-microsecond pairs: (ts, event_id)
    // ordering must resolve on the MICROS, not fall back to event_id
    val batch1 = Seq(
      Ev(2, ts("2024-01-01 10:00:00.000250"), 1, "view"),
      Ev(1, ts("2024-01-01 10:00:00.000750"), 1, "purchase"), // prev = 2 (250µs earlier, HIGHER id)
      Ev(3, ts("2024-01-01 10:05:00"), 2, "view"))
    val batch2 = Seq(
      Ev(4, ts("2024-01-01 10:00:00.000900"), 1, "purchase"), // prev = 1, gap 150µs ACROSS restart
      Ev(5, ts("2024-01-01 10:06:00"), 2, "purchase"))        // prev = 3 across restart
    val q1 = start()
    withQuery(q1) { in.addData(batch1: _*); q1.processAllAvailable() }
    in.addData(batch2: _*) // delivered while the query is down
    val q2 = start()
    withQuery(q2) { q2.processAllAvailable() }
    val streamed = spark.read.parquet(out)
      .select("event_id", "prev_event_id", "gap_us").collect()
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.toString.toLong),
        Option(r.get(2)).map(_.toString.toLong)))
      .sortBy(_._1).toSeq
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts", $"event_id")
    val batch = (batch1 ++ batch2).toDF()
      .withColumn("prev_event_id", lag($"event_id", 1).over(w))
      .withColumn("gap_us",
        unix_micros($"ts") - lag(unix_micros($"ts"), 1).over(w))
      .filter($"event_type" === "purchase")
      .select($"event_id", $"prev_event_id", $"gap_us").collect()
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.toString.toLong),
        Option(r.get(2)).map(_.toString.toLong)))
      .sortBy(_._1).toSeq
    assert(streamed == batch, s"\nstreamed=$streamed\nbatch=$batch")
    // the micro-gap really is 150µs — ms truncation would report 0
    assert(streamed.find(_._1 == 4L).get._3.contains(150L))
  }

  test("J12: streaming CDC upsert merges change batches into the state table") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val state = SparkTestBase.tempDir("graft_cdc_") + "/state"
    val in = MemoryStream[(Long, String, Long)] // (id, value, change_seq)
    val writer: (org.apache.spark.sql.DataFrame, Long) => Unit =
      StreamingOps.cdcUpsertBatch(state, Seq("id"), "seq")
    val q = in.toDF().toDF("id", "v", "seq").writeStream
      .foreachBatch(writer)
      .option("checkpointLocation", tmpCheckpoint())
      .start()
    withQuery(q) {
      in.addData((1L, "a", 1L), (2L, "b", 2L))
      q.processAllAvailable() // batch 0: two inserts
      // batch 1: update 2 TWICE in one batch (last change wins),
      // insert 3, leave 1 untouched
      in.addData((2L, "x", 3L), (2L, "y", 4L), (3L, "c", 5L))
      q.processAllAvailable()
    }
    val got = spark.read.parquet(state).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "a"), (2L, "y"), (3L, "c")),
      s"SCD1 state after two batches, got $got")
    // re-applying an already-applied batch is a no-op (restart replay)
    writer(Seq((2L, "x", 3L), (2L, "y", 4L), (3L, "c", 5L))
      .toDF("id", "v", "seq"), 1L)
    val again = spark.read.parquet(state).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(again == got, "replayed batch must not change the state")
  }

  test("J24: streaming CDC into the snapshot store — versioned, replay-safe, time-travelable") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import graft.sources.SnapshotStore
    val root = SparkTestBase.tempDir("graft_cdcsnap_") + "/t"
    val in = MemoryStream[(Long, String, Long)] // (id, value, change_seq)
    val writer: (org.apache.spark.sql.DataFrame, Long) => Unit =
      StreamingOps.cdcSnapshotBatch(root, Seq("id"), "seq")
    val q = in.toDF().toDF("id", "v", "seq").writeStream
      .foreachBatch(writer)
      .option("checkpointLocation", tmpCheckpoint())
      .start()
    withQuery(q) {
      in.addData((1L, "a", 1L), (2L, "b", 2L))
      q.processAllAvailable() // batch 0 -> version 1
      in.addData((2L, "x", 3L), (2L, "y", 4L), (3L, "c", 5L))
      q.processAllAvailable() // batch 1 -> version 2
    }
    def content(asOf: Int): Set[(Long, String)] =
      SnapshotStore.read(spark, root, Some(asOf)).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(SnapshotStore.versions(spark, root) == Seq(1, 2))
    // latest = merged state; v1 = the table AFTER batch 0 (time travel
    // to an intermediate streaming state — the debuggability payoff)
    assert(content(2) == Set((1L, "a"), (2L, "y"), (3L, "c")))
    assert(content(1) == Set((1L, "a"), (2L, "b")))
    // replayed batch finds its version published and no-ops: no new
    // version, no double-merge
    writer(Seq((2L, "x", 3L), (2L, "y", 4L), (3L, "c", 5L))
      .toDF("id", "v", "seq"), 1L)
    assert(SnapshotStore.versions(spark, root) == Seq(1, 2))
    assert(content(2) == Set((1L, "a"), (2L, "y"), (3L, "c")))
  }

  test("J30: streaming CDC via merge-on-read upserts — O(batch) commits, " +
      "no rewrites, replay-safe, time-travelable") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import graft.sources.SnapshotStore
    val root = SparkTestBase.tempDir("graft_cdcmor_") + "/t"
    val in = MemoryStream[(Long, String, Long)] // (id, value, change_seq)
    val writer: (org.apache.spark.sql.DataFrame, Long) => Unit =
      StreamingOps.cdcSnapshotMorBatch(root, "id", "seq")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def dataFiles(): Map[String, (Long, Long)] =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/data"))
        .flatMap(d => fs.listStatus(d.getPath))
        .filter(_.isFile)
        .map(f => f.getPath.toString ->
          (f.getModificationTime, f.getLen)).toMap
    val q = in.toDF().toDF("id", "v", "seq").writeStream
      .foreachBatch(writer)
      .option("checkpointLocation", tmpCheckpoint())
      .start()
    var afterBatch0: Map[String, (Long, Long)] = Map.empty
    withQuery(q) {
      in.addData((1L, "a", 1L), (2L, "b", 2L))
      q.processAllAvailable() // batch 0 -> version 1
      afterBatch0 = dataFiles()
      in.addData((2L, "x", 3L), (2L, "y", 4L), (3L, "c", 5L))
      q.processAllAvailable() // batch 1 -> version 2 (MoR upsert)
    }
    // the MoR law under streaming: batch 1 rewrote NOTHING batch 0 wrote
    afterBatch0.foreach { case (p, mtLen) =>
      assert(dataFiles().get(p).contains(mtLen),
        s"MoR CDC batch rewrote existing file $p")
    }
    def content(asOf: Int): Set[(Long, String)] =
      SnapshotStore.read(spark, root, Some(asOf)).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(SnapshotStore.versions(spark, root) == Seq(1, 2))
    assert(content(2) == Set((1L, "a"), (2L, "y"), (3L, "c")))
    assert(content(1) == Set((1L, "a"), (2L, "b")))
    // replayed batch finds its version published and no-ops
    writer(Seq((2L, "x", 3L), (2L, "y", 4L), (3L, "c", 5L))
      .toDF("id", "v", "seq"), 1L)
    assert(SnapshotStore.versions(spark, root) == Seq(1, 2))
    assert(content(2) == Set((1L, "a"), (2L, "y"), (3L, "c")))
  }

  test("J12: a crash between the swap renames is recovered on replay (state survives)") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val state = SparkTestBase.tempDir("graft_cdc_") + "/state"
    val writer: (org.apache.spark.sql.DataFrame, Long) => Unit =
      StreamingOps.cdcUpsertBatch(state, Seq("id"), "seq")
    writer(Seq((1L, "a", 1L)).toDF("id", "v", "seq"), 0L)
    // simulate the batch-1 crash window: state renamed ASIDE, staged
    // result never renamed in — exactly what a kill between the two
    // renames leaves on disk
    val fs = new Path(state)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.rename(new Path(state), new Path(state + "__old_1")))
    // the replayed batch must restore the set-aside state and merge
    // into it — not rebuild the table from its own rows
    writer(Seq((2L, "b", 2L)).toDF("id", "v", "seq"), 1L)
    val got = spark.read.parquet(state).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "a"), (2L, "b")), s"recovered + merged, got $got")
    assert(!fs.exists(new Path(state + "__old_1")),
      "set-aside copy is retired after the successful swap")
  }

  test("J12: foreign dirs sharing the __old_ prefix are ignored, not parsed") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val state = SparkTestBase.tempDir("graft_cdc_") + "/state"
    val fs = new Path(state)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // a non-numeric dir matching the prefix (e.g. an operator's manual
    // backup) must not crash the recovery scan with NumberFormatException
    fs.mkdirs(new Path(state + "__old_backup"))
    val writer: (org.apache.spark.sql.DataFrame, Long) => Unit =
      StreamingOps.cdcUpsertBatch(state, Seq("id"), "seq")
    writer(Seq((1L, "a", 1L)).toDF("id", "v", "seq"), 0L)
    writer(Seq((2L, "b", 2L)).toDF("id", "v", "seq"), 1L)
    val got = spark.read.parquet(state).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "a"), (2L, "b")))
    assert(fs.exists(new Path(state + "__old_backup")),
      "a foreign dir is not ours to delete")
  }

  test("J9: foreachBatch idempotent sink survives batch re-delivery (exactly-once)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val out = SparkTestBase.tempDir("graft_j9_") + "/sink"
    val in = MemoryStream[Ev]
    val writer: (org.apache.spark.sql.DataFrame, Long) => Unit =
      StreamingOps.idempotentBatchAppend(out)
    val q = in.toDF().writeStream
      .foreachBatch(writer)
      .option("checkpointLocation", tmpCheckpoint())
      .start()
    val b1 = Seq(
      Ev(2, ts("2024-01-01 10:01:00"), 1, "click"),
      Ev(3, ts("2024-01-01 10:02:00"), 2, "view"))
    withQuery(q) {
      in.addData(Ev(1, ts("2024-01-01 10:00:00"), 1, "view"))
      q.processAllAvailable() // batch 0
      in.addData(b1: _*)
      q.processAllAvailable() // batch 1
    }
    assert(spark.read.parquet(out).count() == 3)
    // foreachBatch is AT-LEAST-once: simulate the post-failure
    // re-delivery of batch 1 with identical contents — the dynamic
    // partition overwrite must replace, not duplicate
    writer(b1.toDF(), 1L)
    val rows = spark.read.parquet(out)
    assert(rows.count() == 3, "re-delivered batch must not duplicate rows")
    assert(rows.select("event_id").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 2L, 3L))
    assert(rows.select("batch_id").distinct().collect()
      .map(_.getInt(0)).sorted.toSeq == Seq(0, 1))
  }

  test("restart from checkpoint resumes the stream with exactly-once sink contents") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // stop a checkpointed query mid-stream, restart from the same
    // checkpoint, and assert the idempotent sink holds each event
    // exactly once across the restart (round-6 verdict task 9): offsets
    // recover from the WAL, and any re-delivered batch overwrites its
    // own partition instead of appending a second copy.
    val ckpt = tmpCheckpoint()
    val out = SparkTestBase.tempDir("graft_rr_") + "/sink"
    val in = MemoryStream[Ev]
    val writer: (org.apache.spark.sql.DataFrame, Long) => Unit =
      StreamingOps.idempotentBatchAppend(out)
    def start(): StreamingQuery = in.toDF().writeStream
      .foreachBatch(writer)
      .option("checkpointLocation", ckpt)
      .start()
    val q1 = start()
    withQuery(q1) {
      in.addData(
        Ev(1, ts("2024-01-01 10:00:00"), 1, "view"),
        Ev(2, ts("2024-01-01 10:01:00"), 1, "click"))
      q1.processAllAvailable()
    } // stopped mid-stream; events 1-2 are committed
    assert(spark.read.parquet(out).count() == 2)
    in.addData(Ev(3, ts("2024-01-01 10:02:00"), 2, "view")) // while down
    val q2 = start()
    withQuery(q2) {
      q2.processAllAvailable()
      in.addData(Ev(4, ts("2024-01-01 10:03:00"), 2, "click"))
      q2.processAllAvailable()
    }
    val rows = spark.read.parquet(out)
    assert(rows.select("event_id").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 2L, 3L, 4L),
      "each event exactly once across the restart")
    // batches restarted from the checkpoint continue the batch-id
    // sequence — no batch was double-appended
    assert(rows.groupBy("event_id").count().collect()
      .forall(_.getLong(1) == 1L))
  }

  test("parquet file source → watermarked agg → parquet file sink equals batch") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val srcDir = SparkTestBase.tempDir("graft_fsrc_")
    val sinkDir = SparkTestBase.tempDir("graft_fsink_")
    // 120 events spanning 3 hours, written as parquet micro-timestamps
    val evs = (0 until 120).map(i =>
      Ev(i.toLong, new Timestamp(ts("2024-01-01 10:00:00").getTime + i * 90000L),
        i.toLong % 7, "view"))
    evs.toDF().write.mode("overwrite").parquet(srcDir)
    val agg = spark.readStream
      .schema(org.apache.spark.sql.Encoders.product[Ev].schema)
      .parquet(srcDir)
      .withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
      .select(unix_timestamp(col("window.start")).as("ws"), col("n"))
    val q = agg.writeStream.format("parquet")
      .option("path", sinkDir).option("checkpointLocation", tmpCheckpoint())
      .outputMode("append").start()
    withQuery(q) {
      q.processAllAvailable()
      // sentinel far in the future advances the watermark so every real
      // window closes and flushes to the file sink
      Seq(Ev(999L, ts("2024-01-02 00:00:00"), 1L, "view"))
        .toDF().write.mode("append").parquet(srcDir)
      q.processAllAvailable()
    }
    val sentinelWs = ts("2024-01-02 00:00:00").getTime / 1000
    val streamed = spark.read.parquet(sinkDir)
      .filter(col("ws") < sentinelWs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val batch = evs.toDF()
      .groupBy(window(col("ts"), "1 hour")).agg(count(lit(1)).as("n"))
      .select(unix_timestamp(col("window.start")).as("ws"), col("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(streamed == batch)
    assert(batch.size == 3) // 10:00, 11:00, 12:00 windows
  }

  test("streaming corpus ingestion: quality filter + exact dedup over a file stream equals batch") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the curation pipeline run INCREMENTALLY: documents arrive as
    // parquet files, are quality-filtered (token band) and
    // exact-deduped (sha2 text hash — state keyed by the 256-bit hash,
    // never the text), and land in an idempotent per-batch sink. The
    // streamed survivors must equal the batch dedup_exact semantics
    // over the same corpus.
    val srcDir = SparkTestBase.tempDir("graft_csrc_")
    val sinkDir = SparkTestBase.tempDir("graft_csink_") + "/sink"
    val batch1 = Seq(
      (0L, "alpha beta gamma delta epsilon"),
      (1L, "alpha beta gamma delta epsilon"), // exact dup of 0
      (2L, "one two"),                        // fails the >= 3-token band
      (3L, "zeta eta theta iota kappa"))
    val batch2 = Seq(
      (4L, "alpha beta gamma delta epsilon"), // dup of 0, later file
      (5L, "lambda mu nu xi omicron"))
    batch1.toDF("doc_id", "text").write.mode("overwrite").parquet(srcDir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val cur = spark.readStream.schema(schema).parquet(srcDir)
      .filter(size(split(col("text"), " ")) >= 3)
      .withColumn("text_sha", sha2(col("text"), 256))
      .dropDuplicates("text_sha")
      .select(col("doc_id"), col("text_sha"))
    val writer: (org.apache.spark.sql.DataFrame, Long) => Unit =
      StreamingOps.idempotentBatchAppend(sinkDir)
    val q = cur.writeStream.foreachBatch(writer)
      .option("checkpointLocation", tmpCheckpoint()).start()
    withQuery(q) {
      q.processAllAvailable()
      batch2.toDF("doc_id", "text").write.mode("append").parquet(srcDir)
      q.processAllAvailable()
    }
    val out = spark.read.parquet(sinkDir)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    // one survivor per distinct text among quality docs. WITHIN a
    // micro-batch dropDuplicates keeps an arbitrary member (docs 0/1
    // share a batch — either may win); ACROSS batches the state is
    // authoritative: doc 4 arrives after batch 1 committed its hash
    // and must always lose, and doc 2 fails the quality band.
    assert(out.length == 3, s"streamed survivors: $out")
    assert(out.contains(3L) && out.contains(5L), s"streamed survivors: $out")
    assert(out.intersect(Seq(0L, 1L)).length == 1,
      s"exactly one of the batch-1 dups survives: $out")
    assert(!out.contains(4L), s"cross-batch dup must lose to the state: $out")
  }

  test("J1-J3 batch/stream parity: window() over a bounded stream equals batch") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val evs = Seq(
      Ev(1, ts("2024-01-01 10:05:00"), 1, "view"),
      Ev(2, ts("2024-01-01 10:55:00"), 1, "view"),
      Ev(3, ts("2024-01-01 11:05:00"), 2, "click"))
    val in = MemoryStream[Ev]
    import org.apache.spark.sql.functions._
    val agg = in.toDF()
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_timestamp(col("window.start")).as("wstart"),
        col("event_type"), col("n"))
    val q = agg.writeStream.format("memory").queryName("j_parity")
      .outputMode("complete").option("checkpointLocation", tmpCheckpoint())
      .start()
    withQuery(q) {
      in.addData(evs: _*)
      q.processAllAvailable()
      val streamed = spark.table("j_parity").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
      val batch = evs.toDF()
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(unix_timestamp(col("window.start")), col("event_type"), col("n"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
      assert(streamed == batch)
    }
  }

  test("J21: outer stream-stream join emits unmatched views with NULLs at watermark expiry") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val views = MemoryStream[Ev]
    val clicks = MemoryStream[Ev]
    val q = StreamingOps.streamStreamOuterJoin(views.toDF(), clicks.toDF())
      .writeStream.format("memory").queryName("j21")
      .outputMode("append").option("checkpointLocation", tmpCheckpoint())
      .start()
    withQuery(q) {
      // view 1 converts inside its window; view 2 never converts
      views.addData(Ev(1, ts("2024-01-01 10:00:00"), 1, "view"),
        Ev(2, ts("2024-01-01 10:10:00"), 2, "view"))
      clicks.addData(Ev(50, ts("2024-01-01 10:02:00"), 1, "click"))
      q.processAllAvailable()
      // push BOTH watermarks far past view 2's join window, twice —
      // outer-null emission happens when the expired state is swept
      for (t <- Seq("2024-01-01 11:00:00", "2024-01-01 12:00:00")) {
        views.addData(Ev(3, ts(t), 9, "view"))
        clicks.addData(Ev(51, ts(t), 9, "click"))
        q.processAllAvailable()
      }
      val byView = spark.table("j21").collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
      // matched pair emitted with its click and a 2-minute gap
      assert(byView(1L) == Some(50L))
      val gap = spark.table("j21").collect()
        .find(_.getLong(0) == 1L).get.getLong(3)
      assert(gap == 120000000L)
      // the never-converted view emitted exactly once, null-extended
      assert(byView.contains(2L) && byView(2L).isEmpty)
    }
  }

  test("J22: full-outer stream-stream join emits NULLs in BOTH directions at expiry") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val views = MemoryStream[Ev]
    val clicks = MemoryStream[Ev]
    val q = StreamingOps.streamStreamFullOuterJoin(views.toDF(), clicks.toDF())
      .writeStream.format("memory").queryName("j22")
      .outputMode("append").option("checkpointLocation", tmpCheckpoint())
      .start()
    withQuery(q) {
      // view 1 converts; view 2 never converts (view-side NULL leg);
      // click 60 has no view inside [click-5min, click] (click-side leg)
      views.addData(Ev(1, ts("2024-01-01 10:00:00"), 1, "view"),
        Ev(2, ts("2024-01-01 10:10:00"), 2, "view"))
      clicks.addData(Ev(50, ts("2024-01-01 10:02:00"), 1, "click"),
        Ev(60, ts("2024-01-01 10:12:00"), 3, "click"))
      q.processAllAvailable()
      // sweep both watermarks far past every window, twice
      for (t <- Seq("2024-01-01 11:00:00", "2024-01-01 12:00:00")) {
        views.addData(Ev(3, ts(t), 9, "view"))
        clicks.addData(Ev(51, ts(t), 9, "click"))
        q.processAllAvailable()
      }
      val rows = spark.table("j22").collect().map { r =>
        (if (r.isNullAt(0)) None else Some(r.getLong(0)),
          if (r.isNullAt(1)) None else Some(r.getLong(1)),
          r.getLong(2))
      }.toSet
      // matched pair, unconverted view, and view-less click all present
      assert(rows.contains((Some(1L), Some(50L), 1L)))
      assert(rows.contains((Some(2L), None, 2L)))
      assert(rows.contains((None, Some(60L), 3L)))
      // the matched pair still carries the J8/J21 gap arithmetic
      val gap = spark.table("j22").collect()
        .find(r => !r.isNullAt(0) && r.getLong(0) == 1L).get.getLong(3)
      assert(gap == 120000000L)
    }
  }

  test("J34: streaming last-touch attribution equals the batch law, " +
      "session breaks crossing micro-batch boundaries included") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[EvTV]
    val q = ops.StreamingOps.streamingAttribution(in.toDF())
      .writeStream.format("memory").queryName("j34")
      .outputMode("append").option("checkpointLocation", tmpCheckpoint())
      .start()
    // user 1: click → purchase (last-touch click), then a >30-min gap
    // that falls BETWEEN the two micro-batches → the next purchase is
    // session-opening 'direct'; user 2: purchase → purchase (the
    // self-touch taxonomy), preceded by nothing → first is 'direct'
    val batch1 = Seq(
      EvTV(1, ts("2024-01-01 10:00:00"), 1, "click", 0.0),
      EvTV(2, ts("2024-01-01 10:05:00"), 1, "purchase", 19.99),
      EvTV(3, ts("2024-01-01 10:01:00"), 2, "purchase", 5.25))
    val batch2 = Seq(
      EvTV(4, ts("2024-01-01 11:30:00"), 1, "purchase", 7.50), // gap > 30m
      EvTV(5, ts("2024-01-01 10:02:00"), 2, "purchase", 1.01))
    withQuery(q) {
      in.addData(batch1: _*); q.processAllAvailable()
      in.addData(batch2: _*); q.processAllAvailable()
      def norm(rs: Array[org.apache.spark.sql.Row]) = rs.map { r =>
        (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))
      }.sortBy(_._1).toSeq
      val streamed = norm(spark.table("j34").collect())
      val batch = norm(ops.Events.attributionTouches(
        (batch1 ++ batch2).toDF()
          .select($"user_id", $"event_id", $"event_type", $"value",
            unix_micros($"ts").as("tus"))).collect())
      assert(streamed.find(_._1 == 2L).exists(_._3 == "click"))
      assert(streamed.find(_._1 == 4L).exists(_._3 == "direct"),
        "the cross-batch session break must re-derive from state")
      assert(streamed.find(_._1 == 5L).exists(_._3 == "purchase"))
      assert(streamed == batch, s"\nstreamed=$streamed\nbatch=$batch")
    }
  }

  test("J20: streaming rolling z-score equals the batch law across batches") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[EvV]
    val q = StreamingOps.streamingAnomaly(in.toDF())
      .writeStream.format("memory").queryName("j20")
      .outputMode("append").option("checkpointLocation", tmpCheckpoint())
      .start()
    // user 1 split MID-BUFFER across the batches (the ring buffer must
    // carry over); user 2 is constant-valued → the zero-variance branch
    val batch1 = Seq(
      EvV(1, ts("2024-01-01 10:00:00"), 1, 10.25),
      EvV(2, ts("2024-01-01 10:01:00"), 1, 10.75),
      EvV(3, ts("2024-01-01 10:02:00"), 1, 9.50),
      EvV(4, ts("2024-01-01 10:03:00"), 1, 10.00), // first scored (n_prev=3)
      EvV(5, ts("2024-01-01 10:00:30"), 2, 5.00),
      EvV(6, ts("2024-01-01 10:01:30"), 2, 5.00))
    val batch2 = Seq(
      EvV(7, ts("2024-01-01 10:04:00"), 1, 55.00), // planted spike
      EvV(8, ts("2024-01-01 10:05:00"), 1, 10.50),
      EvV(9, ts("2024-01-01 10:02:30"), 2, 5.00),
      EvV(10, ts("2024-01-01 10:03:30"), 2, 5.00)) // n=3, var=0 → NULL
    withQuery(q) {
      in.addData(batch1: _*); q.processAllAvailable()
      in.addData(batch2: _*); q.processAllAvailable()
      def norm(rs: Array[org.apache.spark.sql.Row]) = rs.map { r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getDouble(4)), r.getBoolean(5))
      }.sortBy(_._1).toSeq
      val streamed = norm(spark.table("j20").collect())
      val batch = norm(graft.ops.Events.anomalyScores(
        (batch1 ++ batch2).toDF()
          .select($"event_id", $"user_id", $"value",
            unix_micros($"ts").as("tus"))).collect())
      // the spike is flagged, the flat-baseline row reports NULL
      assert(streamed.find(_._1 == 7L).exists(_._6))
      assert(streamed.find(_._1 == 10L).exists(r => r._5.isEmpty && !r._6))
      assert(streamed == batch, s"\nstreamed=$streamed\nbatch=$batch")
    }
  }
  test("J40: streaming inter-event gaps row-equal to the batch window " +
      "across micro-batches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[Ev]
      val q = StreamingOps.streamInterEventGaps(in.toDF())
        .writeStream.format("memory").queryName("j40")
        .outputMode("append").option("checkpointLocation", tmpCheckpoint())
        .start()
      val batch1 = Seq(
        Ev(1, ts("2024-01-01 10:00:00"), 1, "view"),
        Ev(2, ts("2024-01-01 10:01:30"), 1, "view"),
        Ev(3, ts("2024-01-01 10:02:00"), 1, "click"),
        Ev(4, ts("2024-01-01 10:00:10"), 2, "view"))
      val batch2 = Seq(
        Ev(5, ts("2024-01-01 10:05:00"), 1, "view"),
        Ev(6, ts("2024-01-01 10:06:00"), 2, "view"),
        Ev(7, ts("2024-01-01 10:07:00"), 1, "click"),
        Ev(8, ts("2024-01-01 10:07:20"), 2, "view"))
      withQuery(q) {
        in.addData(batch1: _*)
        q.processAllAvailable()
        in.addData(batch2: _*)
        q.processAllAvailable()
        val streamed = spark.table("j40").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
            r.getLong(3))).toSet
        val batch = graft.ops.Events.interEventGaps(
          (batch1 ++ batch2).toDF()).collect()
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
            r.getLong(4))).toSet
        assert(streamed == batch,
          "the streaming state fold must produce the batch gap relation")
        // gaps DO cross the micro-batch boundary (event 5 vs event 2)
        assert(streamed.exists(_._3 == 5L))
      }
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("the registered _be rungs run on RocksDB BY DEFAULT with live " +
      "state metrics (r18 verdict #5)") {
    // no conf set: the registered J-family queries must exercise the
    // provider production runs — proven off the finished query's own
    // progress (rocksdb* custom metrics exist only when the RocksDB
    // provider actually served the state), never off the conf value
    assert(spark.conf.getOption(graft.ops.StreamingOps.StateStoreConf)
      .isEmpty)
    val statefulBe = Seq("stream_watermark_late_be", "stream_dedup_be",
      "stream_stateful_custom_be", "stream_stream_interval_join_be")
    for (op <- statefulBe) {
      SparkEntry.queries(op)(spark, sfDir).collect()
      val ms = graft.ops.StreamingOps.lastStateMetrics
      assert(ms.nonEmpty, s"$op: no state-operator metrics captured")
      for ((name, rows, mem, custom) <- ms) {
        assert(rows > 0L, s"$op/$name: state must hold rows (got $rows)")
        assert(mem > 0L, s"$op/$name: state memory unreported")
        assert(custom.exists(_.toLowerCase.contains("rocksdb")),
          s"$op/$name: no rocksdb custom metrics — default provider " +
            s"did not take (keys: ${custom.take(5)})")
      }
    }
    // `default` restores Spark's built-in provider through the same
    // gate — its progress has no rocksdb metrics
    spark.conf.set(graft.ops.StreamingOps.StateStoreConf, "default")
    try {
      SparkEntry.queries("stream_dedup_be")(spark, sfDir).collect()
      val custom = graft.ops.StreamingOps.lastStateMetrics
        .flatMap(_._4)
      assert(custom.nonEmpty &&
        !custom.exists(_.toLowerCase.contains("rocksdb")),
        "the default-provider escape hatch must bypass RocksDB")
    } finally
      spark.conf.unset(graft.ops.StreamingOps.StateStoreConf)
  }

  test("watermarked dedup state is BOUNDED across epochs under RocksDB " +
      "(r18 verdict #5: state rows must evict, not accumulate)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[Ev]
      val q = StreamingOps.streamingDedupWithinWatermark(in.toDF())
        .writeStream.format("memory").queryName("bounded_state")
        .outputMode("append").option("checkpointLocation", tmpCheckpoint())
        .start()
      def stateRows: Long = q.recentProgress.reverseIterator
        .find(_.stateOperators.nonEmpty)
        .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L)
      withQuery(q) {
        val perEpoch = 200
        def epoch(hour: Int, base: Long): Unit = {
          in.addData((0 until perEpoch).map(i =>
            Ev(base + i, ts(f"2024-01-01 $hour%02d:00:00"), i, "view")): _*)
          q.processAllAvailable()
        }
        epoch(1, 1000); val s1 = stateRows
        // each later epoch advances the watermark a full hour — far
        // past the 10-minute dedup delay — so epoch N's arrival must
        // EVICT epoch N-1's keys, and total state stays ~one epoch
        epoch(3, 2000); val s2 = stateRows
        epoch(5, 3000); val s3 = stateRows
        assert(s1 > 0L, "dedup state must be populated")
        val bound = perEpoch + perEpoch / 2
        assert(s2 <= bound && s3 <= bound,
          s"state must stay ~one epoch after watermark eviction " +
            s"(epochs held $s1/$s2/$s3 rows vs bound $bound) — " +
            "unbounded growth here is the 100-TB streaming OOM")
      }
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("the five _be rungs are row-identical under the RocksDB state " +
      "store, and the conf gate is live (r17 verdict #4)") {
    val beOps = Seq("stream_watermark_late_be", "stream_dedup_be",
      "stream_stream_static_join_be", "stream_stateful_custom_be",
      "stream_stream_interval_join_be")
    def snap(op: String): Set[String] =
      SparkEntry.queries(op)(spark, sfDir)
        .collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSet
    val base = beOps.map(op => op -> snap(op)).toMap
    // liveness first: a bogus provider class routed through the same
    // gate must FAIL a stateful run — proving the switch actually
    // reaches the state-store machinery, so the equality below is a
    // real RocksDB result, not a silently-defaulted one
    spark.conf.set(graft.ops.StreamingOps.StateStoreConf, "no.such.Provider")
    try {
      intercept[Exception] { snap("stream_dedup_be") }
      spark.conf.set(graft.ops.StreamingOps.StateStoreConf, "rocksdb")
      for (op <- beOps)
        assert(snap(op) == base(op),
          s"$op: RocksDB state store must not change results")
    } finally
      spark.conf.unset(graft.ops.StreamingOps.StateStoreConf)
  }

}
