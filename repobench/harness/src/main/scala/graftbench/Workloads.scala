package graftbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.census.{Mapping, Normalize, Warehouse}
import graft.ops.{StreamingOps, Util}
import graft.sources.SnapshotStore

/** What an op gets for one pass: the session, the pass's own scratch root
  * (fresh per pass, removed outside the timed region) and the tracer. */
final case class PassCtx(spark: SparkSession, pass: Int, root: String, tracer: Tracer)

/** One benchmark operation. `run` is the timed part; it returns the
  * output check, which the harness runs untimed: `None` when the output
  * is correct, otherwise the reason it is not. */
trait Op {
  def name: String
  def deps: Seq[String] = Nil
  def run(ctx: PassCtx): () => Option[String]
}

trait Workload {
  def ops: Seq[Op]
  /** Open the workload's inputs (part of set-up). */
  def open(): Unit
  /** Files the census source serves, for fetch amplification. */
  def sourceBytes: Long = 0L
  /** Defects the workload's inputs step around, probed once per run:
    * name → what the engine does today. */
  def knownDefects(): Map[String, String] = Map.empty
}

object Workloads {
  /** The curation subset: the SimHash kernel, the dedup-cluster cache
    * and TF-IDF over the token cache. */
  val LlmOps = Seq("dedup_simhash", "dedup_clusters", "text_tfidf")

  def apply(name: String, spark: SparkSession, data: String,
      expected: Map[String, Fingerprint.Print], only: Seq[String]): Workload = {
    def pick(all: Seq[String]) = if (only.isEmpty) all else all.filter(only.contains)
    name match {
      case "llm_curation" => new EntryWorkload(spark, data, pick(LlmOps), expected, Seq("documents"))
      case "census_pipeline" => new CensusWorkload(spark, data)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }
}

/** Registered queries of `graft.SparkEntry`, each checked against its
  * stored fingerprint. Construction (the entry function) and execution
  * (`collect`, which runs the query's full plan) are separate spans. */
final class EntryWorkload(spark: SparkSession, data: String, names: Seq[String],
    expected: Map[String, Fingerprint.Print], tables: Seq[String]) extends Workload {
  /** Fingerprints seen in this run, for recording expected values. */
  val seen = scala.collection.mutable.Map.empty[String, Fingerprint.Print]

  def open(): Unit = tables.foreach(t => Util.t(spark, data, t).schema)

  val ops: Seq[Op] = names.map { n =>
    val fn = graft.SparkEntry.queries(n)
    new Op {
      val name: String = n
      def run(ctx: PassCtx): () => Option[String] = {
        val df = ctx.tracer.span("construct")(fn(spark, data))
        val rows = ctx.tracer.span("execute")(df.collect())
        () => {
          val got = Fingerprint.of(df.schema, rows)
          seen(n) = got
          expected.get(n) match {
            case Some(want) if want == got => None
            case Some(want) => Some(s"fingerprint $got, expected $want")
            case None => Some(s"no expected fingerprint (got $got)")
          }
        }
      }
    }
  }
}

/** The census tract ETL on generated API responses (two vintages), every
  * step a call into a public function, checked against the generator's
  * closed-form truth (`truth.json`). */
final class CensusWorkload(spark: SparkSession, dir: String) extends Workload {
  private val truth: JsonNode = new ObjectMapper().readTree(new File(s"$dir/truth.json"))
  private val codes = truth.get("codes").elements().asScala.map(_.asText).toSeq
  private val header = ("NAME" +: codes) ++ Seq("state", "county", "tract")
  private val estimates = codes.map(c => Mapping.codeToLabel(c) -> c.endsWith("PE")).toMap
  private def longs(k: String) = truth.get(k).elements().asScala.map(_.asLong).toSeq
  private val changed = longs("changed")
  private val deleted = longs("deleted")
  private val added = longs("added")
  private val v1Rows = truth.get("v1_rows").asLong
  private val v2Rows = truth.get("v2_rows").asLong
  private val threeStates = Seq("06", "36", "48")

  override def sourceBytes: Long = new File(s"$dir/v1.json").length

  private def source(vintage: String): DataFrame =
    spark.read.format("graft.sources.CensusSource")
      .option("path", s"$dir/$vintage.json")
      .option("expect", header.mkString(","))
      .option("fetcherClass", classOf[CountingFetcher].getName)
      .load()

  /** Cleaned tract table of one vintage, keyed by a numeric GEOID. */
  private def cleaned(vintage: String): DataFrame = {
    val df = Normalize.censusPipeline(Seq(source(vintage)), header, Mapping.codeToLabel,
      estimates, Seq("STATE", "COUNTY", "TRACT"))
    val geoid = concat(col("STATE"), col("COUNTY"), col("TRACT")).cast("long").as("GEOID")
    df.select(geoid +: df.columns.toSeq.map(c => col(s"`$c`")): _*)
  }

  def open(): Unit = { source("v1").schema; source("v2_changes").schema; () }

  /** The generator plants no sentinel in percent codes (see gen.py,
    * PERCENT_SENTINELS) because cleaning one throws today; this probe
    * reports that on every run, so the gap stays visible. */
  override def knownDefects(): Map[String, String] = {
    val cleaned = spark.range(1).select(Normalize.cleanCast(lit("-666666666"), percent = true))
    val state =
      try Option(cleaned.collect().head.get(0)).fold("fixed: cleans to NULL")(v => s"wrong: $v")
      catch { case scala.util.control.NonFatal(e) => s"throws ${e.getClass.getSimpleName}" }
    Map("percent_sentinel_clean" -> state)
  }

  private def table(ctx: PassCtx) = s"${ctx.root}/tracts"

  /** Cleaned output of one vintage, staged for the warehouse load. */
  private def staged(ctx: PassCtx, vintage: String) = s"${ctx.root}/staged_$vintage"

  /** The source's micro-batch read, nine state chunks per batch. */
  private def stream(vintage: String): DataFrame =
    spark.readStream.format("graft.sources.CensusSource")
      .option("path", s"$dir/$vintage.json")
      .option("expect", header.mkString(","))
      .option("fetcherClass", classOf[CountingFetcher].getName)
      .option("maxChunksPerTrigger", "9")
      .load()

  /** Per code label: (sum of non-null values in tenths, non-null count). */
  private def sums(df: DataFrame, rows: Array[Row]): Map[String, (Long, Long)] =
    codes.map { c =>
      val i = df.schema.fieldIndex(Mapping.codeToLabel(c))
      val vs = rows.flatMap(r => Option(r.getDecimal(i)))
      c -> (vs.map(_.movePointRight(1).longValueExact).sum, vs.length.toLong)
    }.toMap

  private def truthSums(key: String): Map[String, (Long, Long)] =
    codes.map { c =>
      val a = truth.get(key).get(c)
      c -> (a.get(0).asLong, a.get(1).asLong)
    }.toMap

  private def expect(ok: Boolean, what: => String): Option[String] =
    if (ok) None else Some(what)

  private def op(n: String, after: String*)(body: PassCtx => () => Option[String]): Op =
    new Op {
      val name: String = n
      override val deps: Seq[String] = after
      def run(ctx: PassCtx): () => Option[String] = body(ctx)
    }

  private def scan(ctx: PassCtx, df: => DataFrame): (DataFrame, Array[Row]) =
    ctx.tracer.span("sources.scan") {
      val d = ctx.tracer.span("construct")(df)
      (d, ctx.tracer.span("execute")(d.collect()))
    }

  val ops: Seq[Op] = Seq(
    op("census_scan_all") { ctx =>
      val (_, rows) = scan(ctx, source("v1"))
      () => expect(rows.length == v1Rows, s"${rows.length} rows, expected $v1Rows")
    },
    op("census_scan_states") { ctx =>
      val (_, rows) = scan(ctx, source("v1").filter(col("state").isin(threeStates: _*)))
      val want = threeStates.map(s => truth.get("v1_by_state").get(s).asLong).sum
      () => expect(rows.length == want, s"${rows.length} rows, expected $want")
    },
    op("census_scan_agg_pushdown") { ctx =>
      val (_, rows) = scan(ctx, source("v1").groupBy(col("state")).agg(count(lit(1)).as("n")))
      () => {
        val got = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
        val want = truth.get("v1_by_state").fields().asScala.map(e => e.getKey -> e.getValue.asLong).toMap
        expect(got == want, s"per-state counts $got, expected $want")
      }
    },
    op("census_clean") { ctx =>
      ctx.tracer.span("census.pipeline") {
        Seq("v1", "v2_changes").foreach { v =>
          val d = ctx.tracer.span("construct")(cleaned(v))
          ctx.tracer.span("execute")(d.write.parquet(staged(ctx, v)))
        }
      }
      () => {
        val v1 = spark.read.parquet(staged(ctx, "v1"))
        val rows = v1.collect()
        val feed = spark.read.parquet(staged(ctx, "v2_changes")).count()
        expect(rows.length == v1Rows && sums(v1, rows) == truthSums("v1_sums") &&
          feed == changed.length + added.length,
          s"${rows.length} rows, $feed changes, or cleaned sums differ from the generator's")
      }
    },
    op("census_load_v1", "census_clean") { ctx =>
      val v = ctx.tracer.span("sinks.commit")(SnapshotStore.commitOverwrite(spark, table(ctx),
        spark.read.parquet(staged(ctx, "v1")), Seq("GEOID")))
      () => expect(v == 1, s"load published v$v")
    },
    op("census_upsert_v2", "census_load_v1") { ctx =>
      val v = ctx.tracer.span("sinks.commit")(SnapshotStore.commitUpsert(spark, table(ctx),
        "GEOID", spark.read.parquet(staged(ctx, "v2_changes"))))
      () => expect(v == 2, s"upsert published v$v")
    },
    op("census_delete_v2", "census_upsert_v2") { ctx =>
      val v = ctx.tracer.span("sinks.commit")(SnapshotStore.commitDelete(spark, table(ctx),
        "GEOID", col("GEOID").isin(deleted.map(Long.box): _*)))
      () => expect(v == 3, s"delete published v$v")
    },
    op("census_merge_scd2", "census_load_v1") { ctx =>
      val rows = ctx.tracer.span("census.merge") {
        val merged = ctx.tracer.span("construct") {
          val v1 = SnapshotStore.read(spark, table(ctx), Some(1))
          val business = v1.columns.toSeq.map(c => col(s"`$c`"))
          val target = v1.select(business :+ lit(java.sql.Date.valueOf("2023-01-01")).as("valid_from")
            :+ lit(null).cast("date").as("valid_to"): _*)
          val updates = spark.read.parquet(staged(ctx, "v2_changes")).select(business: _*)
          Warehouse.mergeScd2(target, updates, Seq("GEOID"), lit(java.sql.Date.valueOf("2024-01-01")))
        }
        ctx.tracer.span("execute")(merged.select(col("valid_to")).collect())
      }
      () => {
        val open = rows.count(_.isNullAt(0)).toLong
        val wantRows = v1Rows + changed.length + added.length
        expect(rows.length == wantRows && open == v1Rows + added.length,
          s"${rows.length} rows / $open open, expected $wantRows / ${v1Rows + added.length}")
      }
    },
    op("census_read_asof", "census_delete_v2") { ctx =>
      val (df, rows) = ctx.tracer.span("sinks.read") {
        val d = ctx.tracer.span("construct")(SnapshotStore.read(spark, table(ctx), Some(1)))
        (d, ctx.tracer.span("execute")(d.collect()))
      }
      () => expect(rows.length == v1Rows && sums(df, rows) == truthSums("v1_sums"),
        s"as-of read: ${rows.length} rows or sums differ from vintage 1")
    },
    op("census_read_pruned", "census_delete_v2") { ctx =>
      val (lo, hi) = (truth.get("band_lo").asLong, truth.get("band_hi").asLong)
      val rows = ctx.tracer.span("sinks.read") {
        val d = ctx.tracer.span("construct") {
          SnapshotStore.readPruned(spark, table(ctx), "GEOID", lo, hi).df
            .filter(col("GEOID").between(lo, hi))
        }
        ctx.tracer.span("execute")(d.collect())
      }
      val want = truth.get("v2_rows_in_band").asLong
      () => expect(rows.length == want, s"pruned read: ${rows.length} rows, expected $want")
    },
    op("census_vacuum", "census_read_asof", "census_read_pruned", "census_merge_scd2") { ctx =>
      val res = ctx.tracer.span("sinks.vacuum")(SnapshotStore.vacuum(spark, table(ctx), 1))
      () => {
        // the latest snapshot is vintage 2: changed values upserted, added
        // tracts in, deleted tracts gone
        val latest = SnapshotStore.read(spark, table(ctx))
        val rows = latest.collect()
        val geoids = rows.map(_.getLong(latest.schema.fieldIndex("GEOID"))).toSet
        val gone = deleted.filter(geoids.contains)
        expect(res == ((2, 0)) && rows.length == v2Rows && gone.isEmpty &&
          sums(latest, rows) == truthSums("v2_sums"),
          s"vacuum dropped $res; latest has ${rows.length} rows (expected (2,0), $v2Rows), " +
            s"${gone.length} deleted tracts left, or sums differ from vintage 2")
      }
    },
    op("census_stream") { ctx =>
      val out = s"${ctx.root}/stream_out"
      val sink: (DataFrame, Long) => Unit = StreamingOps.idempotentBatchAppend(out)
      ctx.tracer.span("streaming.drain") {
        val q = stream("v1").writeStream.foreachBatch(sink)
          .option("checkpointLocation", s"${ctx.root}/stream_ckpt")
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      () => {
        val n = spark.read.parquet(out).count()
        expect(n == v1Rows, s"stream landed $n rows, expected $v1Rows")
      }
    })
}
