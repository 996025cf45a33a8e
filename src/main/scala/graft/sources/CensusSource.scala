package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, NullOrdering, SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter, In, IsNotNull}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 census source — the production form of the reference's
  * table scan (SURVEY.md §3.3, §7.2 phase 8).
  *
  * The reference's scan is an HTTP GET whose request already carries the
  * projection (`get=` column list) and the geography predicate
  * (`for`/`in`), returning a JSON array-of-arrays whose row 0 is the
  * schema and rows 1..n are all-string data
  * (`/root/reference/Test_census_tract.py:143-176`; ZCTA variant
  * `test_final_zcta.py:84-108`). This source expresses that exact
  * contract through the DSv2 pushdown interfaces:
  *
  *  - `SupportsPushDownRequiredColumns` — Catalyst's column pruning
  *    reaches `readSchema()`, the engine-side form of the `get=` list
  *    (reference R2);
  *  - `SupportsPushDownFilters` — equality/IN predicates on the `state`
  *    column are absorbed by the scan, the engine-side form of
  *    `in=state:XX` (reference R1), and PRUNE PARTITIONS at planning;
  *  - partitions are the reference's (dataset × state-chunk) splits:
  *    one `InputPartition` per 3-state chunk of the census state domain
  *    (`chunk_list(states, 3)`, `Test_census_tract.py:329-331`) — 51
  *    FIPS codes → 17 partitions, each independently retryable like the
  *    reference's per-chunk GET (Spark task retry subsumes its tenacity
  *    loop, SURVEY §4.1).
  *
  * The bytes behind a scan arrive through the [[CensusFetcher]]
  * transport seam (option `fetcherClass`), fetched once per scan in each
  * JVM and shared by the scan's partitions ([[ScanFetches]]) — the one
  * target returns every chunk's rows. The default reads a local
  * JSON array-of-arrays fixture (option `path`) in the reference's
  * wire format; a deployment plugs its HTTP client into the same seam
  * and the planning, pushdown, partitioning, and retry/throttle
  * contract is identical (a file target must be executor-visible, like
  * the sink roots).
  *
  * Reference schema semantics carried over:
  *  - all cells `StringType`, nullable (§1.2 — the API returns quoted
  *    strings even for counts);
  *  - option `expect` = the `all_vars` list: expected columns come
  *    first in declared order, file-only extras are appended (R6,
  *    `Test_census_tract.py:174-175`), expected-but-absent columns are
  *    NULL-filled (R5, `:171-172`), duplicates dropped keeping first
  *    (R18, `:155-156`).
  */
class CensusSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    CensusSource.schemaFor(options)

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new CensusTable(schema, properties.get("path"),
      FetchPolicy.fromProperties(properties))

  override def supportsExternalMetadata(): Boolean = true
}

/** Reference R14/R15 fetch-operational options (see [[Retry]]): retry
  * attempts/backoff around each real fetch and a pre-fetch throttle on
  * each real data fetch — `maxAttempts` (default 5 =
  * tenacity `stop_after_attempt(5)`), `retryBaseWaitMs`,
  * `retryMaxWaitMs` (default 60 s = the reference's backoff cap),
  * `throttleMs` (the reference sleeps 10 s per chunk; default 0 for
  * local files), and the transport itself — `fetcherClass`, a
  * [[CensusFetcher]] implementation name (default: local-file read; a
  * deployment injects its HTTP client here). */
case class FetchPolicy(maxAttempts: Int, baseWaitMs: Long,
    maxWaitMs: Long, throttleMs: Long,
    fetcherClass: String = CensusFetcher.DefaultClass,
    /** Streaming admission pacing (`maxChunksPerTrigger`): at most this
      * many state chunks per micro-batch — the J28 `maxFilesPerTrigger`
      * movement for the census stream; <= 0 = all available at once. */
    maxChunksPerTrigger: Int = 0) {
  def fetcher: CensusFetcher = CensusFetcher.forName(fetcherClass)

  /** One policy-governed fetch+parse of a target: throttle, then retry
    * the (fetch → parse) unit with capped exponential backoff — each
    * attempt re-opens the transport, exactly the reference's per-GET
    * tenacity loop. `throttle = false` is the driver-side metadata path
    * (schema inference, partition planning): the R15 throttle paces DATA
    * fetches against the upstream API, and sleeping during planning
    * just stalls the driver (a reference-style throttleMs=10000 would
    * sleep the driver before any task ran). Retry still applies. */
  def fetchArrays(target: String, throttle: Boolean): Vector[Vector[String]] = {
    if (throttle && throttleMs > 0) Thread.sleep(throttleMs)
    val f = fetcher
    Retry.withBackoff(maxAttempts, baseWaitMs, maxWaitMs)(
      CensusSource.readArrays(f.fetch(target)))
  }

  /** The parsed response of `target` for the scan minted `token`: the
    * first read of the pair in this JVM fetches and parses it under
    * [[fetchArrays]] (throttle and retry apply to that real fetch), and
    * every other read of the same scan waits for that parse and shares
    * it. See [[ScanFetches]]. */
  def fetchShared(token: String, target: String,
      throttle: Boolean): Vector[Vector[String]] =
    ScanFetches(token, target)(fetchArrays(target, throttle))
}

/** One fetch per scan per JVM. A scan's driver reads (header, row count)
  * and its partition reads — the chunk partitions, the catch-all and a
  * range sort's sampling pass over the same scan — all need the same
  * response, which the source's one target returns whole. Entries are
  * keyed by (scan token, target), so nothing is shared across scans and
  * every new scan fetches its source again: the memo holds one scan's
  * input, never a result. A failed fetch stores nothing, so the next
  * read fetches again. At most [[MaxEntries]] scans are held
  * (least-recently-used out), each through a soft reference the GC may
  * clear; a cleared entry is fetched again. */
private[sources] object ScanFetches {
  private val MaxEntries = 16

  private final class Slot {
    var parsed: java.lang.ref.SoftReference[Vector[Vector[String]]] = _
  }

  private val slots =
    new java.util.LinkedHashMap[(String, String), Slot](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, String), Slot]): Boolean =
        size() > MaxEntries
    }

  def apply(token: String, target: String)(
      fetch: => Vector[Vector[String]]): Vector[Vector[String]] = {
    val slot = slots.synchronized(
      slots.computeIfAbsent((token, target), _ => new Slot))
    // the slot lock makes a concurrent read of the same scan wait for
    // the first one's parse instead of fetching again
    slot.synchronized {
      Option(slot.parsed).flatMap(r => Option(r.get())).getOrElse {
        val all = fetch
        slot.parsed = new java.lang.ref.SoftReference(all)
        all
      }
    }
  }
}

object FetchPolicy {
  val Default: FetchPolicy = FetchPolicy(5, 1000L, 60000L, 0L)

  def fromProperties(properties: JMap[String, String]): FetchPolicy = {
    val p = properties.asScala.map { case (k, v) => k.toLowerCase -> v }
    FetchPolicy(
      p.get("maxattempts").map(_.toInt).getOrElse(Default.maxAttempts),
      p.get("retrybasewaitms").map(_.toLong).getOrElse(Default.baseWaitMs),
      p.get("retrymaxwaitms").map(_.toLong).getOrElse(Default.maxWaitMs),
      p.get("throttlems").map(_.toLong).getOrElse(Default.throttleMs),
      p.getOrElse("fetcherclass", Default.fetcherClass),
      p.get("maxchunkspertrigger").map(_.toInt)
        .getOrElse(Default.maxChunksPerTrigger))
  }
}

object CensusSource {
  /** The census state-FIPS domain (reference R11): 01..56 minus the
    * unassigned codes, zero-padded. */
  def stateFips: Seq[String] =
    (1 to 56).filterNot(graft.census.Mapping.unassignedFips)
      .map(i => f"$i%02d")

  /** The reference's 3-state chunking (`chunk_list(states, 3)`). */
  def stateChunks: Seq[Seq[String]] = stateFips.grouped(3).toSeq

  private[sources] def readArrays(in: java.io.InputStream): Vector[Vector[String]] = {
    val root = try new ObjectMapper().readTree(in) finally in.close()
    root.elements().asScala.map { row =>
      row.elements().asScala
        .map(c => if (c.isNull) null else c.asText()).toVector
    }.toVector
  }

  /** Row 0 of a parsed response: the column names. */
  private[sources] def headerRow(all: Vector[Vector[String]],
      target: String): Vector[String] =
    all.headOption.getOrElse(throw new IllegalArgumentException(
      s"census source $target has no header row"))

  /** Expected-first, extras-appended, first-occurrence-deduped column
    * order (R5/R6/R18). */
  private[sources] def columnOrder(expect: Seq[String],
      fileHeader: Seq[String]): Seq[String] =
    (expect ++ fileHeader.filterNot(expect.contains)).distinct

  def schemaFor(options: CaseInsensitiveStringMap): StructType = {
    val path = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("census source requires a 'path' option"))
    val expect = Option(options.get("expect")).toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
    // driver-side metadata read: unthrottled (see [[FetchPolicy.fetchArrays]])
    val header = headerRow(
      FetchPolicy.fromProperties(options).fetchArrays(path, throttle = false), path)
    StructType(columnOrder(expect, header)
      .map(StructField(_, StringType, nullable = true)))
  }
}

class CensusTable(tableSchema: StructType, path: String, policy: FetchPolicy)
    extends Table with SupportsRead {
  override def name(): String = s"census($path)"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new CensusScanBuilder(tableSchema, path, policy)
}

class CensusScanBuilder(fullSchema: StructType, path: String, policy: FetchPolicy)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters
    with SupportsPushDownAggregates
    with SupportsPushDownLimit with SupportsPushDownTopN {
  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty
  private var pushedAggCount: Int = 0
  private var pushedLimit: Option[Int] = None
  private var pushedTopN: Option[(Seq[String], Int)] = None

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Absorb geo predicates on `state` (the reference's `in=state:XX`);
    * everything else stays a Spark-side residual. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (ok, residual) = filters.partition {
      case EqualTo("state", _: String) => true
      case In("state", _) => true
      case IsNotNull("state") => true
      case _ => false
    }
    pushed = ok
    residual
  }

  override def pushedFilters(): Array[Filter] = pushed

  /** COUNT(*) GROUP BY state is answerable COMPLETELY inside the
    * source: the chunk partitioning is BY STATE, so every state's
    * rows live in exactly one `InputPartition` (the catch-all holds
    * the disjoint NULL/out-of-domain remainder) — per-partition final
    * counts are globally final, the condition complete pushdown
    * requires. This is the engine-side form of asking the census API
    * for row counts instead of rows: the grouped row count is a
    * partition-local fold over the already-fetched chunk, and Spark
    * plans NO aggregate at all (pinned in `CensusSourceSpec`). Any
    * other aggregate/grouping is declined and planned normally. */
  private def aggSupported(agg: Aggregation): Boolean = {
    val groupOk = agg.groupByExpressions.toSeq match {
      case Seq(f: NamedReference) => f.fieldNames.toSeq == Seq("state")
      case _ => false
    }
    groupOk && agg.aggregateExpressions.nonEmpty &&
      agg.aggregateExpressions.forall(_.isInstanceOf[CountStar])
  }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    aggSupported(agg)

  override def pushAggregation(agg: Aggregation): Boolean =
    if (!aggSupported(agg)) false
    else { pushedAggCount = agg.aggregateExpressions.length; true }

  /** LIMIT pushdown — PARTIAL (`isPartiallyPushed`): each partition
    * stops after `limit` rows (for the real API, a per-chunk row cap
    * on the GET); Spark's own Limit still runs on top to cut the
    * per-partition unions down to one global answer. Declined when an
    * aggregate is pushed (the agg output is already tiny and the two
    * rewrites don't compose). */
  override def pushLimit(limit: Int): Boolean =
    if (pushedAggCount > 0) false
    else { pushedLimit = Some(limit); true }

  override def isPartiallyPushed(): Boolean = true

  /** ORDER BY … LIMIT pushdown (TopN) — PARTIAL: each partition sorts
    * its chunk by the requested (ascending, nulls-first — Spark's
    * string default) columns and returns only its local top-N, so at
    * most partitions×N rows cross the scan boundary instead of the
    * whole relation; Spark's TakeOrdered merges the locals. Only
    * all-ascending single-column references are absorbed — anything
    * else declines and plans normally. */
  override def pushTopN(orders: Array[SortOrder], limit: Int): Boolean = {
    if (pushedAggCount > 0) return false
    val cols = orders.toSeq.map { o =>
      o.expression() match {
        case nr: NamedReference
            if o.direction() == SortDirection.ASCENDING &&
              o.nullOrdering() == NullOrdering.NULLS_FIRST &&
              nr.fieldNames().length == 1 =>
          Some(nr.fieldNames()(0))
        case _ => None
      }
    }
    if (cols.exists(_.isEmpty) || cols.isEmpty) false
    else { pushedTopN = Some((cols.flatten, limit)); true }
  }

  override def build(): Scan =
    if (pushedAggCount > 0)
      new CensusAggScan(pushed, path, policy, pushedAggCount)
    else new CensusScan(required, pushed, path, policy, pushedLimit,
      pushedTopN)
}

/** One 3-state chunk of the fixture (the reference's per-chunk GET).
  * `catchAll` marks the remainder partition covering rows whose state
  * is NULL or outside the census FIPS domain. */
case class CensusPartition(states: Seq[String],
    catchAll: Boolean = false) extends InputPartition

/** Single-state partition used in KEYED planning mode (see
  * [[CensusScan.outputPartitioning]]): reports its state as the
  * partition key, so Spark's key-grouped machinery can place
  * state-clustered operators directly on the scan output. */
case class CensusStatePartition(state: String) extends InputPartition
    with HasPartitionKey {
  override def partitionKey(): InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](UTF8String.fromString(state)))
}

class CensusScan(required: StructType, pushed: Array[Filter], path: String,
    policy: FetchPolicy = FetchPolicy.Default,
    pushedLimit: Option[Int] = None,
    pushedTopN: Option[(Seq[String], Int)] = None)
    extends Scan with Batch with SupportsRuntimeV2Filtering
    with SupportsReportStatistics with SupportsReportPartitioning {

  /** Reported statistics (`SupportsReportStatistics`) — without them a
    * DSv2 relation costs `defaultSizeInBytes` (effectively infinite)
    * and the planner will NEVER broadcast it: every join against the
    * census table would shuffle both sides, however small the census
    * side actually is. Row count comes from the same driver-side
    * fetch the header already paid (the fixture is one JSON document;
    * a real deployment answers this from a row-count/metadata
    * endpoint), scaled by the pushed geo predicate's state fraction;
    * bytes = rows × the read schema's string widths. Pinned in
    * `CensusSourceSpec`: an unhinted census⋈fact join broadcasts the
    * census side. */
  private lazy val fileRowCount: Long =
    math.max(0L, driverResponse.length - 1L)

  /** Names this scan's one shared fetch ([[ScanFetches]]): every read of
    * the scan — driver planning and statistics, each partition read —
    * goes through it, and no other scan does. */
  protected val token: String = java.util.UUID.randomUUID().toString

  /** The scan's shared response, read on the driver: unthrottled, like
    * every metadata read (see [[FetchPolicy.fetchArrays]]). */
  private def driverResponse: Vector[Vector[String]] =
    policy.fetchShared(token, path, throttle = false)

  override def estimateStatistics(): Statistics = new Statistics {
    private val total: Long = fileRowCount
    private val frac: Double = effectiveStates match {
      case Some(w) => math.min(1.0,
        w.size.toDouble / math.max(1, CensusSource.stateFips.size))
      case None => 1.0
    }
    private val rows: Long = math.max(1L, (total * frac).toLong)
    // all-string cells: a conservative 24 bytes per cell
    private val bytes: Long = rows * math.max(1, required.fields.length) * 24L
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(bytes)
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.of(rows)
  }

  /** RUNTIME filtering (`SupportsRuntimeV2Filtering`) — the DSv2 form
    * of dynamic partition pruning (C19 covers the file-source form):
    * when this table joins a dimension on `state` and the dim carries
    * a selective predicate, Spark evaluates the dim FIRST and calls
    * [[filter]] with the surviving key set BEFORE partitions are
    * planned — so chunk partitions for states no dim row can match
    * are never planned, and for the real API those GETs are never
    * issued. Static pushdown (the `pushed` filters) composes by
    * intersection. Unrecognized predicates are ignored (filtering is
    * an optimization — correctness comes from the join itself). */
  @volatile private var runtimeStates: Option[Set[String]] = None

  override def filterAttributes(): Array[NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions
      .column("state"))

  override def filter(predicates: Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    import org.apache.spark.sql.connector.expressions.Literal
    val sets: Seq[Set[String]] = predicates.toSeq.flatMap { p =>
      val isStateRef = p.children().headOption.exists {
        case nr: NamedReference => nr.fieldNames().toSeq == Seq("state")
        case _ => false
      }
      if (!isStateRef) None
      else p.name() match {
        case "IN" | "=" =>
          Some(p.children().drop(1).toSeq.collect {
            case l: Literal[_] if l.value != null => l.value.toString
          }.toSet)
        case _ => None
      }
    }
    if (sets.nonEmpty) runtimeStates = Some(sets.reduce(_ union _))
  }

  /** The effective state set after static AND runtime narrowing. */
  protected def effectiveStates: Option[Set[String]] =
    (wantedStates, runtimeStates) match {
      case (Some(a), Some(b)) => Some(a intersect b)
      case (a, b) => a.orElse(b)
    }

  /** States allowed by the pushed geo predicates (None = all).
    * Protected: [[CensusAggScan]] reuses the derivation. */
  protected val wantedStates: Option[Set[String]] = {
    val sets = pushed.collect {
      case EqualTo("state", v: String) => Set(v)
      case In("state", vs) => vs.collect { case s: String => s }.toSet
    }
    if (sets.isEmpty) None else Some(sets.reduce(_ intersect _))
  }

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** The file header, from the scan's shared fetch. */
  private lazy val fileHeader: Vector[String] =
    CensusSource.headerRow(driverResponse, path)

  /** Partition pruning: a chunk whose states are all excluded by the
    * pushed predicate is never planned — the reference simply does not
    * issue that GET. A fixture without a `state` column (the
    * single-call ZCTA shape, `test_final_zcta.py:193`) is one
    * unchunked partition.
    *
    * Rows whose state is NULL or outside the 51-FIPS domain (e.g. '72'
    * Puerto Rico) belong to no chunk; a CATCH-ALL partition serves them
    * so an unfiltered scan returns every file row (round-5 advice:
    * dropping them was silent data loss) and an explicit predicate on
    * an out-of-domain state is servable. It is planned only when it can
    * match: on unfiltered scans, and when a pushed predicate names an
    * out-of-domain state. */
  /** KEYED planning decision (round-17 verdict #9): when Spark's v2
    * bucketing is on, the scan carries a STATIC in-domain geo
    * predicate (so no catch-all partition is needed — the catch-all
    * holds many distinct out-of-domain states and cannot honestly
    * report one partition key), and `state` survives the projection,
    * partitions are planned ONE PER STATE, each reporting its state as
    * the partition key ([[CensusStatePartition]]) — Spark then treats
    * the scan as key-grouped on `state`, and a state-clustered
    * operator downstream (the A26 DECLINED aggregate path, state-keyed
    * joins) runs directly on the scan output with NO post-scan
    * exchange. Based on the STATIC pushdown only: runtime narrowing
    * arrives after the partitioning has been reported, and changing
    * the planned partition set under a reported key grouping is the
    * one DSv2 inconsistency Spark cannot repair. For a real HTTP
    * deployment per-state partitions mean per-state GETs (3× the
    * reference's 3-state chunk count) — the conf gate is that trade's
    * dial. */
  private def keyedStates: Option[Seq[String]] = {
    val enabled = org.apache.spark.sql.internal.SQLConf.get.getConfString(
      "spark.sql.sources.v2.bucketing.enabled", "false") == "true"
    val domain = CensusSource.stateFips.toSet
    if (!enabled || !fileHeader.contains("state") ||
        !required.fieldNames.contains("state")) None
    else wantedStates match {
      case Some(w) if w.nonEmpty && w.forall(domain.contains) =>
        Some(w.toSeq.sorted)
      case _ => None
    }
  }

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    keyedStates match {
      case Some(ks) =>
        new org.apache.spark.sql.connector.read.partitioning
          .KeyGroupedPartitioning(
            Array(org.apache.spark.sql.connector.expressions.Expressions
              .identity("state")), ks.length)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning
          .UnknownPartitioning(planInputPartitions().length)
    }

  override def planInputPartitions(): Array[InputPartition] =
    if (keyedStates.isDefined)
      keyedStates.get.map(CensusStatePartition(_): InputPartition).toArray
    else if (!fileHeader.contains("state"))
      Array(CensusPartition(Seq.empty))
    else {
      val domain = CensusSource.stateFips.toSet
      val chunks = CensusSource.stateChunks
        .filter(ch => effectiveStates.forall(w => ch.exists(w.contains)))
        .map(CensusPartition(_): InputPartition)
      val needCatchAll = effectiveStates match {
        case None => true
        case Some(w) => w.exists(s => !domain.contains(s))
      }
      (chunks ++ (if (needCatchAll)
        Seq(CensusPartition(Seq.empty, catchAll = true): InputPartition)
      else Seq.empty)).toArray
    }

  protected val stateNotNull: Boolean = pushed.exists {
    case IsNotNull("state") => true
    case _ => false
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new CensusReaderFactory(path, token, required.fieldNames.toSeq,
      effectiveStates, stateNotNull, policy, pushedLimit, pushedTopN)

  override def description(): String =
    s"CensusScan path=$path, PushedFilters: ${pushed.mkString("[", ", ", "]")}, " +
      s"ReadSchema: ${required.simpleString}" +
      pushedLimit.map(n => s", PushedLimit: LIMIT $n").getOrElse("") +
      pushedTopN.map { case (cs, n) =>
        s", PushedTopN: ORDER BY ${cs.mkString(", ")} LIMIT $n"
      }.getOrElse("")

  /** Streaming read (`MICRO_BATCH_READ`) — the DSv2 read matrix's last
    * cell beside batch/agg/TopN/runtime pushdown: the census table
    * consumed as a STREAM of state chunks, the shape an incremental
    * crawl actually runs (each micro-batch fetches the next few chunk
    * GETs, checkpointed, restartable). Offsets count consumed chunk
    * partitions of the SAME planning (and pruning — pushed geo
    * predicates still drop chunks) the batch scan uses, so the stream
    * can never disagree with the batch about what exists. Pacing via
    * `maxChunksPerTrigger` ([[FetchPolicy.maxChunksPerTrigger]]) is the
    * J28 `maxFilesPerTrigger` movement: a months-long backfill arrives
    * in bounded batches instead of one giant one. */
  override def toMicroBatchStream(checkpointLocation: String):
      org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new CensusMicroBatchStream(this, policy.maxChunksPerTrigger)
}

/** Chunk-count offset of the census stream: `n` = chunk partitions
  * fully consumed. */
case class CensusChunkOffset(n: Int)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = n.toString
}

class CensusMicroBatchStream(scan: CensusScan, maxChunksPerTrigger: Int)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  /** The batch scan's planning, reused verbatim (chunk pruning under
    * pushed predicates included); the fixture is static, so the
    * partition list is fixed for the stream's lifetime. */
  private lazy val parts: Array[InputPartition] = scan.planInputPartitions()

  private def at(o: Offset): Int = o.asInstanceOf[CensusChunkOffset].n

  override def initialOffset(): Offset = CensusChunkOffset(0)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead of this")

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  /** `Trigger.AvailableNow` pins its end to the chunks planned when the
    * trigger is prepared: the partition list is fixed for the stream's
    * lifetime, so planning it here pins the end. Batches keep their
    * `maxChunksPerTrigger` pacing up to it, and the query stops there. */
  override def prepareForTriggerAvailableNow(): Unit = { parts; () }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = at(start)
    val step = if (maxChunksPerTrigger > 0) maxChunksPerTrigger
      else parts.length
    CensusChunkOffset(math.min(parts.length, s + step))
  }

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = parts.slice(at(start), at(end))

  override def createReaderFactory(): PartitionReaderFactory =
    scan.createReaderFactory()

  override def deserializeOffset(json: String): Offset =
    CensusChunkOffset(json.trim.toInt)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** The aggregate-pushdown scan: COUNT(*) GROUP BY state answered
  * COMPLETELY inside the source. Partition planning (and so partition
  * PRUNING under a pushed geo predicate) is inherited unchanged from
  * [[CensusScan]]; only the reader changes — each partition folds its
  * chunk to (state, count…) rows instead of emitting rows, so the
  * bytes that cross the scan boundary are group-cardinality, not
  * row-cardinality (for the real API: the difference between
  * downloading a state's tracts and downloading its tally). */
class CensusAggScan(pushed: Array[Filter], path: String,
    policy: FetchPolicy, nAggs: Int)
    extends CensusScan(
      new StructType().add("state", StringType),
      pushed, path, policy) {

  override def readSchema(): StructType =
    (1 to nAggs).foldLeft(new StructType().add("state", StringType)) {
      (st, i) => st.add(s"count_$i", org.apache.spark.sql.types.LongType,
        nullable = false)
    }

  override def createReaderFactory(): PartitionReaderFactory =
    new CensusAggReaderFactory(path, token, effectiveStates, stateNotNull,
      policy, nAggs)

  override def description(): String =
    s"CensusScan path=$path, PushedFilters: ${pushed.mkString("[", ", ", "]")}, " +
      s"PushedAggregation: [COUNT(*) GROUP BY state x$nAggs]"
}

class CensusAggReaderFactory(path: String, token: String,
    wantedStates: Option[Set[String]], stateNotNull: Boolean,
    policy: FetchPolicy, nAggs: Int) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case p: CensusStatePartition =>
        new CensusAggPartitionReader(path, token, Set(p.state), catchAll = false,
          wantedStates, stateNotNull, policy, nAggs)
      case p: CensusPartition =>
        new CensusAggPartitionReader(path, token, p.states.toSet, p.catchAll,
          wantedStates, stateNotNull, policy, nAggs)
    }
}

/** Folds one partition's (already filter-pushed) rows to final
  * (state, count…) rows — delegating row selection to
  * [[CensusPartitionReader]] so the aggregate path can never disagree
  * with the row path about which rows exist. Group order is sorted by
  * state (NULL group first) for a deterministic partition output. */
class CensusAggPartitionReader(path: String, token: String, chunkStates: Set[String],
    catchAll: Boolean, wantedStates: Option[Set[String]],
    stateNotNull: Boolean, policy: FetchPolicy, nAggs: Int)
    extends PartitionReader[InternalRow] {

  private val rows: Iterator[InternalRow] = {
    val inner = new CensusPartitionReader(path, token, Seq("state"), chunkStates,
      catchAll, wantedStates, stateNotNull, policy)
    val counts = scala.collection.mutable.Map.empty[String, Long]
    while (inner.next()) {
      val s = inner.get().getUTF8String(0)
      val key = if (s == null) null else s.toString
      counts(key) = counts.getOrElse(key, 0L) + 1L
    }
    inner.close()
    counts.toSeq
      .sortBy(kv => (kv._1 != null, Option(kv._1).getOrElse(""))).iterator.map {
      case (st, n) =>
        InternalRow.fromSeq(
          (if (st == null) null else UTF8String.fromString(st)) +:
            Seq.fill(nAggs)(n: Any))
    }
  }

  private var current: InternalRow = _
  override def next(): Boolean =
    if (rows.hasNext) { current = rows.next(); true } else false
  override def get(): InternalRow = current
  override def close(): Unit = ()
}

class CensusReaderFactory(path: String, token: String, requiredCols: Seq[String],
    wantedStates: Option[Set[String]], stateNotNull: Boolean,
    policy: FetchPolicy,
    pushedLimit: Option[Int] = None,
    pushedTopN: Option[(Seq[String], Int)] = None)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case p: CensusStatePartition =>
        new CensusPartitionReader(path, token, requiredCols, Set(p.state),
          catchAll = false, wantedStates, stateNotNull, policy,
          pushedLimit, pushedTopN)
      case p: CensusPartition =>
        new CensusPartitionReader(path, token, requiredCols, p.states.toSet,
          p.catchAll, wantedStates, stateNotNull, policy,
          pushedLimit, pushedTopN)
    }
}

/** Reads the source's data rows for one state chunk (or the catch-all
  * remainder), applying the pushed geo predicate, NULL-filling
  * expected-but-absent columns (R5) and projecting to the pruned
  * schema. The rows come from the scan's shared response
  * ([[FetchPolicy.fetchShared]] under the scan's `token`): the first
  * read of the scan in this JVM fetches through the policy's
  * [[CensusFetcher]] seam under the R14/R15 envelope — throttle before
  * the fetch, retry the fetch+parse with capped exponential backoff —
  * and the scan's other reads share that parse. A production deployment
  * plugs an HTTP GET into the same seam, same policy, same partition
  * contract. */
class CensusPartitionReader(path: String, token: String, requiredCols: Seq[String],
    chunkStates: Set[String], catchAll: Boolean,
    wantedStates: Option[Set[String]],
    stateNotNull: Boolean, policy: FetchPolicy,
    pushedLimit: Option[Int] = None,
    pushedTopN: Option[(Seq[String], Int)] = None)
    extends PartitionReader[InternalRow] {

  private val rows: Iterator[InternalRow] = {
    val all = policy.fetchShared(token, path, throttle = true)
    val fileHeader = CensusSource.headerRow(all, path)
    val colIdx = fileHeader.zipWithIndex.toMap // first occurrence wins (R18)
    val stateIdx = colIdx.get("state")
    val reqIdx: Seq[Option[Int]] = requiredCols.map(colIdx.get)
    val domain = CensusSource.stateFips.toSet
    /** The pushed per-partition row bound: local sort+take for TopN
      * (ascending, nulls first — the only accepted shape), plain take
      * for LIMIT, identity otherwise. Runs on the FILTERED raw rows,
      * before projection, so sort columns need not survive pruning.
      *
      * The local sort MUST agree with the global TakeOrdered merge
      * Spark runs on top, or a partition discards rows the merge can
      * never recover: Spark orders strings by UTF8String binary
      * comparison (unsigned UTF-8 bytes = code-point order), while
      * Java's `Ordering.String` compares UTF-16 code units — the two
      * DISAGREE on supplementary-plane characters (surrogates sort
      * below U+E000..U+FFFF in UTF-16, above them by code point). So
      * the local comparator is unsigned UTF-8 bytes. And if any
      * requested sort column is absent from the raw header, the bound
      * is DECLINED (unbounded emit — the NULL-fill projection happens
      * after this, so a local sort over a column the file lacks would
      * keep the wrong top-N); correctness then comes from Spark's own
      * TakeOrdered, the pushdown was only ever an optimization. */
    val bound: Iterator[Vector[String]] => Iterator[Vector[String]] =
      pushedTopN match {
        case Some((cols, n)) if cols.forall(colIdx.contains) =>
          val idxs = cols.map(colIdx)
          val utf8Binary: Ordering[String] = (a: String, b: String) => {
            val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            val m = math.min(x.length, y.length)
            var i = 0
            var c = 0
            while (c == 0 && i < m) {
              c = (x(i) & 0xff) - (y(i) & 0xff)
              i += 1
            }
            if (c != 0) c else x.length - y.length
          }
          it => it.toVector.sortBy[Iterable[Option[String]]](r => idxs.map(
            i => Option(if (i < r.length) r(i) else null)))(
            Ordering.Iterable(Ordering.Option(utf8Binary)))
            .take(n).iterator
        case Some(_) => identity // sort column absent from the header
        case None => pushedLimit match {
          case Some(n) => it => it.take(n)
          case None => identity
        }
      }
    bound(all.iterator.drop(1)
      .filter { r =>
        stateIdx match {
          // no geo column: state is NULL-filled, so any pushed state
          // predicate (equality/IN/IsNotNull) matches nothing
          case None => wantedStates.isEmpty && !stateNotNull
          case Some(i) =>
            val s = r(i)
            if (catchAll) {
              // the remainder: NULL states (unless IsNotNull was
              // pushed) and out-of-domain states the chunks never cover
              if (s == null) !stateNotNull && wantedStates.isEmpty
              else !domain.contains(s) && wantedStates.forall(_.contains(s))
            } else
              s != null &&
                (chunkStates.isEmpty || chunkStates.contains(s)) &&
                wantedStates.forall(_.contains(s))
        }
      })
      .map { r =>
        InternalRow.fromSeq(reqIdx.map {
          case Some(i) if i < r.length && r(i) != null => UTF8String.fromString(r(i))
          case _ => null // expected-but-absent column: NULL fill (R5)
        })
      }
  }

  private var current: InternalRow = _
  override def next(): Boolean =
    if (rows.hasNext) { current = rows.next(); true } else false
  override def get(): InternalRow = current
  override def close(): Unit = ()
}
