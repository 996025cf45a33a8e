package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** Manifest-swap snapshot store — the lakehouse time-travel core
  * (the public Delta/Iceberg design in miniature): a table is a
  * sequence of numbered MANIFESTS, each listing the data directories
  * that make up one immutable snapshot. Readers resolve a manifest
  * and read exactly its listed directories; writers stage data first
  * and publish the manifest LAST with an atomic rename — so a reader
  * can never observe a half-written snapshot, a crashed writer
  * leaves only invisible orphan data, and "time travel" is nothing
  * more than resolving an older manifest.
  *
  * Commit kinds covering the real warehouse movements:
  *  - [[commitOverwrite]]: the new snapshot is exactly the new data
  *    (the rebuild/compaction shape — old directories stay on disk
  *    for older versions until a retention sweep).
  *  - [[commitAppend]]: the new snapshot is the previous manifest's
  *    entry list PLUS the new data — an append never rewrites or
  *    even reads existing data files, which is what makes incremental
  *    loads O(batch) instead of O(table)).
  *  - [[commitDelete]]: MERGE-ON-READ delete via a deletion-vector
  *    sidecar — the new snapshot carries every previous entry forward
  *    untouched plus one `dv` entry whose parquet lists the deleted
  *    keys; NO data file is rewritten (copy-on-write would rewrite
  *    every file containing a match — the F12 amplification bill).
  *    Readers subtract the keys with an anti-join. A DV applies only
  *    to data directories that PRECEDE it in the manifest (data that
  *    existed when the delete committed) — a later re-insert of a
  *    deleted key is visible again, exactly the per-file semantics of
  *    lakehouse deletion vectors. An overwrite (or A25's OPTIMIZE,
  *    which is an overwrite of the read-back content) naturally
  *    MATERIALIZES outstanding deletes and drops the DV entries.
  *
  * Data entries may carry a FILE-LEVEL ZONE MAP — min/max of one
  * declared long-typed column, computed at commit time on the write of
  * the directory itself (`statsCol`). [[readPruned]] skips directories
  * whose [min,max] cannot overlap a range predicate BEFORE any data
  * file is opened — the Delta/Iceberg data-skipping core, and after
  * partition pruning the first IO lever at 100 TB. Entries without
  * stats are never skipped (soundness over optimism).
  *
  * Scale shape: manifests are METADATA (a line per data dir / DV);
  * data moves only through ordinary parquet writes of the batch being
  * committed, and a delete moves only the deleted keys. Version
  * resolution lists one directory. All FS access goes through the
  * session's Hadoop `FileSystem`, so the root may be any
  * executor-visible FS. Concurrency: the manifest rename is the
  * commit point — if two writers race to the same version number the
  * rename loser's manifest stays unpublished and its data dir is an
  * invisible orphan (same discipline as [[graft.ops.FixtureCache]]).
  */
object SnapshotStore {
  private val ManifestDir = "_manifests"

  /** One manifest line. Grammar (tab-separated; legacy manifests are
    * bare directory paths and parse as stat-less data entries):
    *  - `<dir>`                                  data dir, no stats
    *  - `<dir>` + N×`\t<col>\t<min>\t<max>`      data dir with N long
    *    zone maps (round 18: PER-COLUMN stats — a two-key ZORDER
    *    rewrite records both keys' [min,max] per dir, so a predicate
    *    on EITHER key can skip files; one-triple lines are the legacy
    *    single-column form and parse unchanged)
    *  - `dv\t<keyCol>\t<dir>`                    deletion-vector sidecar
    */
  private sealed trait Entry { def dir: String }
  private case class DataDir(dir: String,
      stats: Seq[(String, Long, Long)]) extends Entry
  private case class DeleteVector(keyCol: String, dir: String) extends Entry

  private def render(e: Entry): String = e match {
    case DataDir(d, ss) =>
      (d +: ss.flatMap { case (c, lo, hi) => Seq(c, lo.toString, hi.toString) })
        .mkString("\t")
    case DeleteVector(k, d) => s"dv\t$k\t$d"
  }

  private def parse(line: String): Entry = line.split('\t') match {
    case Array("dv", k, d) => DeleteVector(k, d)
    case Array(d) => DataDir(d, Nil)
    case arr if arr.length % 3 == 1 =>
      DataDir(arr.head, arr.tail.grouped(3).map {
        case Array(c, lo, hi) => (c, lo.toLong, hi.toLong)
      }.toSeq)
    case _ => throw new IllegalStateException(s"bad manifest line: $line")
  }

  private def fs(spark: SparkSession, root: String) =
    new Path(root).getFileSystem(spark.sessionState.newHadoopConf())

  private def manifestPath(root: String, v: Int) =
    new Path(s"$root/$ManifestDir/v$v.list")

  /** Table HISTORY as a queryable relation — the Iceberg
    * `table$history` / Delta `DESCRIBE HISTORY` analog: one row per
    * published version with its manifest composition (data segments,
    * outstanding equality-delete vectors). Metadata-cardinality by
    * construction: reads only the manifest text lines, never a data
    * file — O(versions) tiny reads at ANY table size, which is what
    * lets an operator audit a 100 TB table's commit history from the
    * driver in milliseconds. */
  def history(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    versions(spark, root).map { v =>
      val es = readManifestLines(spark, root, v).map(parse)
      (v, es.count(_.isInstanceOf[DataDir]),
        es.count(_.isInstanceOf[DeleteVector]))
    }.toDF("version", "n_segments", "n_delete_vectors")
  }

  /** Published versions, ascending (empty for a fresh root). */
  def versions(spark: SparkSession, root: String): Seq[Int] = {
    val f = fs(spark, root)
    val dir = new Path(s"$root/$ManifestDir")
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".list") =>
        n.stripPrefix("v").stripSuffix(".list").toInt }
      .sorted
  }

  private def readManifestLines(spark: SparkSession, root: String,
      v: Int): Seq[String] = readLinesAt(spark, root, manifestPath(root, v))

  private def readLinesAt(spark: SparkSession, root: String,
      p: Path): Seq[String] = {
    val f = fs(spark, root)
    val in = f.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().filter(_.nonEmpty).toList
    finally in.close()
  }

  /** Write `df` as the parquet data dir `dataDir` and return the zone
    * maps of `statsCols`: an `Observation` folds every declared column's
    * min/max as the rows stream into the files, so the commit never
    * re-reads the files it just wrote. A column that is all-NULL in the
    * batch records no stats — a stat-less column is never pruned on. */
  private def writeWithZoneMaps(df: DataFrame, dataDir: String,
      statsCols: Seq[String]): Seq[(String, Long, Long)] =
    if (statsCols.isEmpty) { df.write.mode("error").parquet(dataDir); Nil }
    else {
      import org.apache.spark.sql.Observation
      import org.apache.spark.sql.functions.{max, min}
      val obs = Observation()
      val aggs = statsCols.zipWithIndex.flatMap { case (c, i) =>
        Seq(min(col(c).cast("long")).as(s"mn$i"), max(col(c).cast("long")).as(s"mx$i"))
      }
      df.observe(obs, aggs.head, aggs.tail: _*).write.mode("error").parquet(dataDir)
      val r = obs.get
      statsCols.zipWithIndex.flatMap { case (c, i) =>
        (r.get(s"mn$i"), r.get(s"mx$i")) match {
          case (Some(lo: Long), Some(hi: Long)) => Some((c, lo, hi))
          case _ => None
        }
      }
    }

  /** Write `lines` as manifest version `v` via the atomic temp-write +
    * rename commit point. */
  private def publishManifest(spark: SparkSession, root: String, v: Int,
      lines: Seq[String]): Unit = {
    val f = fs(spark, root)
    val mDir = new Path(s"$root/$ManifestDir")
    if (!f.exists(mDir)) { f.mkdirs(mDir); () }
    val tmp = new Path(mDir,
      s".v$v.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    val out = f.create(tmp, false)
    try out.write(lines.mkString("\n").getBytes("UTF-8")) finally out.close()
    // rename is the commit point: the loser of a same-version race
    // fails here and its staged data stays an invisible orphan
    if (!f.rename(tmp, manifestPath(root, v))) {
      f.delete(tmp, false)
      throw new IllegalStateException(
        s"snapshot commit race lost for $root v$v")
    }
  }

  /** Stage `df` as a new data directory, then publish manifest
    * version `prev.max + 1` whose content is `carry ++ the new dir`.
    * Returns the published version. */
  private def commit(spark: SparkSession, root: String, df: DataFrame,
      carryFrom: Option[Int], statsCols: Seq[String]): Int = {
    val existing = versions(spark, root)
    val v = existing.lastOption.getOrElse(0) + 1
    val dataDir =
      s"$root/data/v$v-${java.util.UUID.randomUUID().toString.take(8)}"
    val stats = writeWithZoneMaps(df, dataDir, statsCols)
    val carried =
      carryFrom.map(readManifestLines(spark, root, _)).getOrElse(Nil)
    val entry = DataDir(dataDir, stats)
    publishManifest(spark, root, v, carried :+ render(entry))
    v
  }

  /** Publish a snapshot that REPLACES the table content (dropping any
    * outstanding deletion vectors — the content is the new data). */
  def commitOverwrite(spark: SparkSession, root: String, df: DataFrame,
      statsCol: Option[String] = None): Int =
    commit(spark, root, df, carryFrom = None, statsCol.toSeq)

  /** Multi-column variant: the new data dir records a zone map per
    * listed column, so later [[readPruned]] calls can skip on ANY of
    * them. */
  def commitOverwrite(spark: SparkSession, root: String, df: DataFrame,
      statsCols: Seq[String]): Int =
    commit(spark, root, df, carryFrom = None, statsCols)

  /** Publish a snapshot that APPENDS to the latest version: the new
    * manifest carries the previous entry list forward — no existing
    * data file is read or rewritten. */
  def commitAppend(spark: SparkSession, root: String, df: DataFrame,
      statsCol: Option[String] = None): Int =
    commit(spark, root, df, carryFrom = versions(spark, root).lastOption,
      statsCol.toSeq)

  /** Multi-column variant of [[commitAppend]]. */
  def commitAppend(spark: SparkSession, root: String, df: DataFrame,
      statsCols: Seq[String]): Int =
    commit(spark, root, df, carryFrom = versions(spark, root).lastOption,
      statsCols)

  /** OPTIMIZE … CLUSTER/ZORDER BY as a snapshot commit: publish a
    * version whose content is the CURRENT content rewritten into
    * `bins` range-clustered data directories on `clusterBy`, each
    * carrying a zone map on `statsCol`. Content-identical to the
    * latest version (outstanding deletion vectors are materialized by
    * the rewrite — the merge-on-read debt is paid here), IO-different:
    * a later `readPruned` band on `statsCol` opens only overlapping
    * directories instead of every append-era file, which is the first
    * IO lever after partition pruning at 100 TB. The rewrite
    * range-partitions with SAMPLED boundaries (distributed — never a
    * single-partition window), sorts within partitions, and lands in
    * ONE write job via partitionBy on the bin id; the per-dir zone
    * maps are `bins` bounded 1-row aggregates. Returns the version. */
  def commitOverwriteClustered(spark: SparkSession, root: String,
      clusterBy: Column, statsCol: String, bins: Int): Int =
    commitOverwriteClustered(spark, root, clusterBy, Seq(statsCol), bins)

  /** Multi-column clustered rewrite (round 18): each range-clustered
    * dir records a zone map for EVERY listed column, so after a
    * two-key ZORDER rewrite a predicate on EITHER key skips
    * non-overlapping dirs — the property the Morton interleave exists
    * to buy (the reference discipline z-orders on two keys; recording
    * stats on just one left the second key's selectivity on the
    * table). Still ONE groupBy job for all dirs × all columns. */
  def commitOverwriteClustered(spark: SparkSession, root: String,
      clusterBy: Column, statsCols: Seq[String], bins: Int): Int = {
    require(statsCols.nonEmpty, "clustered rewrite needs >= 1 stats column")
    import org.apache.spark.sql.functions.spark_partition_id
    val cur = read(spark, root)
    val existing = versions(spark, root)
    val v = existing.lastOption.getOrElse(0) + 1
    val base =
      s"$root/data/v$v-zc-${java.util.UUID.randomUUID().toString.take(8)}"
    cur.repartitionByRange(bins, clusterBy)
      .sortWithinPartitions(clusterBy)
      .withColumn("__zbin", spark_partition_id())
      .write.mode("error").partitionBy("__zbin").parquet(base)
    // ONE job computes every dir's zone maps: reading the base dir
    // surfaces __zbin as a partition column, so the per-dir min/max
    // is a bins-cardinality groupBy, not bins separate 1-row aggs
    import org.apache.spark.sql.functions.{max, min}
    val aggs = statsCols.flatMap(c =>
      Seq(min(col(c).cast("long")).as(s"mn_$c"),
        max(col(c).cast("long")).as(s"mx_$c")))
    val zones = spark.read.parquet(base)
      .groupBy(col("__zbin"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .map { r =>
        val ss = statsCols.zipWithIndex.flatMap { case (c, i) =>
          if (r.isNullAt(1 + 2 * i)) None
          else Some((c, r.getLong(1 + 2 * i), r.getLong(2 + 2 * i)))
        }
        (r.get(0).toString.toInt, ss)
      }
      .toMap
    // manifest entries use the same path grammar as every other
    // commit (base + literal child name — never the fs's URI form)
    val entries = zones.keys.toSeq.sorted.map { bin =>
      DataDir(s"$base/__zbin=$bin", zones(bin))
    }
    require(entries.nonEmpty,
      s"clustered rewrite produced no data under $base")
    publishManifest(spark, root, v, entries.map(render))
    v
  }

  /** CHECK-constrained append — the Delta/Iceberg `ALTER TABLE ADD
    * CONSTRAINT CHECK` contract at commit time: every rule is a
    * row-level predicate that must hold on the INCOMING batch; all
    * rules are counted in ONE aggregation pass (sum-of-violations per
    * rule — no per-rule scans), and if any rule is violated the commit
    * is REJECTED atomically: nothing is staged, the store is
    * untouched, and the caller gets the per-rule violation bill
    * instead of a poisoned table. NULL predicate results count as
    * violations (a constraint that cannot be proven true is false —
    * the SQL CHECK semantics would let NULLs through; a warehouse
    * gate must not). Returns (committed version if clean, per-rule
    * violation counts in rule order). */
  def commitAppendChecked(spark: SparkSession, root: String, df: DataFrame,
      checks: Seq[(String, Column)],
      statsCol: Option[String] = None): (Option[Int], Seq[(String, Long)]) = {
    require(checks.nonEmpty, "commitAppendChecked needs at least one rule")
    import org.apache.spark.sql.functions.{sum, when}
    val counts = df.agg(
      sum(when(checks.head._2, 0L).otherwise(1L)),
      checks.tail.map { case (_, c) => sum(when(c, 0L).otherwise(1L)) }: _*)
      .head()
    val bill = checks.zipWithIndex.map { case ((name, _), i) =>
      (name, if (counts.isNullAt(i)) 0L else counts.getLong(i))
    }
    if (bill.exists(_._2 > 0L)) (None, bill)
    else (Some(commitAppend(spark, root, df, statsCol)), bill)
  }

  /** MERGE-ON-READ DELETE: publish a snapshot in which every row of
    * the current content whose `keyCol` satisfies `predicate` is
    * deleted — WITHOUT rewriting a single data file. The matching keys
    * are written once as a deletion-vector parquet (O(deleted keys),
    * not O(touched files) — the copy-on-write bill F12 prices), and
    * the new manifest is the previous one plus a `dv` entry. Readers
    * apply the DV as an anti-join; data committed AFTER this delete is
    * not affected by it (a re-inserted key is visible again). Deleting
    * keys that match nothing is a no-op on content — never an error
    * (CDC replays produce them). Returns the published version. */
  def commitDelete(spark: SparkSession, root: String, keyCol: String,
      predicate: Column): Int = {
    val existing = versions(spark, root)
    require(existing.nonEmpty, s"no published snapshots under $root")
    val v = existing.last + 1
    val keys = read(spark, root).filter(predicate)
      .select(col(keyCol)).distinct()
    val dvDir =
      s"$root/data/dv-v$v-${java.util.UUID.randomUUID().toString.take(8)}"
    keys.write.mode("error").parquet(dvDir)
    val carried = readManifestLines(spark, root, existing.last)
    publishManifest(spark, root, v,
      carried :+ render(DeleteVector(keyCol, dvDir)))
    v
  }

  /** MERGE-ON-READ UPSERT — the Iceberg-v2 equality-delete WRITE path,
    * composing the DV machinery with an append in ONE atomic commit:
    * the new manifest carries every previous entry forward, then an
    * equality-delete DV of the batch's keys, then the batch's data
    * dir. Because a DV masks only the data dirs that PRECEDE it,
    * matched rows in pre-existing dirs are superseded while the
    * batch's own rows (after the DV line) are visible — SCD1 upsert
    * semantics with NO existing file read or rewritten; the write
    * costs O(batch), the read pays the same anti-join as
    * [[commitDelete]]. Replay-safe: re-applying the same batch masks
    * the previous batch dir and lands an identical one — content is
    * unchanged (the CDC at-least-once posture, pinned in
    * `SnapshotStoreSpec`). A fresh root degenerates to a plain first
    * commit. Returns the published version. */
  def commitUpsert(spark: SparkSession, root: String, keyCol: String,
      batch: DataFrame): Int = {
    val existing = versions(spark, root)
    if (existing.isEmpty) commitOverwrite(spark, root, batch)
    else {
      val v = existing.last + 1
      val tag = java.util.UUID.randomUUID().toString.take(8)
      val dvDir = s"$root/data/dv-v$v-$tag"
      batch.select(col(keyCol)).distinct().write.mode("error").parquet(dvDir)
      val dataDir = s"$root/data/v$v-$tag"
      batch.write.mode("error").parquet(dataDir)
      val carried = readManifestLines(spark, root, existing.last)
      publishManifest(spark, root, v, carried ++
        Seq(render(DeleteVector(keyCol, dvDir)),
          render(DataDir(dataDir, Nil))))
      v
    }
  }

  // ---- WAP (write-audit-publish) staging ----
  //
  // The production load discipline the numbered versions alone can't
  // express: a batch lands on a STAGING manifest first (readers of the
  // table are oblivious — versions() never lists it), quality gates
  // run against the staged view, and only a passing batch is PUBLISHED
  // by renaming the staged manifest to the next version — one atomic
  // metadata operation, zero data movement. A failing batch is
  // discarded without ever having been visible; an abandoned staging
  // is reclaimed by [[vacuum]] like any crashed-writer orphan. Single
  // current writer modeled (the publish renames onto max+1; concurrent
  // publishers race on the rename and exactly one wins, the commit()
  // discipline).

  /** Stage an APPEND batch: data + a `staged-<id>.list` manifest
    * carrying the current latest's entry list. Returns the
    * staging id. */
  def stageAppend(spark: SparkSession, root: String, df: DataFrame): String = {
    val f = fs(spark, root)
    val id = java.util.UUID.randomUUID().toString.take(8)
    val dataDir = s"$root/data/staged-$id"
    df.write.mode("error").parquet(dataDir)
    val carried = versions(spark, root).lastOption
      .map(readManifestLines(spark, root, _)).getOrElse(Nil)
    val mDir = new Path(s"$root/$ManifestDir")
    if (!f.exists(mDir)) { f.mkdirs(mDir); () }
    val p = new Path(mDir, s"staged-$id.list")
    val out = f.create(p, false)
    try out.write((carried :+ dataDir).mkString("\n").getBytes("UTF-8"))
    finally out.close()
    id
  }

  /** The staged VIEW (current content + the staged batch) — what the
    * audit queries read. Invisible to [[read]]/[[versions]]. */
  def readStaged(spark: SparkSession, root: String, id: String): DataFrame = {
    val f = fs(spark, root)
    val p = new Path(s"$root/$ManifestDir/staged-$id.list")
    require(f.exists(p), s"no staged manifest $id under $root")
    assemble(spark, readLinesAt(spark, root, p).map(parse))
  }

  /** PUBLISH a staged batch: rename the staged manifest to version
    * max+1 — the atomic commit point, no data moves. */
  def publishStaged(spark: SparkSession, root: String, id: String): Int = {
    val f = fs(spark, root)
    val src = new Path(s"$root/$ManifestDir/staged-$id.list")
    require(f.exists(src), s"no staged manifest $id under $root")
    val v = versions(spark, root).lastOption.getOrElse(0) + 1
    if (!f.rename(src, manifestPath(root, v)))
      throw new IllegalStateException(
        s"publish race lost for staged $id at $root v$v")
    v
  }

  /** Discard a failed staging: manifest first (it vanishes from any
    * future publish), then the staged data directory. */
  def discardStaged(spark: SparkSession, root: String, id: String): Unit = {
    val f = fs(spark, root)
    f.delete(new Path(s"$root/$ManifestDir/staged-$id.list"), false)
    f.delete(new Path(s"$root/data/staged-$id"), true)
    ()
  }

  /** ZERO-COPY CLONE — the Delta SHALLOW CLONE movement: the clone's
    * v1 manifest is a copy of the source's resolved manifest LINES, so
    * it references the source's data directories (and deletion
    * vectors) verbatim — no byte of data moves, however large the
    * table. From then on the two roots diverge freely: writes to the
    * clone land under the clone's own `data/`, writes to the source
    * are invisible to the clone — the dev/test-against-prod and
    * experiment-branch shape at 100 TB, paid in one manifest write.
    *
    * The shallow-clone HAZARD is inherited deliberately and pinned in
    * `SnapshotStoreSpec`: the source's [[vacuum]] counts only the
    * source's own kept manifests as references, so it can reclaim
    * directories the clone still lists (exactly the documented Delta
    * caveat — never vacuum a source whose shallow clones are live;
    * promoting a clone to independence is an OPTIMIZE/overwrite, which
    * rewrites its content into its own root). Returns the clone's
    * published version (always 1 on a fresh root). */
  def shallowClone(spark: SparkSession, srcRoot: String, dstRoot: String,
      asOf: Option[Int] = None): Int = {
    require(versions(spark, dstRoot).isEmpty,
      s"clone target $dstRoot already has published snapshots")
    val lines = readManifestLines(spark, srcRoot,
      resolve(spark, srcRoot, asOf))
    publishManifest(spark, dstRoot, 1, lines)
    1
  }

  private val TagsDir = "_tags"

  private def tagPath(root: String, name: String) =
    new Path(s"$root/$TagsDir/$name.ref")

  /** Set (create-or-move) a named TAG on a published version — the
    * Iceberg-style human-readable ref ("prod", "audited-2026Q3") that
    * turns raw version numbers into an addressable release history.
    * The ref is one file holding the version number, committed by the
    * same temp-write + atomic-rename discipline as manifests; retag
    * is replace-then-rename (last writer wins — a ref is a pointer,
    * not history). A tagged version is PROTECTED from [[vacuum]]:
    * its manifest and data survive any retention window until the
    * tag is dropped. */
  def setTag(spark: SparkSession, root: String, name: String,
      v: Int): Unit = {
    require(name.nonEmpty &&
      name.forall(c => c.isLetterOrDigit || c == '-' || c == '_'),
      s"illegal tag name '$name' (letters/digits/-/_ only)")
    require(versions(spark, root).contains(v),
      s"cannot tag unpublished version v$v under $root")
    val f = fs(spark, root)
    val dir = new Path(s"$root/$TagsDir")
    if (!f.exists(dir)) { f.mkdirs(dir); () }
    val tmp = new Path(dir,
      s".$name.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    val out = f.create(tmp, false)
    try out.write(v.toString.getBytes("UTF-8")) finally out.close()
    val dst = tagPath(root, name)
    if (f.exists(dst)) f.delete(dst, false)
    if (!f.rename(tmp, dst)) {
      f.delete(tmp, false)
      throw new IllegalStateException(s"tag commit failed for '$name'")
    }
  }

  /** All tags under the root, name → version (empty for fresh/untagged
    * roots; in-flight `.tmp` files are never listed). */
  def tags(spark: SparkSession, root: String): Map[String, Int] = {
    val f = fs(spark, root)
    val dir = new Path(s"$root/$TagsDir")
    if (!f.exists(dir)) Map.empty
    else f.listStatus(dir).toSeq.map(_.getPath)
      .filter(p => p.getName.endsWith(".ref") && !p.getName.startsWith("."))
      .map(p => p.getName.stripSuffix(".ref") ->
        readLinesAt(spark, root, p).head.trim.toInt)
      .toMap
  }

  /** Read the snapshot a tag points at (exact version — a tag is a
    * pin, not an upper bound). */
  def readTag(spark: SparkSession, root: String, name: String): DataFrame = {
    val v = tags(spark, root).getOrElse(name,
      throw new IllegalArgumentException(s"no tag '$name' under $root"))
    read(spark, root, asOf = Some(v))
  }

  /** Drop a tag (the version becomes vacuum-eligible again). Returns
    * whether the tag existed. */
  def dropTag(spark: SparkSession, root: String, name: String): Boolean =
    fs(spark, root).delete(tagPath(root, name), false)

  /** Retention sweep — the VACUUM movement that makes the
    * overwrite-keeps-history design sustainable: keep the newest
    * `keepLast` published versions, delete the older manifests, then
    * delete every directory under `root/data` referenced by NO kept
    * manifest — which also reclaims crashed-writer orphans (staged
    * data whose manifest never published; invisible to readers, but
    * real bytes). Deletion order is manifests FIRST: a reader racing
    * the sweep can at worst fail to resolve a dropped version — it can
    * never resolve a manifest whose data is already gone (data — and
    * deletion vectors — referenced by any surviving manifest are never
    * touched; an appended-forward directory survives as long as ANY
    * keeper lists it). Idempotent: a second sweep finds nothing to
    * drop.
    *
    * Driver-side METADATA work only (list + delete, same division of
    * labor as every lakehouse VACUUM); returns
    * (droppedManifests, removedDataDirs). */
  /** What [[vacuum]] WOULD do — the audit/dry-run every production
    * retention job offers before the destructive pass: (manifest
    * versions that would drop, top-level data-dir names that would be
    * reclaimed). Touches nothing. */
  def vacuumPlan(spark: SparkSession, root: String,
      keepLast: Int): (Seq[Int], Seq[String]) = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val f = fs(spark, root)
    val vs = versions(spark, root)
    // tagged versions are pinned: a named ref keeps its snapshot
    // readable through any retention window (drop the tag to release)
    val pinned = tags(spark, root).values.toSet
    val keep = (vs.takeRight(keepLast) ++ vs.filter(pinned)).distinct.sorted
    val drop = vs.filterNot(keep.contains)
    // resolve referenced dirs (data AND deletion vectors). Reclaim is
    // TOP-LEVEL-dir granular, and a manifest entry may point BELOW the
    // top level (the clustered rewrite commits `v5-zc-x/__zbin=0`
    // children) — so reference the FIRST path component under data/,
    // never the leaf name: leaf-name matching marked the live parent
    // dir an orphan and a vacuum after OPTIMIZE ZORDER destroyed the
    // current version's data.
    val dataPrefix = s"$root/data/"
    val referenced = keep
      .flatMap(readManifestLines(spark, root, _)).map(parse)
      .map(_.dir)
      .map { d =>
        if (d.startsWith(dataPrefix))
          d.stripPrefix(dataPrefix).split('/').head
        else new Path(d).getName
      }.toSet
    val dataRoot = new Path(s"$root/data")
    val orphans =
      if (!f.exists(dataRoot)) Seq.empty[String]
      else f.listStatus(dataRoot).toSeq
        .filter(_.isDirectory).map(_.getPath.getName)
        .filterNot(referenced.contains).sorted
    (drop, orphans)
  }

  def vacuum(spark: SparkSession, root: String, keepLast: Int): (Int, Int) = {
    val f = fs(spark, root)
    val (drop, orphans) = vacuumPlan(spark, root, keepLast)
    drop.foreach(v => f.delete(manifestPath(root, v), false))
    orphans.foreach(name =>
      f.delete(new Path(s"$root/data/$name"), true))
    (drop.length, orphans.length)
  }

  /** Read parquet data dirs under their schema merged the way the
    * `mergeSchema` option merges, taken from ONE footer per dir read on
    * the driver: every file of a dir comes from the one write that made
    * it, so its first data file states the dir's schema. Handing the
    * schema to the reader keeps parquet schema inference — a Spark job
    * per read — out of DataFrame construction. */
  private def readDirs(spark: SparkSession, dirs: Seq[String]): DataFrame = {
    import org.apache.parquet.HadoopReadOptions
    import org.apache.parquet.format.converter.ParquetMetadataConverter
    import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
    val conf = spark.sessionState.newHadoopConf()
    val sqlConf = spark.sessionState.conf
    val converter = new ParquetToSparkSchemaConverter(sqlConf)
    val schema = dirs.map { d =>
      val dir = new Path(d)
      val file = dir.getFileSystem(conf).listStatus(dir).find { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".")
      }.getOrElse(throw new IllegalStateException(s"no data file under $d"))
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf),
        HadoopReadOptions.builder(conf)
          .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build())
      val footer = try reader.getFooter finally reader.close()
      ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer), converter)
    }.reduce(org.apache.spark.sql.graft.Bridge.mergeSchemas(_, _, sqlConf.caseSensitiveAnalysis))
    spark.read.schema(schema).parquet(dirs: _*)
  }

  /** Assemble the DataFrame a manifest describes: data dirs unioned in
    * manifest order, with each deletion vector anti-joined onto every
    * data dir that PRECEDES it (the data the delete saw when it
    * committed — later appends are unaffected, so a re-inserted key is
    * visible again). Consecutive data dirs sharing the same pending-DV
    * set read as ONE multi-path parquet scan, so the plan stays
    * "scan ∪ (scan ▷ dv)" segments, not a per-directory union chain;
    * each DV side is a single-column parquet joined once per segment
    * (broadcast-sized in the GDPR-erasure shape). */
  private def assemble(spark: SparkSession, entries: Seq[Entry]): DataFrame = {
    val dataIdx = entries.zipWithIndex.collect {
      case (d: DataDir, i) => (d, i) }
    require(dataIdx.nonEmpty, "manifest lists no data directories")
    val dvIdx = entries.zipWithIndex.collect {
      case (dv: DeleteVector, i) => (dv, i) }
    // group data dirs by the set of DVs committed after them
    val segments = dataIdx
      .groupBy { case (_, i) => dvIdx.filter(_._2 > i).map(_._1) }
      .toSeq
      // deterministic assembly order: by first member's manifest position
      .sortBy { case (_, members) => members.map(_._2).min }
    // by-name union with missing-column NULL fill over merged schemas:
    // a later commit may ADD columns (A43 schema evolution) — earlier
    // dirs read them as NULL, the Delta/Iceberg additive-evolution
    // contract
    segments.map { case (dvs, members) =>
      val base = readDirs(spark, members.map(_._1.dir))
      dvs.groupBy(_.keyCol).foldLeft(base) { case (acc, (keyCol, vs)) =>
        val keys = readDirs(spark, vs.map(_.dir))
          .select(col(keyCol)).distinct()
        acc.join(keys, Seq(keyCol), "left_anti")
      }
    }.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  private def resolve(spark: SparkSession, root: String,
      asOf: Option[Int]): Int = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no published snapshots under $root")
    asOf.fold(vs.last) { bound =>
      vs.filter(_ <= bound).lastOption.getOrElse(
        throw new IllegalArgumentException(
          s"no snapshot at or before v$bound under $root (have $vs)"))
    }
  }

  /** Read a snapshot: the latest by default, or AS OF `asOf` (the
    * greatest published version ≤ asOf — the time-travel read).
    * Outstanding deletion vectors are applied (merge-on-read). */
  def read(spark: SparkSession, root: String,
      asOf: Option[Int] = None): DataFrame =
    assemble(spark, readManifestLines(spark, root,
      resolve(spark, root, asOf)).map(parse))

  /** A zone-map-pruned read: `df` is the snapshot restricted to data
    * dirs whose recorded [min,max] on `statsCol` can overlap
    * [lo, hi] — dirs with no recorded stats always open (soundness);
    * the counts report how much IO the zone maps saved. Pruning is
    * VALUE-TRANSPARENT for any predicate implying
    * `statsCol BETWEEN lo AND hi` (the caller still applies its exact
    * predicate; pruning only removes dirs that cannot hold a match).
    * Deletion vectors still apply to whatever survives. */
  final case class PrunedRead(df: DataFrame, dirsOpened: Int, dirsTotal: Int)

  def readPruned(spark: SparkSession, root: String, statsCol: String,
      lo: Long, hi: Long, asOf: Option[Int] = None): PrunedRead = {
    val entries = readManifestLines(spark, root,
      resolve(spark, root, asOf)).map(parse)
    val total = entries.count(_.isInstanceOf[DataDir])
    val kept = entries.filter {
      // a dir survives unless it carries stats for THIS column proving
      // no overlap; stats on other columns, stat-less dirs, and DVs
      // always survive (soundness)
      case DataDir(_, ss) =>
        ss.find(_._1 == statsCol).forall { case (_, mn, mx) =>
          mx >= lo && mn <= hi }
      case _ => true
    }
    val opened = kept.count(_.isInstanceOf[DataDir])
    val df =
      if (opened > 0) assemble(spark, kept)
      else { // every dir pruned: an empty frame with the right schema
        val first = entries.collectFirst { case d: DataDir => d.dir }.get
        readDirs(spark, Seq(first)).filter(lit(false))
      }
    PrunedRead(df, opened, total)
  }
}
