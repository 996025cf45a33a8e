package graft

import org.apache.spark.sql.functions._
import graft.sources.SnapshotStore

/** Manifest-swap snapshot laws: append carries directories forward
  * without rewriting, time travel resolves historical content
  * exactly, orphan data without a manifest is invisible, and the
  * as-of resolution floor/error semantics hold. */
class SnapshotStoreSpec extends SparkTestBase {

  private def freshRoot(): String =
    SparkTestBase.tempDir("graft_snap_") + "/t"

  test("overwrite/append/overwrite: every version reads back exactly") {
    import spark.implicits._
    val root = freshRoot()
    val v1 = SnapshotStore.commitOverwrite(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val v2 = SnapshotStore.commitAppend(spark, root,
      Seq((3L, "c")).toDF("id", "v"))
    val v3 = SnapshotStore.commitOverwrite(spark, root,
      Seq((9L, "z")).toDF("id", "v"))
    assert(Seq(v1, v2, v3) == Seq(1, 2, 3))
    def ids(asOf: Int): Set[Long] =
      SnapshotStore.read(spark, root, Some(asOf))
        .collect().map(_.getLong(0)).toSet
    assert(ids(1) == Set(1L, 2L))
    assert(ids(2) == Set(1L, 2L, 3L))
    assert(ids(3) == Set(9L))
    // latest == v3
    assert(SnapshotStore.read(spark, root).collect().map(_.getLong(0)).toSet
      == Set(9L))
  }

  test("append publishes metadata only: v1's data files are untouched") {
    import spark.implicits._
    val root = freshRoot()
    SnapshotStore.commitOverwrite(spark, root, Seq((1L, "a")).toDF("id", "v"))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def dataFiles(): Map[String, Long] =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/data"))
        .flatMap(d => fs.listStatus(d.getPath))
        .filter(_.isFile)
        .map(f => f.getPath.toString -> f.getModificationTime).toMap
    val before = dataFiles()
    SnapshotStore.commitAppend(spark, root, Seq((2L, "b")).toDF("id", "v"))
    val after = dataFiles()
    // every v1 file survives with its original mtime; only new files added
    before.foreach { case (p, m) =>
      assert(after.get(p).contains(m), s"append touched existing file $p")
    }
    assert(after.size > before.size)
  }

  test("orphan data without a published manifest is invisible") {
    import spark.implicits._
    val root = freshRoot()
    SnapshotStore.commitOverwrite(spark, root, Seq((1L, "a")).toDF("id", "v"))
    // a crashed writer: staged data, no manifest
    Seq((99L, "ghost")).toDF("id", "v")
      .write.parquet(s"$root/data/v2-deadbeef")
    assert(SnapshotStore.versions(spark, root) == Seq(1))
    assert(SnapshotStore.read(spark, root).collect()
      .map(_.getLong(0)).toSet == Set(1L))
  }

  test("as-of resolves to the floor version; below-first errors; empty root errors") {
    import spark.implicits._
    val root = freshRoot()
    intercept[IllegalArgumentException] {
      SnapshotStore.read(spark, root)
    }
    SnapshotStore.commitOverwrite(spark, root, Seq((1L, "a")).toDF("id", "v"))
    SnapshotStore.commitOverwrite(spark, root, Seq((2L, "b")).toDF("id", "v"))
    // asOf beyond latest floors to latest
    assert(SnapshotStore.read(spark, root, Some(99)).collect()
      .map(_.getLong(0)).toSet == Set(2L))
    intercept[IllegalArgumentException] {
      SnapshotStore.read(spark, root, Some(0)).collect()
    }
  }

  test("warehouse_time_travel query: v2 superset of v1, v3 the rebuild") {
    val rows = ops.Scans.warehouseTimeTravel(spark, sfDir).collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    val n = rows.map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(n(2) > n(1), "append must grow the table")
    assert(n(3) < n(2), "overwrite must replace, not accumulate")
  }

  test("vacuum keeps append-referenced dirs, reclaims orphans, idempotent") {
    import spark.implicits._
    val root = freshRoot()
    SnapshotStore.commitOverwrite(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    SnapshotStore.commitAppend(spark, root, Seq((3L, "c")).toDF("id", "v"))
    SnapshotStore.commitOverwrite(spark, root, Seq((9L, "z")).toDF("id", "v"))
    // crashed writer: staged data, manifest never published
    Seq((99L, "x")).toDF("id", "v")
      .write.parquet(s"$root/data/orphan-crashed")
    val (dropped, removed) = SnapshotStore.vacuum(spark, root, keepLast = 2)
    assert(dropped == 1, "exactly the v1 manifest drops")
    assert(removed == 1, "exactly the orphan dir is reclaimed: v1's data " +
      "is still referenced by v2's append manifest")
    // dropped version no longer resolves...
    intercept[IllegalArgumentException] {
      SnapshotStore.read(spark, root, Some(1))
    }
    // ...but every keeper still serves its exact historical content
    assert(SnapshotStore.read(spark, root, Some(2))
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
    assert(SnapshotStore.read(spark, root, Some(3))
      .collect().map(_.getLong(0)).toSet == Set(9L))
    // a second sweep finds nothing
    assert(SnapshotStore.vacuum(spark, root, keepLast = 2) == ((0, 0)))
  }

  test("vacuum reclaims data of dropped overwrite versions") {
    import spark.implicits._
    val root = freshRoot()
    SnapshotStore.commitOverwrite(spark, root, Seq((1L, "a")).toDF("id", "v"))
    SnapshotStore.commitOverwrite(spark, root, Seq((2L, "b")).toDF("id", "v"))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def nDataDirs: Int =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/data"))
        .count(_.isDirectory)
    assert(nDataDirs == 2)
    val (dropped, removed) = SnapshotStore.vacuum(spark, root, keepLast = 1)
    assert((dropped, removed) == ((1, 1)),
      "an overwrite-dropped version's data is unreferenced and reclaimed")
    assert(nDataDirs == 1)
    assert(SnapshotStore.read(spark, root).collect()
      .map(_.getLong(0)).toSet == Set(2L))
  }

  test("snapshot_vacuum query: constants and surviving content") {
    val rows = ops.Scans.snapshotVacuum(spark, sfDir).collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(2, 3))
    rows.foreach { r =>
      assert(r.getLong(3) == 1L, "one dropped manifest")
      assert(r.getLong(4) == 1L, "one reclaimed orphan dir")
    }
  }

  test("snapshot_optimize: layout shrinks, content identical, history intact (A25)") {
    val rows = ops.Scans.snapshotOptimize(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).toSeq == Seq(1, 2, 3, 4, 5))
    val byV = rows.map(r => r._1 -> r).toMap
    // OPTIMIZE never changes content: v5 ≡ v4 in rows and value mass
    assert(byV(5)._2 == byV(4)._2 && byV(5)._3 == byV(4)._3)
    // ...but shrinks the accreted small files 4 → 2
    assert(rows.map(_._4).toSeq == Seq(1L, 2L, 3L, 4L, 2L))
    // appends only ever grow the row count
    assert(byV(1)._2 < byV(2)._2 && byV(2)._2 < byV(3)._2 &&
      byV(3)._2 < byV(4)._2)
  }

  test("WAP: staged batches are invisible until published; discard erases (A29)") {
    import spark.implicits._
    val root = freshRoot()
    SnapshotStore.commitOverwrite(spark, root, Seq((1L, "a")).toDF("id", "v"))
    val id = SnapshotStore.stageAppend(spark, root,
      Seq((2L, "b")).toDF("id", "v"))
    // invisible: the table read and the version list are unchanged
    assert(SnapshotStore.versions(spark, root) == Seq(1))
    assert(SnapshotStore.read(spark, root).collect()
      .map(_.getLong(0)).toSet == Set(1L))
    // ...but the staged VIEW sees baseline + batch
    assert(SnapshotStore.readStaged(spark, root, id).collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L))
    // publish: one atomic rename — now v2 IS the staged view
    val v = SnapshotStore.publishStaged(spark, root, id)
    assert(v == 2 && SnapshotStore.versions(spark, root) == Seq(1, 2))
    assert(SnapshotStore.read(spark, root).collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L))
    // a second staging, discarded: no trace for readers or publishers
    val id2 = SnapshotStore.stageAppend(spark, root,
      Seq((3L, "c")).toDF("id", "v"))
    SnapshotStore.discardStaged(spark, root, id2)
    assert(SnapshotStore.versions(spark, root) == Seq(1, 2))
    intercept[IllegalArgumentException] {
      SnapshotStore.readStaged(spark, root, id2)
    }
    // and v1 history survived the whole dance
    assert(SnapshotStore.read(spark, root, asOf = Some(1)).collect()
      .map(_.getLong(0)).toSet == Set(1L))
  }

  test("warehouse_snapshot_diff: feed ops partition correctly (A22)") {
    val rows = ops.Scans.warehouseSnapshotDiff(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getString(2), r.getLong(3)))
    assert(rows.nonEmpty)
    val (d12, d23) = rows.partition(_._1 == 1)
    // v1→v2 was a pure APPEND: the feed is inserts only, all %10==5
    assert(d12.nonEmpty && d12.forall(r => r._2 == 2 && r._3 == "I"))
    assert(d12.forall(_._4 % 10 == 5))
    // v2→v3 rebuild: updates exactly the %100==0 keys, deletes the rest
    val ups = d23.filter(_._3 == "U")
    val dels = d23.filter(_._3 == "D")
    assert(d23.nonEmpty && ups.forall(_._4 % 100 == 0))
    assert(dels.forall(r => r._4 % 100 != 0 && (r._4 % 10 == 0 || r._4 % 10 == 5)))
    assert(d23.count(_._3 == "I") == 0, "the rebuild's keys all pre-exist")
    // a change feed never reports an unchanged row: U rows moved value
    val full = ops.Scans.warehouseSnapshotDiff(spark, sfDir).collect()
    for (r <- full if r.getString(2) == "U")
      assert(r.getLong(4) != r.getLong(5))
  }

  // ---- merge-on-read DELETE (deletion vectors) ----

  test("A30: commitDelete rewrites NOTHING — v1's data files keep their " +
      "bytes and mtimes; the only new data dir is the DV sidecar") {
    import spark.implicits._
    val root = freshRoot()
    SnapshotStore.commitOverwrite(spark, root,
      (1L to 10L).map(i => (i, s"r$i")).toDF("id", "v"))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def dataFiles(): Map[String, (Long, Long)] =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/data"))
        .flatMap(d => fs.listStatus(d.getPath))
        .filter(_.isFile)
        .map(f => f.getPath.toString ->
          (f.getModificationTime, f.getLen)).toMap
    def dataDirs(): Set[String] =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/data"))
        .filter(_.isDirectory).map(_.getPath.getName).toSet
    val filesBefore = dataFiles()
    val dirsBefore = dataDirs()
    SnapshotStore.commitDelete(spark, root, "id", col("id") % 2 === 0)
    filesBefore.foreach { case (p, mtLen) =>
      assert(dataFiles().get(p).contains(mtLen),
        s"merge-on-read delete rewrote existing file $p")
    }
    val newDirs = dataDirs() -- dirsBefore
    assert(newDirs.size == 1 && newDirs.head.startsWith("dv-"),
      s"expected exactly one DV sidecar dir, got $newDirs")
    // read applies the DV
    assert(SnapshotStore.read(spark, root).collect()
      .map(_.getLong(0)).toSet == Set(1L, 3L, 5L, 7L, 9L))
  }

  test("A30: time travel reads THROUGH a delete; absent-key deletes are " +
      "no-ops; a post-delete append revives re-inserted keys") {
    import spark.implicits._
    val root = freshRoot()
    SnapshotStore.commitOverwrite(spark, root,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    SnapshotStore.commitDelete(spark, root, "id", col("id") === 2L)
    def ids(asOf: Int): Seq[Long] =
      SnapshotStore.read(spark, root, Some(asOf))
        .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids(1) == Seq(1L, 2L, 3L), "v1 must still serve deleted rows")
    assert(ids(2) == Seq(1L, 3L))
    // deleting keys that match nothing publishes a version, changes nothing
    SnapshotStore.commitDelete(spark, root, "id", col("id") === 99L)
    assert(ids(3) == Seq(1L, 3L))
    // a re-inserted key is NOT retro-deleted: the DV is scoped to the
    // data dirs that preceded it in the manifest
    SnapshotStore.commitAppend(spark, root, Seq((2L, "b2")).toDF("id", "v"))
    assert(ids(4) == Seq(1L, 2L, 3L))
    assert(SnapshotStore.read(spark, root).filter(col("id") === 2L)
      .collect().map(_.getString(1)).toSeq == Seq("b2"))
  }

  test("A30: an overwrite MATERIALIZES outstanding deletes — the new " +
      "manifest carries no DV entries and reads identically") {
    import spark.implicits._
    val root = freshRoot()
    SnapshotStore.commitOverwrite(spark, root,
      (1L to 6L).map(i => (i, s"r$i")).toDF("id", "v"))
    SnapshotStore.commitDelete(spark, root, "id", col("id") <= 2L)
    val beforeOpt = SnapshotStore.read(spark, root)
      .collect().map(_.getLong(0)).sorted.toSeq
    val v3 = SnapshotStore.commitOverwrite(spark, root,
      SnapshotStore.read(spark, root))
    assert(beforeOpt == SnapshotStore.read(spark, root, Some(v3))
      .collect().map(_.getLong(0)).sorted.toSeq)
    // the materialized manifest must not reference any DV sidecar
    val lines = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$root/_manifests/v$v3.list"))
    assert(!lines.contains("dv"), s"overwrite carried a DV forward:\n$lines")
  }

  test("A30: vacuum never reclaims a DV a kept manifest references") {
    import spark.implicits._
    val root = freshRoot()
    SnapshotStore.commitOverwrite(spark, root,
      (1L to 4L).map(i => (i, s"r$i")).toDF("id", "v"))
    SnapshotStore.commitDelete(spark, root, "id", col("id") === 1L)
    SnapshotStore.commitAppend(spark, root, Seq((9L, "z")).toDF("id", "v"))
    val (dropped, removed) = SnapshotStore.vacuum(spark, root, keepLast = 2)
    assert(dropped == 1 && removed == 0,
      "v2/v3 still reference every data dir AND the DV — nothing to reclaim")
    assert(SnapshotStore.read(spark, root).collect()
      .map(_.getLong(0)).toSet == Set(2L, 3L, 4L, 9L),
      "the DV must still apply after the sweep")
  }

  // ---- manifest zone maps + pruned reads ----

  test("A31: readPruned opens only overlapping dirs and is value-" +
      "transparent against read+filter on random ranges") {
    import spark.implicits._
    val root = freshRoot()
    for (i <- 0 to 3)
      SnapshotStore.commitAppend(spark, root,
        (i * 100L until i * 100L + 100L).map(k => (k, s"r$k")).toDF("k", "v"),
        statsCol = Some("k"))
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 5) {
      val lo = rnd.nextInt(400).toLong
      val hi = lo + rnd.nextInt(200).toLong
      val pr = SnapshotStore.readPruned(spark, root, "k", lo, hi)
      assert(pr.dirsTotal == 4)
      val expectedOpen = (0 to 3).count(i =>
        i * 100L + 99L >= lo && i * 100L <= hi)
      assert(pr.dirsOpened == expectedOpen,
        s"[$lo,$hi]: opened ${pr.dirsOpened}, expected $expectedOpen")
      val got = pr.df.filter(col("k").between(lo, hi))
        .collect().map(_.getLong(0)).sorted.toSeq
      val want = SnapshotStore.read(spark, root)
        .filter(col("k").between(lo, hi))
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(got == want, s"pruned read diverged on [$lo,$hi]")
    }
    // a fully-disjoint range opens nothing and returns an empty,
    // correctly-schemed frame
    val none = SnapshotStore.readPruned(spark, root, "k", 5000L, 6000L)
    assert(none.dirsOpened == 0 && none.df.isEmpty)
    assert(none.df.columns.toSeq == Seq("k", "v"))
  }

  test("A31: stat-less dirs are never pruned (soundness), and DVs still " +
      "apply to pruned reads") {
    import spark.implicits._
    val root = freshRoot()
    // batch 1 with stats, batch 2 WITHOUT (a legacy writer)
    SnapshotStore.commitAppend(spark, root,
      (0L until 50L).map(k => (k, "a")).toDF("k", "v"), statsCol = Some("k"))
    SnapshotStore.commitAppend(spark, root,
      (100L until 150L).map(k => (k, "b")).toDF("k", "v"))
    SnapshotStore.commitDelete(spark, root, "k", col("k") === 120L)
    val pr = SnapshotStore.readPruned(spark, root, "k", 110L, 130L)
    // the stats'd dir [0,49] prunes; the stat-less dir must open
    assert(pr.dirsOpened == 1 && pr.dirsTotal == 2)
    assert(pr.df.filter(col("k").between(110L, 130L)).collect()
      .map(_.getLong(0)).sorted.toSeq == ((110L to 130L).filter(_ != 120L)),
      "the deletion vector must apply to the pruned read")
  }

  test("A34: commitUpsert is one atomic commit, rewrites nothing, and " +
      "an exact replay changes no content") {
    import spark.implicits._
    val root = freshRoot()
    SnapshotStore.commitOverwrite(spark, root,
      (1L to 6L).map(i => (i, s"v$i")).toDF("id", "v"))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def dataFiles(): Map[String, (Long, Long)] =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/data"))
        .flatMap(d => fs.listStatus(d.getPath))
        .filter(_.isFile)
        .map(f => f.getPath.toString ->
          (f.getModificationTime, f.getLen)).toMap
    val before = dataFiles()
    // update ids 2,4; insert id 9
    val batch = Seq((2L, "v2b"), (4L, "v4b"), (9L, "v9")).toDF("id", "v")
    val v2 = SnapshotStore.commitUpsert(spark, root, "id", batch)
    assert(v2 == 2, "one upsert = ONE published version")
    before.foreach { case (p, mtLen) =>
      assert(dataFiles().get(p).contains(mtLen),
        s"merge-on-read upsert rewrote existing file $p")
    }
    def content(asOf: Int): Map[Long, String] =
      SnapshotStore.read(spark, root, Some(asOf)).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(content(2) == Map(1L -> "v1", 2L -> "v2b", 3L -> "v3",
      4L -> "v4b", 5L -> "v5", 6L -> "v6", 9L -> "v9"))
    // time travel through the upsert
    assert(content(1) == (1L to 6L).map(i => i -> s"v$i").toMap)
    // replay: identical batch, identical content (CDC at-least-once)
    SnapshotStore.commitUpsert(spark, root, "id", batch)
    assert(content(3) == content(2))
  }

  // ---- zero-copy clone ----

  test("A33: clone moves no data (one manifest write), diverges freely, " +
      "and inherits the documented source-vacuum hazard") {
    import spark.implicits._
    val srcBase = SparkTestBase.tempDir("graft_snap_clone_")
    val src = s"$srcBase/src"
    val dst = s"$srcBase/dst"
    SnapshotStore.commitOverwrite(spark, src,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    SnapshotStore.commitOverwrite(spark, src,
      Seq((3L, "c"), (4L, "d")).toDF("id", "v"))
    assert(SnapshotStore.shallowClone(spark, src, dst) == 1)
    // zero copy: the clone root holds NO data directories of its own
    val fs = new org.apache.hadoop.fs.Path(dst)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dst/data")),
      "a shallow clone must not copy any data bytes")
    def ids(root: String): Set[Long] =
      SnapshotStore.read(spark, root).collect().map(_.getLong(0)).toSet
    assert(ids(dst) == Set(3L, 4L))
    // divergence: each root's append is invisible to the other
    SnapshotStore.commitAppend(spark, dst, Seq((9L, "z")).toDF("id", "v"))
    SnapshotStore.commitAppend(spark, src, Seq((7L, "s")).toDF("id", "v"))
    assert(ids(dst) == Set(3L, 4L, 9L))
    assert(ids(src) == Set(3L, 4L, 7L))
    // a second clone into a used root refuses
    intercept[IllegalArgumentException] {
      SnapshotStore.shallowClone(spark, src, dst)
    }
    // the DOCUMENTED shallow-clone hazard: the source's vacuum counts
    // only its own kept manifests, so overwriting the source and
    // vacuuming to keepLast=1 reclaims the v2 data dir the clone still
    // references — the clone's read breaks (the Delta caveat: never
    // vacuum a source whose shallow clones are live)
    SnapshotStore.commitOverwrite(spark, src, Seq((8L, "w")).toDF("id", "v"))
    val (_, removed) = SnapshotStore.vacuum(spark, src, keepLast = 1)
    assert(removed > 0, "the sweep must reclaim the clone-referenced dirs")
    intercept[Exception] {
      SnapshotStore.read(spark, dst).collect()
    }
  }

  test("A36 tags: ref reads pin exact versions; retag moves; vacuum " +
      "never reclaims a tagged snapshot; dropTag releases it") {
    import spark.implicits._
    val root = freshRoot()
    SnapshotStore.commitOverwrite(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    SnapshotStore.commitOverwrite(spark, root, Seq((3L, "c")).toDF("id", "v"))
    SnapshotStore.commitOverwrite(spark, root, Seq((4L, "d")).toDF("id", "v"))
    // tag must target a published version, legal names only
    intercept[IllegalArgumentException] {
      SnapshotStore.setTag(spark, root, "ghost", 9)
    }
    intercept[IllegalArgumentException] {
      SnapshotStore.setTag(spark, root, "bad/name", 1)
    }
    SnapshotStore.setTag(spark, root, "audited", 1)
    assert(SnapshotStore.tags(spark, root) == Map("audited" -> 1))
    // a tag is an exact pin, not an upper bound
    assert(SnapshotStore.readTag(spark, root, "audited")
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    // retag moves the pointer (last writer wins)
    SnapshotStore.setTag(spark, root, "audited", 2)
    assert(SnapshotStore.readTag(spark, root, "audited")
      .collect().map(_.getLong(0)).toSet == Set(3L))
    SnapshotStore.setTag(spark, root, "hold", 1)
    // vacuum keeps v3 by retention, v1+v2 ONLY via tags
    val (dropped, _) = SnapshotStore.vacuum(spark, root, keepLast = 1)
    assert(dropped == 0, "every version is pinned by retention or a tag")
    assert(SnapshotStore.versions(spark, root) == Seq(1, 2, 3))
    // releasing the v1 pin makes it vacuum-eligible; v2 stays pinned
    assert(SnapshotStore.dropTag(spark, root, "hold"))
    assert(!SnapshotStore.dropTag(spark, root, "hold"))
    val (dropped2, removed2) = SnapshotStore.vacuum(spark, root, keepLast = 1)
    assert(dropped2 == 1 && removed2 >= 1,
      "v1's manifest and its now-unreferenced data must go")
    assert(SnapshotStore.versions(spark, root) == Seq(2, 3))
    assert(SnapshotStore.readTag(spark, root, "audited")
      .collect().map(_.getLong(0)).toSet == Set(3L))
    intercept[IllegalArgumentException] {
      SnapshotStore.readTag(spark, root, "nope").collect()
    }
  }

  test("A36 registered query: tagged refs survive keepLast=1 and read " +
      "their exact historical content") {
    val rows = ops.Scans.warehouseTags(spark, sfDir).collect()
    assert(rows.map(_.getString(0)).toSeq ==
      Seq("audited", "latest", "prod"))
    val byRef = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byRef("prod") > byRef("audited"),
      "prod (v2, append) must hold more rows than audited (v1)")
  }

  test("A30/A31 registered queries: version trio and prune counts are " +
      "exactly the declared closed forms") {
    val mor = ops.Scans.warehouseDeleteMor(spark, sfDir).collect()
    assert(mor.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    val Seq(n1, n2, n3) = mor.map(_.getLong(1)).toSeq
    assert(n2 < n1, "the delete must remove rows from v2")
    assert(n3 == n1, "the re-insert must restore every deleted key")
    val zm = ops.Scans.warehouseStatsPrune(spark, sfDir).collect()
    assert(zm.length == 1)
    assert(zm(0).getLong(2) == 2L && zm(0).getLong(3) == 4L,
      "the [30,60] range must open exactly 2 of the 4 zone-mapped dirs")
  }
  test("clustered rewrite preserves content and tightens pruning (A39)") {
    import spark.implicits._
    val root = SparkTestBase.tempDir("snap_zc_")
    // two appends, each spanning the WHOLE key range: every band read
    // must open both dirs before the rewrite
    val a = (1L to 400L by 2).map(k => (k, s"r$k")).toDF("k", "p")
    val b = (2L to 400L by 2).map(k => (k, s"r$k")).toDF("k", "p")
    SnapshotStore.commitOverwrite(spark, root,
      a.orderBy(rand(7)).repartition(2), statsCol = Some("k"))
    SnapshotStore.commitAppend(spark, root,
      b.orderBy(rand(8)).repartition(2), statsCol = Some("k"))
    // a merge-on-read delete the rewrite must MATERIALIZE
    SnapshotStore.commitDelete(spark, root, "k", col("k") === 123L)
    val before = SnapshotStore.readPruned(spark, root, "k", 10L, 40L)
    assert(before.dirsOpened == before.dirsTotal,
      "append-era dirs all span the full range — nothing prunes")
    val pre = SnapshotStore.read(spark, root)
      .as[(Long, String)].collect().toSet
    val v = SnapshotStore.commitOverwriteClustered(spark, root,
      col("k"), statsCol = "k", bins = 4)
    val post = SnapshotStore.read(spark, root)
      .as[(Long, String)].collect().toSet
    assert(post == pre, "the rewrite must be content-identical")
    assert(!post.exists(_._1 == 123L), "the DV is materialized, not lost")
    val after = SnapshotStore.readPruned(spark, root, "k", 10L, 40L,
      asOf = Some(v))
    assert(after.dirsTotal >= 2 && after.dirsOpened < after.dirsTotal,
      s"a narrow band must skip rewritten dirs " +
        s"(opened ${after.dirsOpened}/${after.dirsTotal})")
    assert(after.df.filter(col("k").between(10, 40)).count() == 31L)
  }

  test("two-key clustered rewrite prunes on EITHER recorded column " +
      "(A44 multi-column zone maps)") {
    import spark.implicits._
    val root = SparkTestBase.tempDir("snap_mz_")
    // k and w are independent, so a Morton interleave spreads both:
    // a narrow band on either column must skip some rewritten dirs
    val rows = (1L to 1024L).map(k => (k, (k * 2654435761L) % 1024L, s"r$k"))
      .toDF("k", "w", "p")
    SnapshotStore.commitOverwrite(spark, root,
      rows.orderBy(rand(11)).repartition(2), statsCols = Seq("k", "w"))
    val v = SnapshotStore.commitOverwriteClustered(spark, root,
      graft.ops.Layout.mortonKey(col("k"), col("w")),
      statsCols = Seq("k", "w"), bins = 8)
    val onK = SnapshotStore.readPruned(spark, root, "k", 1L, 64L,
      asOf = Some(v))
    val onW = SnapshotStore.readPruned(spark, root, "w", 1L, 64L,
      asOf = Some(v))
    assert(onK.dirsOpened < onK.dirsTotal,
      s"first-key band must skip dirs (${onK.dirsOpened}/${onK.dirsTotal})")
    assert(onW.dirsOpened < onW.dirsTotal,
      s"SECOND-key band must skip dirs (${onW.dirsOpened}/${onW.dirsTotal})"
        + " — the round-17 gap: one-column stats could never prune here")
    // value transparency on both keys
    assert(onK.df.filter(col("k").between(1, 64)).count() == 64L)
    assert(onW.df.filter(col("w").between(1, 64)).count() ==
      rows.filter(col("w").between(1, 64)).count())
    // a column with NO recorded stats never prunes (soundness)
    val onP = SnapshotStore.readPruned(spark, root, "nosuch", 0L, 1L,
      asOf = Some(v))
    assert(onP.dirsOpened == onP.dirsTotal)
    // legacy single-triple manifests still parse and prune: v1 was
    // committed with the multi-col API but the single-col readPruned
    // path must keep working against it
    val legacy = SnapshotStore.readPruned(spark, root, "k", 2000L, 3000L,
      asOf = Some(v))
    assert(legacy.df.count() == 0L, "out-of-range band reads empty")
  }

  test("checked append commits clean batches and rejects atomically (A40)") {
    import spark.implicits._
    val root = SparkTestBase.tempDir("snap_ck_")
    val checks = Seq(
      "positive" -> (col("x") > 0L),
      "named" -> col("nm").isNotNull)
    SnapshotStore.commitOverwrite(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("x", "nm"))
    val (v2, bill2) = SnapshotStore.commitAppendChecked(spark, root,
      Seq((3L, "c")).toDF("x", "nm"), checks)
    assert(v2.contains(2) && bill2.forall(_._2 == 0L))
    // two violations of one rule, one NULL (must count) of the other
    val dirty = Seq((-1L, Some("d")), (0L, Some("e")), (4L, None))
      .toDF("x", "nm")
    val (v3, bill3) = SnapshotStore.commitAppendChecked(spark, root,
      dirty, checks)
    assert(v3.isEmpty)
    assert(bill3 == Seq("positive" -> 2L, "named" -> 1L))
    assert(SnapshotStore.versions(spark, root) == Seq(1, 2),
      "a rejected commit must not publish a version")
    assert(SnapshotStore.read(spark, root).count() == 3L,
      "the store keeps exactly the clean batches")
  }

  test("vacuum after a clustered rewrite keeps the live nested dirs " +
      "(A39 x vacuum regression)") {
    import spark.implicits._
    val root = SparkTestBase.tempDir("snap_zv_")
    SnapshotStore.commitOverwrite(spark, root,
      (1L to 100L).map(k => (k, s"r$k")).toDF("k", "p"), Some("k"))
    SnapshotStore.commitAppend(spark, root,
      (101L to 200L).map(k => (k, s"r$k")).toDF("k", "p"), Some("k"))
    SnapshotStore.commitOverwriteClustered(spark, root, col("k"),
      statsCol = "k", bins = 3)
    val pre = SnapshotStore.read(spark, root)
      .as[(Long, String)].collect().toSet
    val (drop, orphans) = SnapshotStore.vacuumPlan(spark, root, 1)
    assert(drop == Seq(1, 2))
    // the rewrite's PARENT dir holds live nested children — it must
    // never appear in the reclaim plan (leaf-name matching did)
    assert(orphans.forall(!_.contains("-zc-")), orphans.toString)
    assert(orphans.size == 2, "exactly the two pre-rewrite dirs reclaim")
    SnapshotStore.vacuum(spark, root, 1)
    val post = SnapshotStore.read(spark, root)
      .as[(Long, String)].collect().toSet
    assert(post == pre, "vacuum must not touch the live clustered data")
  }

  test("A43: an append commit ADDS a column — old rows read NULL, " +
      "old snapshots keep the original schema") {
    import spark.implicits._
    val root = freshRoot()
    SnapshotStore.commitOverwrite(spark, root,
      (1L to 50L).map(k => (k, s"r$k")).toDF("k", "p"))
    SnapshotStore.commitAppend(spark, root,
      (51L to 80L).map(k => (k, s"r$k", k * 10)).toDF("k", "p", "extra"))
    val latest = SnapshotStore.read(spark, root)
    assert(latest.columns.toSet == Set("k", "p", "extra"))
    val rows = latest.select("k", "extra").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    assert(rows.size == 80)
    assert((1L to 50L).forall(rows(_).isEmpty),
      "pre-evolution rows must surface the added column as NULL")
    assert((51L to 80L).forall(k => rows(k).contains(k * 10)),
      "post-evolution rows must carry their committed values")
    // time travel to v1 keeps the ORIGINAL schema — evolution is
    // per-snapshot, never retroactive
    val v1 = SnapshotStore.read(spark, root, asOf = Some(1))
    assert(v1.columns.toSet == Set("k", "p"), v1.columns.mkString(","))
    assert(v1.count() == 50)
  }

  test("read and readPruned build their DataFrames without a Spark job; " +
      "the schema is what mergeSchema infers") {
    import spark.implicits._
    val root = freshRoot()
    SnapshotStore.commitOverwrite(spark, root,
      (1L to 50L).map(k => (k, s"r$k")).toDF("k", "p"), statsCols = Seq("k"))
    SnapshotStore.commitAppend(spark, root,
      (51L to 80L).map(k => (k, s"r$k", k * 10)).toDF("k", "p", "extra"),
      statsCols = Seq("k"))
    SnapshotStore.commitDelete(spark, root, "k", col("k") === 3L)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val marker = new java.util.concurrent.atomic.AtomicBoolean(false)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))) match {
          case Some("snapshot_construct") => jobs.incrementAndGet(); ()
          case Some("snapshot_marker") => marker.set(true)
          case _ => ()
        }
    }
    spark.sparkContext.addSparkListener(listener)
    val sc = spark.sparkContext
    try {
      sc.setJobGroup("snapshot_construct", "construction only")
      val built = Seq(
        SnapshotStore.read(spark, root),
        SnapshotStore.read(spark, root, asOf = Some(1)),
        SnapshotStore.readPruned(spark, root, "k", 60L, 70L).df,
        SnapshotStore.readPruned(spark, root, "k", 500L, 600L).df)
      sc.setJobGroup("snapshot_marker", "flushes the listener bus")
      spark.range(1).count()
      sc.clearJobGroup()
      // listener events arrive in order: once the marker job is seen,
      // every job construction started has been counted
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!marker.get() && System.nanoTime() < deadline) Thread.sleep(10)
      assert(marker.get(), "marker job never reached the listener")
      assert(jobs.get() == 0, s"construction fired ${jobs.get()} jobs")
      assert(built.map(_.count()) == Seq(79L, 50L, 30L, 0L))
      // schemas as the parquet mergeSchema option infers them, per read
      def merged(dirs: String*) =
        spark.read.option("mergeSchema", "true").parquet(dirs: _*).schema
      val dataDirs = new java.io.File(s"$root/data").listFiles()
        .map(_.getPath).filter(!_.contains("dv-")).sorted
      assert(built.head.schema == merged(dataDirs: _*))
      assert(built(1).schema == merged(dataDirs.head))
    } finally {
      sc.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("zone maps observed on the write equal the files' min/max; an " +
      "all-NULL stats column records no stats") {
    import spark.implicits._
    val root = freshRoot()
    val df = (0L until 300L).map(i => (i * 7 % 1000 - 40, (i % 9).toInt, Option.empty[Long]))
      .toDF("k", "g", "n").repartition(3)
    SnapshotStore.commitOverwrite(spark, root, df, statsCols = Seq("k", "g", "n"))
    val line = scala.io.Source.fromFile(s"$root/_manifests/v1.list").mkString.trim
    val fields = line.split('\t')
    val recorded = fields.tail.grouped(3)
      .map { case Array(c, lo, hi) => (c, lo.toLong, hi.toLong) }.toSeq
    val r = spark.read.parquet(fields.head)
      .agg(min("k"), max("k"), min("g"), max("g")).head()
    assert(recorded == Seq(("k", r.getLong(0), r.getLong(1)),
      ("g", r.getInt(2).toLong, r.getInt(3).toLong)), line)
  }

  // ---- A45 restore ----

  test("A45: restore re-commits the target snapshot; history stays readable") {
    import spark.implicits._
    val root = SparkTestBase.tempDir("snapshot_restore_spec_")
    val base = (1 to 40).map(i => (i.toLong, s"r$i")).toDF("k", "p")
    SnapshotStore.commitOverwrite(spark, root, base.filter(col("k") <= 10))
    SnapshotStore.commitAppend(spark, root,
      base.filter(col("k") > 10 && col("k") <= 20))
    SnapshotStore.commitOverwrite(spark, root, base.filter(col("k") > 30))
    // RESTORE to v1 as a NEW commit
    SnapshotStore.commitOverwrite(spark, root,
      SnapshotStore.read(spark, root, asOf = Some(1)))
    def rows(v: Int): Set[(Long, String)] =
      SnapshotStore.read(spark, root, asOf = Some(v))
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows(4) == rows(1), "the restored snapshot is bit-equal to v1")
    assert(rows(4) != rows(3), "restore actually changed HEAD")
    // forward history, not erasure: the bad versions stay readable
    assert(rows(2).size == 20 && rows(3).size == 10)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  // ---- A47 commit history ----

  test("A47: history reports each version's manifest composition from metadata alone") {
    import spark.implicits._
    val root = SparkTestBase.tempDir("snapshot_history_spec_")
    val df = (1L to 60L).map(i => (i, s"r$i")).toDF("k", "p")
    SnapshotStore.commitOverwrite(spark, root, df.filter(col("k") <= 20))
    SnapshotStore.commitAppend(spark, root,
      df.filter(col("k") > 20 && col("k") <= 40))
    SnapshotStore.commitDelete(spark, root, "k", col("k") % 2 === 0)
    SnapshotStore.commitOverwrite(spark, root, df.filter(col("k") > 40))
    val h = SnapshotStore.history(spark, root).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSeq.sorted
    assert(h == Seq((1, 1, 0), (2, 2, 0), (3, 2, 1), (4, 1, 0)),
      s"history was $h")
    // overwrite drops the outstanding DV (content replaced) — v4's
    // read proves the composition the history row claims
    assert(SnapshotStore.read(spark, root).count() == 20)
    assert(SnapshotStore.read(spark, root, asOf = Some(3)).count() == 20)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  // ---- A46 partition-spec / stats evolution ----

  test("A46: per-segment pruning survives a stats-spec change; stat-less dirs always open") {
    import spark.implicits._
    val root = SparkTestBase.tempDir("snapshot_evolution_spec_")
    val df = (0L until 300L).map(i => (i, i % 50, s"r$i"))
      .toDF("k", "g", "p")
    // era 1: two k-range segments, stats on the ORIGINAL key
    SnapshotStore.commitOverwrite(spark, root,
      df.filter(col("k") < 100).repartition(1), statsCols = Seq("k"))
    SnapshotStore.commitAppend(spark, root,
      df.filter(col("k") >= 100 && col("k") < 200).repartition(1),
      statsCols = Seq("k"))
    // evolution: the new era records stats on the NEW key only
    SnapshotStore.commitAppend(spark, root,
      df.filter(col("k") >= 200).repartition(1), statsCols = Seq("g"))
    // old-key band inside era-1a: era-1b prunes by its k stats, the
    // new era has NO k stats and must open (soundness)
    val byK = SnapshotStore.readPruned(spark, root, "k", 0L, 50L)
    assert(byK.dirsTotal == 3 && byK.dirsOpened == 2,
      s"k-band opened ${byK.dirsOpened}/${byK.dirsTotal}")
    assert(byK.df.filter(col("k") <= 50).count() == 51)
    // new-key band OUTSIDE the evolved segment's g range: the two
    // stat-less-for-g old dirs open, the evolved dir skips
    val byG = SnapshotStore.readPruned(spark, root, "g", 60L, 99L)
    assert(byG.dirsTotal == 3 && byG.dirsOpened == 2,
      s"g-band opened ${byG.dirsOpened}/${byG.dirsTotal}")
    assert(byG.df.filter(col("g").between(60, 99)).count() == 0)
    // pruned reads stay content-correct against the full read
    val full = SnapshotStore.read(spark, root)
      .filter(col("k") <= 50).count()
    assert(full == 51)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }


  test("commitUpsert evaluates its batch once; the upsert dir is its own DV and carries a key zone map") {
    import spark.implicits._
    val root = freshRoot()
    SnapshotStore.commitOverwrite(spark, root,
      (1L to 6L).map(i => (i, s"v$i")).toDF("id", "v"))
    val evaluated = spark.sparkContext.longAccumulator("upsert_rows")
    val touch = udf { (id: Long) => evaluated.add(1L); true }
    val batch = Seq((2L, "v2b"), (4L, "v4b"), (9L, "v9")).toDF("id", "v")
      .filter(touch(col("id")))
    assert(SnapshotStore.commitUpsert(spark, root, "id", batch) == 2)
    assert(evaluated.value == 3L, s"the batch's 3 rows were evaluated ${evaluated.value} times")
    val lines = scala.io.Source.fromFile(s"$root/_manifests/v2.list").getLines().toSeq
    val dataDir = lines.last.split('\t').head
    assert(lines.takeRight(2) == Seq(s"dv\tid\t$dataDir", s"$dataDir\tid\t2\t9"), lines)
    assert(new java.io.File(s"$root/data").list().count(_.startsWith("dv-")) == 0)
    assert(SnapshotStore.read(spark, root).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap ==
      Map(1L -> "v1", 2L -> "v2b", 3L -> "v3", 4L -> "v4b", 5L -> "v5", 6L -> "v6", 9L -> "v9"))
    // the key zone map prunes the upsert dir; its DV still masks v1's rows
    val pr = SnapshotStore.readPruned(spark, root, "id", 10L, 12L)
    assert(pr.dirsOpened == 1 && pr.dirsTotal == 2)
    assert(pr.df.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L, 5L, 6L))
  }

  test("deletion vectors holding duplicate and NULL keys read like distinct ones, with no aggregate") {
    import spark.implicits._
    val root = freshRoot()
    val rows = Seq[(Option[Long], String)]((Some(1L), "a"), (Some(1L), "b"), (Some(2L), "c"),
      (Some(3L), "d"), (Some(3L), "e"), (None, "f"))
    SnapshotStore.commitOverwrite(spark, root, rows.toDF("k", "v"))
    // the delete's key set holds 1 twice and a NULL
    SnapshotStore.commitDelete(spark, root, "k", col("k") === 1L || col("k").isNull)
    // the upsert batch's keys hold 3 twice and a NULL
    SnapshotStore.commitUpsert(spark, root, "k",
      Seq[(Option[Long], String)]((Some(3L), "x"), (Some(3L), "y"), (None, "z")).toDF("k", "v"))
    def content(asOf: Int) = SnapshotStore.read(spark, root, Some(asOf)).collect()
      .map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]), r.getString(1))).toSeq.sortBy(_._2)
    // an anti-join matches no NULL key: the NULL-keyed rows survive both DVs
    assert(content(2) == Seq((Some(2L), "c"), (Some(3L), "d"), (Some(3L), "e"), (None, "f")))
    assert(content(3) == Seq((Some(2L), "c"), (None, "f"), (Some(3L), "x"), (Some(3L), "y"),
      (None, "z")))
    val plan = SnapshotStore.read(spark, root).queryExecution.optimizedPlan
    assert(plan.collect { case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a }
      .isEmpty, plan)
  }
}
