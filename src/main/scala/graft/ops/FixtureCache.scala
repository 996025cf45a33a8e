package graft.ops

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Shared build-once, per-fixture derived-artifact cache — the single
  * implementation of the marker discipline that `ensurePairs` (K6 pair
  * relation) and `AnnIvf.ensureIndex` (K18 IVF index) grew separately.
  *
  * Correctness properties (round-10 advice):
  *
  *  - '''Content identity, not path identity.''' The cache key hashes
  *    every dependency file's (name, length, mtime) IN ADDITION to the
  *    anchor path, so a fixture regenerated in place gets a fresh
  *    cache dir instead of silently serving stale derived data across
  *    JVM runs.
  *  - '''Atomic whole-dir commit.''' A build lands in a unique
  *    `<dir>.tmp_<uuid>` staging dir, the ready marker is written
  *    INSIDE it, and the whole dir renames into place in one
  *    filesystem operation — two JVMs that both miss the marker (e.g.
  *    tests racing a bench) each build privately and exactly one
  *    rename wins; the loser deletes its staging dir and serves the
  *    winner's committed copy. Interleaved half-written caches are
  *    structurally impossible.
  *  - '''Bounded accumulation.''' On a miss, committed siblings of the
  *    same (name, anchor) family with a DIFFERENT content key are
  *    deleted — they can never be read again (the fixture content that
  *    produced them is gone), so a long-lived host holds at most one
  *    committed cache per live fixture, plus abandoned staging dirs
  *    which are reaped once older than [[TmpReapMillis]]. Reaping
  *    never crosses families: a renamed or version-bumped family is a
  *    new name, so the old family's dirs are never reaped and stay
  *    under a long-lived cache root until removed by hand.
  *
  * The dirs live under `java.io.tmpdir` (node-local scratch — the same
  * lifetime class as shuffle spill; on a cluster each node rebuilds or
  * the cache root is pointed at shared storage via `graft.cache.root`).
  */
object FixtureCache {

  val Marker = "_GRAFT_READY"

  /** Abandoned `.tmp_` staging dirs older than this are deleted on the
    * next miss in their family (a live concurrent build is younger). */
  val TmpReapMillis: Long = 6L * 3600 * 1000

  private def root: String =
    sys.props.getOrElse("graft.cache.root", sys.props("java.io.tmpdir"))

  private def hex(s: String): String = java.lang.Integer.toHexString(
    scala.util.hashing.MurmurHash3.stringHash(s))

  private def prefix(name: String, anchor: String): String =
    s"graft_${name}_${hex(new java.io.File(anchor).getAbsolutePath)}"

  /** Content identity of the dependency paths: every file's
    * (name, length, mtime), walked in sorted order. A regenerated
    * parquet changes mtimes (and usually sizes) → new key. */
  def contentKey(conf: Configuration, deps: Seq[String]): String = {
    val parts = Seq.newBuilder[String]
    for (d <- deps.sorted) {
      val p = new Path(new java.io.File(d).getAbsolutePath)
      val fs = p.getFileSystem(conf)
      def walk(st: org.apache.hadoop.fs.FileStatus): Unit =
        if (st.isDirectory)
          fs.listStatus(st.getPath).sortBy(_.getPath.getName).foreach(walk)
        else parts += s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}"
      if (fs.exists(p)) walk(fs.getFileStatus(p))
      else parts += s"${p.getName}:absent"
    }
    hex(parts.result().mkString("\n"))
  }

  /** The (deterministic) cache dir for this (name, anchor, deps
    * content) — pure derivation, no filesystem writes. */
  def cacheDir(conf: Configuration, name: String, anchor: String,
      deps: Seq[String]): String =
    s"$root/${prefix(name, anchor)}_${contentKey(conf, deps)}"

  /** Serve the committed cache for (name, anchor, deps), building it
    * via `build(stagingDir)` on a miss. Returns the committed dir.
    * Cross-thread safety: the object lock (one build per JVM).
    * Cross-process safety: the atomic staging-rename above. */
  def ensure(spark: SparkSession, name: String, anchor: String,
      deps: Seq[String])(build: String => Unit): String = this.synchronized {
    val conf = spark.sessionState.newHadoopConf()
    val dir = cacheDir(conf, name, anchor, deps)
    val dst = new Path(dir)
    val fs = dst.getFileSystem(conf)
    val marker = new Path(dst, Marker)
    if (fs.exists(marker)) return dir

    // dst existing WITHOUT a marker is debris from a crashed pre-commit
    // build (a competing committed rename carries its marker with it)
    if (fs.exists(dst)) fs.delete(dst, true)
    // evict the family: committed caches for content that no longer
    // exists, and staging dirs abandoned by crashed builds
    val fam = Option(fs.globStatus(
      new Path(s"$root/${prefix(name, anchor)}_*"))).getOrElse(Array.empty)
    for (st <- fam; p = st.getPath if p.toUri.getPath != dst.toUri.getPath) {
      val isTmp = p.getName.contains(".tmp_")
      val abandoned =
        st.getModificationTime < System.currentTimeMillis() - TmpReapMillis
      if (!isTmp || abandoned) { fs.delete(p, true); () }
    }

    val tmp = new Path(
      dir + ".tmp_" + java.util.UUID.randomUUID().toString.take(8))
    build(tmp.toString)
    fs.create(new Path(tmp, Marker), true).close()
    val renamed = if (!fs.exists(dst)) fs.rename(tmp, dst) else false
    if (!renamed) { fs.delete(tmp, true); () }
    // if a concurrent committer's rename landed between our exists
    // check and our rename, ours may have nested under theirs — undo
    val nested = new Path(dst, tmp.getName)
    if (fs.exists(nested)) { fs.delete(nested, true); () }
    if (!fs.exists(marker))
      throw new IllegalStateException(
        s"fixture cache commit failed for $dir (no committed copy found)")
    dir
  }
}
