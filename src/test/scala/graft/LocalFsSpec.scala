package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths, Path => NioPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.ops.{FixtureCache, StreamingOps}
import graft.sources.{CensusFixture, CensusSource, ForkFreeLocalFileSystem, ForkFreeLocalFs, ForkFreeRawLocalFileSystem, SnapshotStore}

/** The fork-free `file:` filesystem ([[graft.sources.ForkFreeLocalFs]]):
  * the `GraftExtensions` session resolves `file:` to it through both
  * Hadoop APIs; it leaves the same permission bits and link statuses as
  * the stock classes; and snapshot commits, the census micro-batch sink
  * with its checkpoint, and a fixture-cache build start no `chmod` or
  * `readlink` process (read back from an in-process JFR recording). */
class LocalFsSpec extends SparkTestBase {

  private def tmpDir(prefix: String): NioPath = Files.createTempDirectory(prefix)

  private def deleteTree(p: NioPath): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(p.toFile): Unit

  private def fresh(fs: FileSystem): FileSystem = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }

  private def mode(p: NioPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** The command lines of the processes started while `body` runs. */
  private def processesDuring(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    val out = Files.createTempFile("graft_localfs_", ".jfr")
    try {
      rec.start()
      try body finally rec.stop()
      rec.dump(out)
      jdk.jfr.consumer.RecordingFile.readAllEvents(out).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
    } finally {
      rec.close()
      Files.deleteIfExists(out): Unit
    }
  }

  private def assertNoFsForks(what: String)(body: => Unit): Unit = {
    val forks = processesDuring(body)
      .filter(c => c.contains("chmod") || c.contains("readlink"))
    assert(forks.isEmpty, s"$what started ${forks.size} processes: ${forks.take(5)}")
  }

  test("the GraftExtensions session resolves file: to the fork-free classes") {
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path("file:///tmp").getFileSystem(conf)
    assert(fs.getClass == classOf[ForkFreeLocalFileSystem])
    val local: LocalFileSystem = FileSystem.getLocal(conf)
    assert(local.getRawFileSystem.getClass == classOf[ForkFreeRawLocalFileSystem])
    val fc = FileContext.getFileContext(URI.create("file:///"), conf)
    assert(fc.getDefaultFileSystem.getClass == classOf[ForkFreeLocalFs])
  }

  test("install fills only keys nobody set") {
    val conf = new Configuration()
    conf.set(ForkFreeLocalFs.FileSystemKey, classOf[LocalFileSystem].getName)
    ForkFreeLocalFs.install(conf)
    assert(conf.get(ForkFreeLocalFs.FileSystemKey) == classOf[LocalFileSystem].getName)
    assert(conf.get(ForkFreeLocalFs.AbstractFileSystemKey) == classOf[ForkFreeLocalFs].getName)
  }

  test("permission bits and checksum sidecars match the stock filesystem") {
    val root = tmpDir("graft_localfs_perm_")
    try {
      def layout(fs: FileSystem, name: String): Map[String, Int] = {
        val base = root.resolve(name)
        def hp(n: String) = new Path(base.resolve(n).toString)
        fs.mkdirs(hp("dir"))
        fs.create(hp("dir/file")).close()
        fs.create(hp("f700")).close()
        fs.setPermission(hp("f700"), new FsPermission("700"))
        fs.mkdirs(hp("d750"))
        fs.setPermission(hp("d750"), new FsPermission("750"))
        fs.mkdirs(hp("sticky"))
        fs.setPermission(hp("sticky"), new FsPermission(Integer.parseInt("1777", 8).toShort))
        Files.walk(base).iterator().asScala.filter(_ != base)
          .map(p => base.relativize(p).toString -> mode(p)).toMap
      }
      val stock = layout(fresh(new LocalFileSystem()), "stock")
      val forkFree = layout(fresh(new ForkFreeLocalFileSystem), "forkfree")
      assert(forkFree == stock)
      def oct(s: String) = Integer.parseInt(s, 8)
      assert(forkFree("dir") == oct("755") && forkFree("dir/file") == oct("644"))
      assert(forkFree("f700") == oct("700") && forkFree("d750") == oct("750"))
      assert(forkFree("sticky") == oct("1777"), "a sticky mode takes the stock path")
      assert(forkFree.contains("dir/.file.crc"))
    } finally deleteTree(root)
  }

  test("getFileLinkStatus matches the stock filesystem on files, dirs, missing paths and links") {
    val root = tmpDir("graft_localfs_link_")
    try {
      val file = Files.writeString(root.resolve("file"), "x")
      val dir = Files.createDirectory(root.resolve("dir"))
      val link = Files.createSymbolicLink(root.resolve("link"), file)
      val dangling = Files.createSymbolicLink(root.resolve("dangling"), root.resolve("gone"))
      val missing = root.resolve("missing")
      def facts(st: FileStatus) = (st.getPath, st.getLen, st.isDirectory, st.isSymlink,
        if (st.isSymlink) Some(st.getSymlink) else None, st.getModificationTime,
        st.getPermission, st.getOwner, st.getGroup)
      def status(get: Path => FileStatus, p: Path) =
        try Right(facts(get(p))) catch { case e: FileNotFoundException => Left(e.getClass.getName) }
      val stock = fresh(new RawLocalFileSystem())
      val forkFree = fresh(new ForkFreeRawLocalFileSystem)
      val conf = spark.sessionState.newHadoopConf()
      val stockFc = FileContext.getLocalFSFileContext(new Configuration())
      val forkFreeFc = FileContext.getFileContext(URI.create("file:///"), conf)
      assert(stockFc.getDefaultFileSystem.getClass != forkFreeFc.getDefaultFileSystem.getClass)
      for (p <- Seq(file, dir, link, dangling, missing);
           hp <- Seq(new Path(p.toString), new Path(p.toUri))) {
        assert(status(forkFree.getFileLinkStatus, hp) == status(stock.getFileLinkStatus, hp), hp)
        assert(status(forkFreeFc.getFileLinkStatus, hp) == status(stockFc.getFileLinkStatus, hp), hp)
      }
      assert(status(forkFree.getFileLinkStatus, new Path(missing.toString)).isLeft)
    } finally deleteTree(root)
  }

  test("the JFR guard sees the stock filesystem's chmod") {
    assume(!org.apache.hadoop.util.NativeCodeLoader.isNativeCodeLoaded,
      "with the native Hadoop library the stock filesystem forks nothing")
    val root = tmpDir("graft_localfs_probe_")
    try {
      val stock = fresh(new RawLocalFileSystem())
      val forks = processesDuring(stock.create(new Path(root.resolve("f").toString)).close())
      assert(forks.exists(_.contains("chmod")), forks)
    } finally deleteTree(root)
  }

  test("snapshot overwrite, upsert and delete start no chmod or readlink") {
    val root = tmpDir("graft_localfs_store_")
    try {
      val df = spark.range(20).select(col("id"), (col("id") * 2).as("v"))
      val batch = spark.range(15, 25).select(col("id"), (col("id") * 3).as("v"))
      val store = root.resolve("t").toString
      assertNoFsForks("a snapshot overwrite, upsert and delete") {
        SnapshotStore.commitOverwrite(spark, store, df)
        SnapshotStore.commitUpsert(spark, store, "id", batch)
        SnapshotStore.commitDelete(spark, store, "id", col("id") < 3)
      }
      val rows = SnapshotStore.read(spark, store).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(rows.keySet == (3L until 25L).toSet)
      assert(rows(16L) == 48L && rows(14L) == 28L)
    } finally deleteTree(root)
  }

  test("the census AvailableNow stream into idempotentBatchAppend starts no chmod or readlink") {
    val root = tmpDir("graft_localfs_stream_")
    try {
      val sink: (DataFrame, Long) => Unit =
        StreamingOps.idempotentBatchAppend(root.resolve("sink").toString)
      assertNoFsForks("the census stream") {
        val q = spark.readStream.format("graft.sources.CensusSource")
          .option("path", CensusFixture.path)
          .option("expect", CensusFixture.Expect.mkString(","))
          .option("maxChunksPerTrigger", "5")
          .load()
          .writeStream.foreachBatch(sink)
          .trigger(Trigger.AvailableNow())
          .option("checkpointLocation", root.resolve("ckpt").toString)
          .start()
        try assert(q.awaitTermination(120000L), "AvailableNow must stop by itself")
        finally q.stop()
      }
      assert(spark.read.parquet(root.resolve("sink").toString).count() ==
        2L * CensusSource.stateFips.size)
    } finally deleteTree(root)
  }

  test("a FixtureCache build starts no chmod or readlink") {
    val fx = tmpDir("graft_localfs_fx_")
    val dep = Files.write(fx.resolve("data.bin"), Array.fill[Byte](64)(3))
    var dir = ""
    try {
      assertNoFsForks("a FixtureCache build") {
        dir = FixtureCache.ensure(spark, "localfs_spec", fx.toString, Seq(dep.toString)) { tmp =>
          spark.range(100).write.parquet(tmp)
        }
      }
      assert(Files.exists(Paths.get(dir, FixtureCache.Marker)))
      assert(spark.read.parquet(dir).count() == 100)
    } finally {
      deleteTree(fx)
      if (dir.nonEmpty) deleteTree(Paths.get(dir))
    }
  }
}
