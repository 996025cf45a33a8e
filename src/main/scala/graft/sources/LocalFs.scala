package graft.sources

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem without the two child processes it
  * starts per operation when the native Hadoop library is absent:
  *
  *  - `setPermission` (every file and directory Hadoop creates) runs a
  *    shell `chmod`; here the nine rwx bits go through
  *    `Files.setPosixFilePermissions`. A mode with bits above `0777`
  *    (sticky, setuid, setgid) or a platform without POSIX attributes
  *    takes the stock path.
  *  - `getFileLinkStatus` (every `FileContext` rename, so every
  *    streaming checkpoint commit) runs `readlink`; here a path that is
  *    not a symbolic link returns `getFileStatus`, which is what the
  *    stock code returns for it, and a missing path still raises
  *    `FileNotFoundException`. A real symlink takes the stock path.
  *
  * Everything else — the files, the permission bits, the commit
  * protocol — is the stock class's. A fork costs about 4 ms from a
  * 3 GB JVM; the NIO call costs microseconds.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort & 0xffff
    if ((mode & ~0x1ff) != 0 || !ForkFreeLocalFs.posix)
      super.setPermission(p, permission)
    else {
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // values() runs OWNER_READ .. OTHERS_EXECUTE: bit 8 down to bit 0
      PosixFilePermission.values.zipWithIndex.foreach { case (bit, i) =>
        if ((mode & (0x100 >> i)) != 0) perms.add(bit)
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms): Unit
    }
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The checksummed `file:` [[org.apache.hadoop.fs.FileSystem]] over
  * [[ForkFreeRawLocalFileSystem]], for `fs.file.impl`: the same `.crc`
  * sidecars as the stock one, and still a `LocalFileSystem`, so
  * `FileSystem.getLocal` keeps working. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** The `FileContext` side of [[ForkFreeRawLocalFileSystem]] (Hadoop's
  * `RawLocalFs`, whose constructors are package-private, so its four
  * overrides are repeated here). */
private[sources] class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  @annotation.nowarn("cat=deprecation")
  override def getServerDefaults: FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** The checksummed `file:` [[org.apache.hadoop.fs.AbstractFileSystem]]
  * for `fs.AbstractFileSystem.file.impl` — what Spark's streaming
  * checkpoint (`FileContextBasedCheckpointFileManager`) and the RocksDB
  * state store write through. Built like Hadoop's `LocalFs`.
  *
  * `CheckpointFileManager.isLocal` tests for Hadoop's `LocalFs` /
  * `RawLocalFs` classes and so reads `false` here; in Spark 4.1 only the
  * checkpoint-manager wrappers read it. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(uri, conf))

object ForkFreeLocalFs {
  val FileSystemKey = "fs.file.impl"
  val AbstractFileSystemKey = "fs.AbstractFileSystem.file.impl"

  private[sources] lazy val posix: Boolean =
    FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** Points `file:` at the fork-free classes in `conf`, except for a key
    * that holds a value someone set (anything beyond Hadoop's own
    * defaults). Hadoop caches one `file:` FileSystem per JVM, so an
    * instance created before this call keeps its class. */
  def install(conf: Configuration): Unit =
    Seq(FileSystemKey -> classOf[ForkFreeLocalFileSystem],
        AbstractFileSystemKey -> classOf[ForkFreeLocalFs]).foreach { case (key, cls) =>
      val chosen = Option(conf.getPropertySources(key))
        .exists(_.exists(_ != "core-default.xml"))
      if (!chosen) conf.set(key, cls.getName)
    }
}
