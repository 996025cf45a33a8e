package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (getOrCreate → one JVM-wide
  * session; suites never stop it so order doesn't matter). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      // the production extension path: functions arrive via config, not
      // per-session register() calls (pinned by GraftExtensionsSpec)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // per-JVM unique: a crashed run's leftover table dirs must not
      // poison the next run's saveAsTable, and concurrent test JVMs
      // must not write the same managed-table paths
      .config("spark.sql.warehouse.dir", SparkTestBase.warehouseDir)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Smallest fixture scale — correctness only, speed matters in CI. */
  val sfDir = "/root/testdata/sf0.001"
}

object SparkTestBase {
  /** One warehouse dir per JVM, deleted on exit. */
  lazy val warehouseDir: String = tempDir("graft_warehouse_test_")

  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]

  sys.addShutdownHook {
    def del(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(del))
      f.delete(): Unit
    }
    tempDirs.forEach(del)
  }

  /** A fresh temp dir, deleted with its contents when the test JVM exits. */
  def tempDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix).toFile
    tempDirs.add(p)
    p.toString
  }
}
