package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins [[Harness.confs]], the env→conf mapping of the one session every
  * main runs in — checked as a pure function, without a second
  * SparkContext. */
class HarnessSpec extends AnyFunSuite {

  private def conf(env: (String, String)*): Map[String, String] =
    Harness.confs(env.toMap).toMap

  test("empty env: cores from the host, width = cores, extensions and UTC set") {
    val c = conf()
    val cores = Runtime.getRuntime.availableProcessors
    assert(c("spark.master") === s"local[$cores]")
    assert(c("spark.sql.shuffle.partitions") === cores.toString)
    assert(c("spark.sql.extensions") === "graft.GraftExtensions")
    assert(c("spark.sql.session.timeZone") === "UTC")
    assert(c("spark.ui.enabled") === "false")
    assert(!c.contains("spark.io.compression.codec"))
    assert(!c.contains(ops.Util.CheckpointDirConf))
  }

  test("SPARK_GRAFT_CPUS sets cores and width; SPARK_GRAFT_SHUFFLE_PARTITIONS overrides the width") {
    assert(conf("SPARK_GRAFT_CPUS" -> "3")("spark.master") === "local[3]")
    assert(conf("SPARK_GRAFT_CPUS" -> "3")("spark.sql.shuffle.partitions") === "3")
    val c = conf("SPARK_GRAFT_CPUS" -> "3", "SPARK_GRAFT_SHUFFLE_PARTITIONS" -> "256")
    assert(c("spark.master") === "local[3]")
    assert(c("spark.sql.shuffle.partitions") === "256")
  }

  test("codec and checkpoint-dir knobs map to their confs; blank is unset") {
    val c = conf("SPARK_GRAFT_IO_CODEC" -> "zstd",
      "SPARK_GRAFT_CHECKPOINT_DIR" -> "/tmp/ckpt")
    assert(c("spark.io.compression.codec") === "zstd")
    assert(c(ops.Util.CheckpointDirConf) === "/tmp/ckpt")
    val blank = conf("SPARK_GRAFT_IO_CODEC" -> "", "SPARK_GRAFT_CHECKPOINT_DIR" -> "")
    assert(!blank.contains("spark.io.compression.codec"))
    assert(!blank.contains(ops.Util.CheckpointDirConf))
  }
}
