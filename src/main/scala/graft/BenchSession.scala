package graft

import org.apache.spark.sql.SparkSession

/** Session settings of the benchmark mains ([[Bench]], [[BenchRun]],
  * [[BenchExtra]], `tools.PlanDump`), on top of [[GraftSession]]'s policy.
  * BenchSessionSpec pins the resulting key/value set. */
object BenchSession {

  val ShufflePartitions = 128

  /** The bench-only settings. */
  val settings: Map[String, String] = Map(
    "spark.sql.adaptive.enabled" -> "true",
    // shuffle files on tmpfs: one box has one disk; writeback storms
    // would otherwise dominate and hide the CPU scaling being measured
    "spark.local.dir" -> "/dev/shm/graft-bench",
    // zstd over the default lz4: the routed token payload compresses
    // ~2x better, and the wide level is bandwidth-bound on the shared
    // tmpfs/DRAM path — measured (interleaved A/B, 8M rows): 16-core
    // 64-92s lz4 vs 29-38s zstd, 4-core 133s vs 104s. Cuts bytes
    // through the narrowest resource at BOTH sandbox and cluster scale
    // (a real cluster shuffles those bytes over NICs).
    "spark.io.compression.codec" -> "zstd")

  def builder(master: String, appName: String,
      shufflePartitions: Int = ShufflePartitions): SparkSession.Builder =
    GraftSession.builder(master, shufflePartitions)
      .appName(appName)
      .config(settings)
}
