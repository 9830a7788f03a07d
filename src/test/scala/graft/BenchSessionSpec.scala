package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the effective settings of the benchmark sessions ([[Bench]],
  * [[BenchExtra]], `tools.PlanDump`) to the explicit list each of them
  * carried before they shared [[GraftSession]]'s recipe, so that bench
  * numbers stay comparable across that change. */
class BenchSessionSpec extends AnyFunSuite {

  private val explicitList = Map(
    "spark.sql.shuffle.partitions" -> "128",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.ansi.enabled" -> "false",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.local.dir" -> "/dev/shm/graft-bench",
    "spark.io.compression.codec" -> "zstd",
    "spark.ui.enabled" -> "false")

  test("the bench session settings equal the explicit list") {
    assert(GraftSession.settings(BenchSession.ShufflePartitions) ++
      BenchSession.settings === explicitList)
  }
}
