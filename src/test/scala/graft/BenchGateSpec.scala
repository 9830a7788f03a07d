package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the run-derived scaling-cleanliness criteria ([[ScalingGate]]).
  *
  * Context (see Bench.scala's Pair scaladoc): this Firecracker guest
  * gets no hypervisor steal accounting, so wall-clock probes cannot see
  * host-level CPU deprivation — the gate instead derives cleanliness
  * from each run's own published wall/core-second numbers. The
  * calibration points asserted here are measured values from
  * 2026-08-17: quiet 16c pipeline floor ≈ 19.7 s wall / ~300 core-s
  * (util 0.95), deprived run 31.8 s / 318 core-s (util 0.62),
  * DRAM-contended runs 345-404 core-s.
  */
class BenchGateSpec extends AnyFunSuite {
  private val MinUtil = 0.85
  private val CpuTol = 1.15

  private def clean(probeClean: Boolean = true, wall: Double, cpu: Double,
      cores: Int = 16, floor: Double = 300.0): Boolean =
    ScalingGate.runClean(probeClean, wall, cpu, cores, floor, MinUtil, CpuTol)

  test("quiet-floor run passes: util 0.95, cpu at the session floor") {
    assert(clean(wall = 19.7, cpu = 300.0))
  }

  test("host-deprived run fails on utilization even with floor core-seconds") {
    // the measured 31.8 s / 318 core-s run: work at the floor, but
    // spread over 62% effective cores — wall ratio would be garbage
    assert(!clean(wall = 31.8, cpu = 318.0))
  }

  test("DRAM-contended run fails on core-second inflation despite high util") {
    // 16 busy cores burning 1.3x the core-seconds for the same work
    assert(!clean(wall = 25.0, cpu = 390.0))
  }

  test("probe-dirty run never passes, whatever its accounting says") {
    assert(!clean(probeClean = false, wall = 19.7, cpu = 300.0))
  }

  test("missing CPU accounting (in-process mode) defers to the probe verdict") {
    assert(clean(wall = 50.0, cpu = -1.0))
    assert(!clean(probeClean = false, wall = 50.0, cpu = -1.0))
  }

  test("missing session floor (first fork pair) defers to the probe verdict") {
    assert(clean(wall = 19.7, cpu = 300.0, floor = -1.0))
  }

  test("boundaries: exactly minUtil and exactly tol x floor are clean") {
    // util exactly 0.85: cpu = 0.85 * wall * cores
    assert(clean(wall = 20.0, cpu = 0.85 * 20.0 * 16, floor = 0.85 * 20.0 * 16))
    // cpu exactly 1.15x floor with high util
    assert(clean(wall = 20.0, cpu = 345.0, floor = 300.0))
    assert(!clean(wall = 20.0, cpu = 345.1, floor = 300.0))
  }

  test("4-core level calibration: measured clean runs pass") {
    // 4c runs measured util 0.97, cpu 256-270 core-s, wall 66-69 s
    assert(clean(wall = 67.6, cpu = 263.0, cores = 4, floor = 256.4))
    // and a 4c run with the same wall but only half the CPU would fail
    assert(!clean(wall = 67.6, cpu = 135.0, cores = 4, floor = 130.0))
  }

  // ------------------------------------------------------- window grade

  private val MemCeilMin = 0.55

  private def grade(probeClean: Boolean = true,
      wallN: Double, cpuN: Double, floorN: Double = -1.0,
      wall4: Double, cpu4: Double, floor4: Double = -1.0,
      memCeil: Double): String =
    ScalingGate.windowGrade(probeClean, wallN, cpuN, 4, floorN,
      wall4, cpu4, 16, floor4, memCeil, MemCeilMin, MinUtil, CpuTol)

  test("quiet window: high util, floor core-seconds, DRAM ceiling above threshold") {
    // round-4 capstone shape: 53.0s/4c @ 207 core-s, 15.9s/16c @ 243
    assert(grade(wallN = 53.0, cpuN = 207.0, floorN = 207.0,
      wall4 = 15.9, cpu4 = 243.0, floor4 = 243.0, memCeil = 0.72) === "quiet")
  }

  test("round-4 driver draw re-derived: both pipeline pairs grade contended " +
      "(the 0.409 pair can never present as clean again)") {
    // BENCH_r04.json pipeline_scaling, pair 1: runs 83.25/50.87 s, cpu
    // 325.99/755.68 core-s, mem_ceiling 0.355. Old rule flagged it
    // pair_clean=true (its own runs WERE the session best; the inflation
    // check was vacuous) — the window criterion now grades it contended.
    assert(grade(wallN = 83.25, cpuN = 325.99, floorN = 325.99,
      wall4 = 50.87, cpu4 = 755.68, floor4 = 743.55, memCeil = 0.355) === "contended")
    // pair 2: runs 92.23/59.63 s, cpu 362.07/743.55 core-s — its 16c
    // level ran at 0.78 utilization, so deprivation is named first
    assert(grade(wallN = 92.23, cpuN = 362.07, floorN = 325.99,
      wall4 = 59.63, cpu4 = 743.55, floor4 = 743.55, memCeil = 0.355) === "deprived")
  }

  test("deprived beats contended in the grade: low utilization is named first") {
    // the measured 31.8s/318-core-s deprivation run at the 16c level
    assert(grade(wallN = 67.6, cpuN = 263.0, floorN = 256.4,
      wall4 = 31.8, cpu4 = 318.0, floor4 = 300.0, memCeil = 0.3) === "deprived")
  }

  test("core-second inflation alone grades contended even on a quiet-reading bus") {
    assert(grade(wallN = 67.6, cpuN = 263.0, floorN = 256.4,
      wall4 = 25.0, cpu4 = 390.0, floor4 = 300.0, memCeil = 0.8) === "contended")
  }

  test("dirty probe bracket grades contended") {
    assert(grade(probeClean = false, wallN = 53.0, cpuN = 207.0,
      wall4 = 15.9, cpu4 = 243.0, memCeil = 0.8) === "contended")
  }

  test("missing accounting leaves criteria out: in-process pair on a quiet bus is quiet") {
    assert(grade(wallN = 60.0, cpuN = -1.0, wall4 = 17.0, cpu4 = -1.0,
      memCeil = 0.72) === "quiet")
    // and an unmeasured ceiling (-1) does not contaminate the grade
    assert(grade(wallN = 53.0, cpuN = 207.0, floorN = 207.0,
      wall4 = 15.9, cpu4 = 243.0, floor4 = 243.0, memCeil = -1.0) === "quiet")
  }

  test("threshold boundary: ceiling exactly at MemCeilMin is quiet, just below is not") {
    assert(grade(wallN = 53.0, cpuN = 207.0, wall4 = 15.9, cpu4 = 243.0,
      memCeil = 0.55) === "quiet")
    assert(grade(wallN = 53.0, cpuN = 207.0, wall4 = 15.9, cpu4 = 243.0,
      memCeil = 0.549) === "contended")
  }

  test("scaling phases are refused when the 4N level is wider than the host") {
    assert(ScalingGate.scalingSkipped(coresN = 4, hostCores = 4) === Some("4N>host_cores"))
    assert(ScalingGate.scalingSkipped(coresN = 4, hostCores = 15) === Some("4N>host_cores"))
    assert(ScalingGate.scalingSkipped(coresN = 4, hostCores = 16) === None)
    assert(ScalingGate.scalingSkipped(coresN = 1, hostCores = 4) === None)
  }

  test("MemSweep produces a positive, finite sweep time (ceiling probe substrate)") {
    val t = MemSweep.sweep(2)
    assert(t > 0.0 && t < 60.0, s"implausible sweep time $t")
  }
}
