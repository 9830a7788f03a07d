package perfbench

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One benchmark run's settings. `work` is the directory every file the
  * run writes goes to. */
final case class Ctx(seed: Long, seconds: Double, trace: Boolean, work: String) {
  val tracer = new Trace(trace)
  /** Set-ups per run: untraced runs report their median. */
  val setups: Int = if (trace) 1 else 3
}

/** Harness entry point. Prints the run's raw measurements as one JSON
  * line prefixed `PERFBENCH_RAW `; `run.py` turns them into metrics.
  *
  * {{{
  * Main --workload pipeline|sql_logs --seed N --seconds S --trace 0|1 --work DIR
  * Main --workload pipeline --seed N --work DIR --level1   (1-core scaling level)
  * }}}
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    val workload = args.getOrElse("--workload", sys.error("--workload is required"))
    val seed = args.get("--seed").map(_.toLong).getOrElse(sys.error("--seed is required"))
    require(seed >= 0 && seed < 1000000L, s"--seed must be in [0, 1000000): $seed")
    val work = args.getOrElse("--work", sys.error("--work is required"))
    Files.createDirectories(Paths.get(work))
    val ctx = Ctx(seed, args.getOrElse("--seconds", "10").toDouble,
      args.get("--trace").contains("1"), work)

    val code = try {
      val raw =
        if (argv.contains("--level1")) PipelineWorkload.level1(ctx)
        else workload match {
          case "pipeline" => PipelineWorkload.run(ctx)
          case "sql_logs" => SqlLogsWorkload.run(ctx)
          case other => sys.error(s"unknown workload: $other")
        }
      val host = Map(
        "jdk" -> System.getProperty("java.version"),
        "spark" -> org.apache.spark.SPARK_VERSION,
        "available_processors" -> Runtime.getRuntime.availableProcessors(),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory() / 1048576)
      println("PERFBENCH_RAW " + Json.write(raw ++ Map("jvm" -> host,
        "spans" -> ctx.tracer.result)))
      0
    } catch {
      case NonFatal(e) =>
        e.printStackTrace()
        1
    } finally SparkSession.getActiveSession.foreach(_.stop())
    System.out.flush()
    sys.exit(code)
  }
}
