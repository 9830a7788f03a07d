package graft

import org.apache.spark.sql.SparkSession

/** The one session recipe every entry point builds from (`Verify`, `Repl`,
  * the bench mains through [[BenchSession]], and the test session).
  *
  * It owns the sqlgrep semantics: `spark.sql.ansi.enabled=false`, so a
  * failed cast or an out-of-bounds index yields NULL instead of a runtime
  * error (SURVEY.md §2.3 P9/P10; Spark 4 defaults ANSI on). Timestamps
  * are UTC and the UI is off. The optimizer rules come from
  * [[GraftExtensions]], which Spark loads into every session by itself. */
object GraftSession {

  def settings(shufflePartitions: Int): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
    "spark.sql.ansi.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder().master(master).config(settings(shufflePartitions))
}
