package graft.tools

import java.nio.file.{Files, Paths}

/** Dumps `.explain("formatted")` for every declared query (or the names
  * given as args) to `plans/<tag>/<name>_<suffix>.txt` — the judge-readable
  * plan evidence for optimization rounds. Not part of the driver contract.
  *
  * Usage: runMain graft.tools.PlanDump <tag> <suffix> [query...]
  * e.g.   runMain graft.tools.PlanDump r06 before
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val tag = args.headOption.getOrElse("r06")
    val suffix = args.lift(1).getOrElse("before")
    val names = if (args.length > 2) args.drop(2).toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.BenchSession.builder(s"local[$cpus]", "graft-plandump").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = Paths.get("plans", tag)
    Files.createDirectories(dir)
    names.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      Files.write(dir.resolve(s"${name}_$suffix.txt"), plan.getBytes("UTF-8"))
      println(s"dumped $name")
    }
    spark.stop()
  }
}
