package graft

/** Extra benchmark main for optimization work (round 6) — NOT part of the
  * driver contract and never replaces [[Bench]]: times a subset of the
  * declared queries with the same methodology (noop sink, warm-up + N
  * timed reps, min + median reported) and the same session configuration
  * ([[BenchSession]]) as [[Bench]], so numbers are comparable to phase-1
  * entries.
  *
  * Usage: runMain graft.BenchExtra [reps] [query...]  (default: all)
  * Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  *        SPARK_GRAFT_CPUS   (default 32)
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val reps = args.headOption.map(_.toInt).getOrElse(3)
    val names = if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = BenchSession.builder(s"local[$cpus]", "graft-benchextra").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      spark.sparkContext.setJobDescription(s"benchextra:$name")
      def once(): Double = {
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      once() // warm-up
      val ts = (1 to reps).map(_ => once())
      println(f"EXTRA $name%-24s min=${ts.min}%.3f median=${median(ts)}%.3f samples=${ts.map(t => f"$t%.3f").mkString(",")}")
    }
    spark.stop()
  }
}
