package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.pipeline.{LogPipeline, TokenSequences}

/** One forked scaling measurement: `args = mode cores rows` with
  * `mode ∈ {pipeline, ann}`. Prints `ELAPSED <seconds>` (the timed pass,
  * after a JIT/codegen warm-up pass at rows/8) and exits.
  *
  * Why a separate JVM per measured run: the in-process benchmark gives a
  * `local[4]` session the WHOLE 32-core host for everything that is not
  * a task thread — G1 sizes its worker pool off the machine's CPU count,
  * so the 4-core level gets ~23-thread GC assists a real 4-core executor
  * would never have, deflating T_N and with it the measured N→4N
  * efficiency. (Measured: the non-task-parallel wall per run scales with
  * rows — ~5 s at 4M, ~11 s at 8M — i.e. allocation/GC, not fixed
  * scheduling cost.) The parent runs each measurement under
  * `taskset -c 0..cores-1` with `-XX:ActiveProcessorCount=cores`, making
  * each level a faithful simulation of an N-core executor: task
  * threads, GC workers, JIT compiler threads and the fork-join common
  * pool all sized to N, and memory traffic confined to N cores. */
object BenchRun {

  def main(args: Array[String]): Unit = {
    val mode = args(0)
    val cores = args(1).toInt
    val rows = args(2).toLong
    val inputParts = args.lift(3).map(_.toInt).getOrElse(256)
    val shuffleParts = args.lift(4).map(_.toInt).getOrElse(BenchSession.ShufflePartitions)
    val warmRows = math.max(math.min(rows / 8, 2000000L), 1L)

    // Cluster simulation: with SPARK_GRAFT_EXEC_CORES set, run a
    // local-cluster master — one REAL executor JVM per `execCores`
    // (Spark's public multi-process test master), so going N -> 4N total
    // cores multiplies executor JVMs (and their GC/JIT capacity) exactly
    // like adding executors to a real cluster. Without it: plain
    // local[cores] (all task threads in this JVM).
    val execCores = sys.env.get("SPARK_GRAFT_EXEC_CORES").map(_.toInt)
    val execMemMb = sys.env.getOrElse("SPARK_GRAFT_EXEC_MEM_MB", "6144").toInt
    val master = execCores match {
      case Some(ec) => s"local-cluster[${math.max(cores / ec, 1)},$ec,$execMemMb]"
      case None => s"local[$cores]"
    }
    val builder = BenchSession.builder(master, s"graft-benchrun-$mode-$cores", shuffleParts)
    execCores.foreach { ec =>
      builder.config("spark.executor.memory", s"${execMemMb}m")
        // executor JVMs need the library classes + a GC/JIT pool sized
        // to their own core count, like a real N-core executor
        .config("spark.executor.extraClassPath", sys.props("java.class.path"))
        .config("spark.executor.extraJavaOptions",
          s"-XX:ActiveProcessorCount=$ec -Djava.io.tmpdir=/dev/shm/graft-bench")
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    pass(spark, mode, warmRows, inputParts, shuffleParts) // JIT/codegen warm-up
    val (cpu0, gc0, gcN0) = procStats()
    val elapsed = pass(spark, mode, rows, inputParts, shuffleParts)
    val (cpu1, gc1, gcN1) = procStats()
    // parent greps these exact markers from stdout. PROC_CPU is the
    // JVM's own consumed CPU seconds over the timed pass (JMX) — immune
    // to hypervisor steal and co-tenant noise, so core-second
    // comparisons across parallelism levels stay valid even in windows
    // a wall-clock probe would reject. GC_SEC/GC_N likewise split
    // collector work out of the mutator budget.
    println(f"ELAPSED $elapsed%.3f")
    println(f"PROC_CPU ${cpu1 - cpu0}%.3f GC_SEC ${(gc1 - gc0) / 1e3}%.3f GC_N ${gcN1 - gcN0}%d")
    spark.stop()
  }

  /** (process CPU seconds, cumulative GC millis, GC count) via JMX. */
  private def procStats(): (Double, Long, Long) = {
    import java.lang.management.ManagementFactory
    import scala.jdk.CollectionConverters._
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (os.getProcessCpuTime / 1e9,
      gcs.map(_.getCollectionTime).sum,
      gcs.map(_.getCollectionCount).sum)
  }

  /** One timed pass of the scaling workload; shared by the forked main
    * above and [[Bench]]'s in-process mode so every dispatch measures
    * the IDENTICAL job. */
  def pass(spark: SparkSession, mode: String, rows: Long,
      inputParts: Int, shuffleParts: Int): Double = mode match {
    case "pipeline" =>
      val t0 = System.nanoTime()
      val seqs = TokenSequences.synthetic(spark, rows, inputParts)
      val routed = LogPipeline.parseEnrichRoute(spark, seqs, shuffleParts, packTransport = true)
      routed.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    case "ann" =>
      import graft.functions.EmbedGen
      import graft.operators.Similarity
      val t0 = System.nanoTime()
      val corpus = spark.range(0, rows, 1, inputParts)
        .select(col("id"), EmbedGen(col("id"), lit(64)).as("emb"))
      val queries = spark.range(rows, rows + 64)
        .select(col("id"), EmbedGen(col("id"), lit(64)).as("emb"))
      Similarity.lshTopK(corpus, col("id"), col("emb"),
          queries, col("id"), col("emb"), k = 10)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    case other => sys.error(s"unknown BenchRun mode: $other")
  }
}
