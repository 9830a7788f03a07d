package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.sql.SqlEngine
import graft.streaming.FollowStream

/** `follow`, the follow phase of the traced `sql_logs` run: `tail -f` as
  * an open loop. A generator thread renames one pre-rendered file per
  * interval into the followed directory, on a fixed schedule that does
  * not wait for the stream. The stream runs the
  * REPL's follow path: `SqlEngine.execute` over `FollowStream.lines`, the
  * aggregate in complete mode through `foreachBatch`, with the REPL's
  * session settings (8 shuffle partitions) on `local[4]`. */
object FollowWorkload {
  val LinesPerFile = 2000
  /** One file every 100 ms: 20 000 lines/s. The interval is a small part
    * of a batch, so a batch's files spread its latency samples evenly
    * instead of in a few coarse steps. */
  val IntervalMs = 100L
  /** Files due in the first seconds are the warm-up backlog and are not
    * sampled. */
  val WarmupS = 4.0
  val ShufflePartitions = 8
  /** A generator later than this behind its schedule voids the run. */
  val MaxLateS = 0.5

  val Statement: String = SqlLogsWorkload.SeqlogDdl + "\nSELECT src, COUNT() AS n FROM seqlog GROUP BY src"

  private final case class Emission(batchId: Long, atNs: Long, total: Long, totals: Map[String, Long])

  private def sleepUntil(ns: Long): Unit =
    while (ns - System.nanoTime() > 0) LockSupport.parkNanos(ns - System.nanoTime())

  private def fileName(i: Int): String = f"f-$i%05d.txt"

  /** Renders the run's files into `staging`; returns the model's count
    * of matching lines per file and per source over all files. */
  private def generate(ctx: Ctx, files: Int, staging: Path): (Array[Long], Map[String, Long]) = {
    val n = files.toLong * LinesPerFile
    val base = ctx.seed * n
    Files.createDirectories(staging)
    for (i <- 0 until files)
      Model.writeLog(staging.resolve(fileName(i)), base + i.toLong * LinesPerFile,
        base + (i + 1).toLong * LinesPerFile)

    val perFile = new Array[Long](files)
    val bySrc = mutable.Map[String, Long]().withDefaultValue(0L)
    var id = base
    while (id < base + n) {
      val m = Model.seq(id)
      if (m.sink == "ingest") {
        perFile(((id - base) / LinesPerFile).toInt) += 1
        bySrc(m.source) += 1
      }
      id += 1
    }
    (perFile, bySrc.toMap)
  }

  private final class Stream(val spark: SparkSession, val query: StreamingQuery,
      val dir: Path, val emissions: ConcurrentLinkedQueue[Emission]) {
    def awaitTotal(total: Long, timeoutS: Double): Boolean = {
      val t0 = Clock.now
      while (!emissions.asScala.exists(_.total >= total) && Clock.secs(t0) < timeoutS) {
        if (query.exception.isDefined) throw query.exception.get
        Thread.sleep(5)
      }
      emissions.asScala.exists(_.total >= total)
    }
  }

  /** Session, statement registration, stream start: the REPL's follow
    * path over a directory that already holds file 0. */
  private def start(ctx: Ctx, k: Int, staging: Path): Stream = {
    val dir = Paths.get(ctx.work, s"follow-in-$k")
    Files.createDirectories(dir)
    Files.copy(staging.resolve(fileName(0)), dir.resolve(fileName(0)))
    val spark = Sessions.create("local[4]", ShufflePartitions, ctx.work)
    val df = new SqlEngine(spark).execute(Statement, FollowStream.lines(spark, dir.toString)).get
    val emissions = new ConcurrentLinkedQueue[Emission]()
    val tr = ctx.tracer
    val q = df.writeStream
      .outputMode("complete")
      .option("checkpointLocation", s"${ctx.work}/follow-ckpt-$k")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        tr.span("follow.emit", parent = 0) {
          val rows = batch.collect()
          val totals = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
          emissions.add(Emission(id, Clock.now, totals.values.sum, totals))
        }
        ()
      }
      .start()
    new Stream(spark, q, dir, emissions)
  }

  /** Per-batch progress figures, recorded by a StreamingQueryListener. */
  private final class Progress extends StreamingQueryListener {
    val batches = new ConcurrentLinkedQueue[Map[String, Double]]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def ms(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue / 1e3).getOrElse(0.0)
      if (p.numInputRows > 0) batches.add(Map(
        "trigger_s" -> ms("triggerExecution"), "plan_s" -> ms("queryPlanning"),
        "getbatch_s" -> ms("getBatch"), "addbatch_s" -> ms("addBatch"),
        "state_mb" -> p.stateOperators.map(_.memoryUsedBytes).sum / 1048576.0,
        "rows" -> p.numInputRows.toDouble))
    }
  }

  /** One followed stream: the warm-up backlog, then a sampled window with
    * the progress listener attached. Returns the per-file latencies, the
    * per-batch progress figures and the load generator's health; the
    * followed files and the checks count in `ops`. */
  def run(ctx: Ctx, ops: Ops): Map[String, Any] = {
    val files = 1 + math.ceil((WarmupS + ctx.seconds) * 1000 / IntervalMs).toInt
    val staging = Paths.get(ctx.work, "follow-staging")
    Log.phase("follow: generate input")
    val (perFile, modelTotals) = generate(ctx, files, staging)
    Log.phase("follow: set-up")
    val cum = perFile.scanLeft(0L)(_ + _).tail
    val stream = start(ctx, 1, staging)
    require(stream.awaitTotal(cum(0), 120), "the stream emitted no first result")

    // the generator: file i (i >= 1) is due at start + (i - 1) * interval
    val intervalNs = IntervalMs * 1000000L
    val startNs = Clock.now + 200000000L
    val due = Array.tabulate(files)(i => startNs + (i - 1) * intervalNs)
    val dropped = new Array[Long](files)
    val gen = new Thread(() => {
      for (i <- 1 until files) {
        sleepUntil(due(i))
        Files.move(staging.resolve(fileName(i)), stream.dir.resolve(fileName(i)),
          StandardCopyOption.ATOMIC_MOVE)
        dropped(i) = System.nanoTime()
      }
    }, "perfbench-loadgen")
    gen.setDaemon(true)
    gen.setPriority(Thread.MAX_PRIORITY)
    val warmEndNs = startNs + (WarmupS * 1e9).toLong
    val endNs = warmEndNs + (ctx.seconds * 1e9).toLong
    gen.start()
    Log.phase("follow: load generator started")

    val progress = new Progress
    val listener = new TaskListener(stream.spark.sparkContext)
    sleepUntil(warmEndNs)
    stream.spark.sparkContext.addSparkListener(listener)
    stream.spark.streams.addListener(progress)
    gen.join()
    stream.awaitTotal(cum(files - 1), 20)
    stream.query.stop()
    // the marker job's end event follows every progress event posted so far
    listener.drain()
    stream.spark.sparkContext.removeSparkListener(listener)
    stream.spark.streams.removeListener(progress)

    // latency of file i: from its due time to the first emission whose
    // totals include it
    val emissions = stream.emissions.asScala.toSeq.sortBy(_.batchId)
    val samples = mutable.ArrayBuffer[Double]()
    var e = 0
    for (i <- 1 until files) {
      ops.attempted += 1
      while (e < emissions.size && emissions(e).total < cum(i)) e += 1
      if (e == emissions.size) ops.failed += 1
      else if (due(i) >= warmEndNs && due(i) < endNs) samples += Clock.secs(due(i), emissions(e).atNs)
    }
    val lateS = (1 until files).map(i => Clock.secs(due(i), dropped(i))).max

    Log.phase("follow: check")
    // correctness: the final emission against the batch query over every
    // dropped file, and against the generating model
    val finalTotals = emissions.lastOption.map(_.totals).getOrElse(Map.empty)
    val batch = new SqlEngine(stream.spark).execute(Statement, stream.spark.read.text(stream.dir.toString))
      .get.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    ops.check("follow.final_equals_batch", finalTotals == batch, s"stream=$finalTotals batch=$batch")
    ops.check("follow.final_equals_model", finalTotals == modelTotals, s"stream=$finalTotals model=$modelTotals")

    val b = progress.batches.asScala.toSeq
    def med(k: String): Double = {
      val v = b.map(_(k)).sorted
      if (v.isEmpty) 0.0 else v(v.size / 2)
    }
    Map("latency_s" -> samples.toSeq,
      "follow" -> Seq("trigger_s", "plan_s", "getbatch_s", "addbatch_s", "state_mb")
        .map(k => k -> med(k)).toMap.+("rows_per_batch" -> med("rows")),
      "loadgen" -> Map("late_s_max" -> lateS, "max_late_s" -> MaxLateS, "behind" -> (lateS > MaxLateS)),
      "config" -> Map("lines_per_file" -> LinesPerFile, "interval_ms" -> IntervalMs,
        "files" -> files, "warmup_s" -> WarmupS, "shuffle_partitions" -> ShufflePartitions,
        "batches" -> emissions.size))
  }
}
