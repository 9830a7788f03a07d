package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.functions.{PackTokens, TokenGenPacked, UnpackTokens}
import graft.pipeline.{LogPipeline, TokenSequences}

/** `pipeline`: the north-star batch job, generate → render → 3-pattern
  * regex bank → broadcast enrich → salted, packed route → noop sink of the
  * routed rows (token payload included), one pass after another. */
object PipelineWorkload {
  /** Sequences per pass: about 2 s per pass on 4 cores. */
  val N = 250000L
  /** Sequences in the set-up pass: small, so set-up measures fixed costs. */
  val SetupN = 20000L
  val InputParts = 16
  val RouteParts = 16
  val Layers: Seq[String] = Seq("gen", "render", "parse", "enrich", "route")
  /** Rounds of a traced run. The layer-sum check compares two medians of
    * the same job, whose single passes differ by up to 10%: with three
    * rounds the check failed on noise alone. */
  val TracedRounds = 5
  /** Untimed full passes, for at least this long: pass walls keep falling
    * for about 8 s of passes as the JIT compiles, and a measured window
    * that starts inside that fall makes runs differ by how fast it went. */
  val WarmupS = 12.0

  private def seqs(spark: SparkSession, base: Long, n: Long): DataFrame =
    TokenSequences.withSequenceColumns(
      spark.range(base, base + n, 1, InputParts).toDF("seq_id"), col("seq_id"))

  private def routed(spark: SparkSession, base: Long, n: Long): DataFrame =
    LogPipeline.parseEnrichRoute(spark, seqs(spark, base, n), RouteParts, packTransport = true)

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def pass(spark: SparkSession, base: Long, n: Long): Unit = noop(routed(spark, base, n))

  /** The job cut after `layer`. Every cut carries the same packed token
    * column as the full pass, so cut differences isolate one layer. */
  private def cut(spark: SparkSession, layer: String, base: Long): DataFrame = {
    val s = seqs(spark, base, N)
    val packed = PackTokens(col("tokens")).as("tokens_in")
    lazy val rendered = LogPipeline.renderLines(s).select(col("line"), packed)
    lazy val parsed = LogPipeline.parse(rendered, carry = Seq("tokens_in"))
    layer match {
      case "gen" => s.select(col("doc_id"), col("n_tok"), col("source"), col("__r3"), packed)
      case "render" => rendered
      case "parse" => parsed
      case "enrich" => LogPipeline.enrich(parsed, LogPipeline.sourceDim(spark))
      case "route" => routed(spark, base, N)
    }
  }

  private def setup(ctx: Ctx, base: Long): Seq[Double] = (1 to ctx.setups).map { k =>
    val t0 = Clock.now
    val spark = Sessions.create("local[4]", RouteParts, ctx.work)
    pass(spark, base, SetupN)
    val s = Clock.secs(t0)
    if (k < ctx.setups) spark.stop()
    s
  }

  def run(ctx: Ctx): Map[String, Any] = {
    val base = ctx.seed * N
    val ops = new Ops
    val jvm = new JvmProbe
    Log.phase("set-up")
    val setupS = setup(ctx, base)
    val spark = SparkSession.active
    Log.phase("warm-up")
    val w0 = Clock.now
    var warm = 0
    while (warm < 2 || Clock.secs(w0) < WarmupS) { pass(spark, base, N); warm += 1 }
    jvm.settle()
    Log.phase("measure")

    def timedPass(): Option[Double] = {
      ops.attempted += 1
      try Some(Clock.timed(pass(spark, base, N))._2)
      catch { case NonFatal(e) => e.printStackTrace(); ops.failed += 1; None }
      finally jvm.sample()
    }

    val walls = mutable.ArrayBuffer[Double]()
    val extra: Map[String, Any] = if (!ctx.trace) {
      val t0 = Clock.now
      while (walls.size < 3 || Clock.secs(t0) < ctx.seconds) walls ++= timedPass()
      Map.empty
    } else traced(ctx, spark, base, ops, jvm, walls)

    Log.phase("check")
    val routedRows = check(spark, base, ops)
    Log.phase("done")
    Map("workload" -> "pipeline", "setup_s" -> setupS, "latency_s" -> walls.toSeq,
      "work_units" -> N * walls.size, "work_seconds" -> walls.sum,
      "config" -> Map("sequences_per_pass" -> N, "input_partitions" -> InputParts,
        "route_partitions" -> RouteParts, "master" -> "local[4]"),
      "heap_after_gc_mb" -> { jvm.sample(); jvm.samples }, "ops" -> ops.toMap,
      "parse" -> Map("lines_in" -> N, "rows_matched" -> routedRows)) ++ extra
  }

  /** Traced run, in rounds so the JIT's progress over the run weighs on
    * every figure alike: an untraced pass (the base for overhead and the
    * layer sum), then each cumulative cut under the listener and spans.
    * The last cut is the full pass. */
  private def traced(ctx: Ctx, spark: SparkSession, base: Long, ops: Ops, jvm: JvmProbe,
      walls: mutable.ArrayBuffer[Double]): Map[String, Any] = {
    val tr = ctx.tracer
    val listener = new TaskListener(spark.sparkContext)
    val gc0 = jvm.gcSeconds
    var tracedS = 0.0
    // every job starts after a full collection, as in untraced runs
    val cuts = (1 to TracedRounds).map { r =>
      ops.attempted += 1
      walls += Clock.timed(pass(spark, base, N))._2
      jvm.sample()
      spark.sparkContext.addSparkListener(listener)
      val c = tr.span("pipeline.round") {
        Layers.map { l =>
          if (l == "route") ops.attempted += 1
          val (_, s) = Clock.timed(tr.span(s"cut.$l")(listener.tagged(s"cut-$l-$r")(noop(cut(spark, l, base)))))
          tracedS += s
          jvm.sample()
          l -> s
        }.toMap
      }
      listener.drain()
      spark.sparkContext.removeSparkListener(listener)
      c
    }
    val gcS = jvm.gcSeconds - gc0
    val route = (1 to TracedRounds).map(r => routeStats(listener.records(s"cut-route-$r")))
    Map("cuts_s" -> Layers.map(l => l -> cuts.map(_(l))).toMap,
      "route" -> route.head.keys.map(k => k -> route.map(_(k))).toMap,
      "stage" -> (TaskListener.stageTotals(listener.records("cut-")) + ("wall_s" -> tracedS)),
      "gc_s" -> gcS)
  }

  /** Route-layer figures of one pass: the exchange's bytes, spill and
    * fetch wait, and the slowest reduce task over the median one. */
  private def routeStats(ts: Seq[TaskRecord]): Map[String, Double] = {
    val reduceStage = ts.groupBy(_.stageId).maxBy(_._2.map(_.shuffleReadB).sum)._2
    val runs = reduceStage.map(_.runS).sorted
    val median = runs(runs.size / 2)
    Map("shuffle_write_mb" -> ts.map(_.shuffleWriteB).sum / 1048576.0,
      "shuffle_read_mb" -> ts.map(_.shuffleReadB).sum / 1048576.0,
      "spill_mb" -> ts.map(_.spillB).sum / 1048576.0,
      "fetch_wait_s" -> ts.map(_.fetchWaitS).sum,
      "max_task_over_median" -> (if (median > 0) runs.last / median else 1.0))
  }

  /** Correctness, outside the timed passes: per-sink counts, n_tok sums
    * and token sums against the plain model, and routed packed tokens
    * against the packed generator on every row. Returns the routed rows. */
  private def check(spark: SparkSession, base: Long, ops: Ops): Long = {
    val r = LogPipeline.parseEnrichRoute(spark, seqs(spark, base, N), RouteParts,
      packTransport = true, unpackAfter = false)
    val expect = TokenGenPacked(substring(col("doc_id"), 5, 24).cast(LongType), col("n_tok"))
    val got = r.select(col("sink"), col("n_tok").cast(LongType).as("n_tok"),
        (col("tokens_in") === expect).as("eq"),
        aggregate(UnpackTokens(col("tokens_in")), lit(0L), (a, x) => a + x).as("tok_sum"))
      .groupBy(col("sink"))
      .agg(count(lit(1)), sum(when(col("eq"), 1L).otherwise(0L)), sum(col("n_tok")), sum(col("tok_sum")))
      .collect().map(row => row.getString(0) -> (row.getLong(1), row.getLong(2), row.getLong(3), row.getLong(4)))
      .toMap

    val want = mutable.Map[String, (Long, Long, Long, Long)]()
    var id = base
    while (id < base + N) {
      val m = Model.seq(id)
      val (n, eq, nt, ts) = want.getOrElse(m.sink, (0L, 0L, 0L, 0L))
      want(m.sink) = (n + 1, eq + 1, nt + m.nTok, ts + Model.tokenSum(id, m.nTok))
      id += 1
    }
    ops.check("pipeline.sink_counts_and_token_sums", got == want.toMap,
      s"got=$got want=${want.toMap}")
    got.values.map(_._1).sum
  }

  /** The 1-core scaling level: the identical pass on `local[1]`. Two
    * warm-up passes at a quarter of the size run first, on every core the
    * JVM may use, so JIT compilation is done; then the harness asks to be
    * pinned to one core (`PERFBENCH_PIN` on stdout, answered on stdin)
    * and times the pass. */
  def level1(ctx: Ctx): Map[String, Any] = {
    val base = ctx.seed * N
    val spark = Sessions.create("local[1]", RouteParts, ctx.work)
    for (_ <- 1 to 2) pass(spark, base, N / 4)
    println("PERFBENCH_PIN")
    System.out.flush()
    require(scala.io.StdIn.readLine() == "pinned", "the harness was not pinned")
    val jvm = new JvmProbe
    val gc0 = jvm.gcSeconds
    val t = Clock.timed(pass(spark, base, N))._2
    Map("workload" -> "pipeline", "level1_s" -> Seq(t), "level1_gc_s" -> (jvm.gcSeconds - gc0))
  }
}
