package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.sql.SqlEngine

/** `sql_logs`: one client in a closed loop running a fixed sqlgrep SELECT
  * mix over a text log file, as the REPL does it: the file is read with
  * `spark.read.text` and cached for the session. About half the lines
  * (the bulk and audit shapes) fail the single-pattern table. A traced
  * run ends with the follow phase ([[FollowWorkload]]). */
object SqlLogsWorkload {
  /** Lines in the log file (about 20 MB). */
  val N = 250000L
  val ShufflePartitions = 8
  /** Untimed mixes before measuring, for this long: mix walls keep falling
    * for about 12 s of queries as the JIT compiles, and a measured window
    * that starts inside that fall makes runs differ by how fast it went. */
  val WarmupS = 14.0

  /** The log table: only the ingest line shape matches. */
  val SeqlogDdl: String =
    """CREATE TABLE seqlog(
      |    line = 'ingest\\[(\\d+)\\]: sequence (doc-\\d+) from (\\S+) n_tok=(\\d+)',
      |    line[2] => doc TEXT,
      |    line[3] => src TEXT,
      |    line[4] => n INT
      |);""".stripMargin

  val Ddl: String = SeqlogDdl + "\n" +
    """CREATE TABLE srcdim(
      |    line = 'dim (\\S+) region (\\S+) tier (\\d+)',
      |    line[1] => sname TEXT,
      |    line[2] => region TEXT,
      |    line[3] => tier INT
      |);""".stripMargin

  final case class Query(name: String, sql: String, join: Boolean = false)

  val Mix: Seq[Query] = Seq(
    Query("filter", "SELECT doc, src, n FROM seqlog WHERE n >= 480 AND src != 'web'"),
    Query("group_agg", "SELECT src, COUNT() AS n_rows, SUM(n) AS sum_tok, AVG(n) AS avg_tok, " +
      "MAX(n) * 2 AS max2 FROM seqlog GROUP BY src"),
    Query("having", "SELECT src, COUNT() AS n_rows FROM seqlog WHERE n < 256 " +
      "GROUP BY src HAVING COUNT() > 500"),
    Query("distinct_having", "SELECT DISTINCT COUNT() / 1000 AS bucket FROM seqlog " +
      "GROUP BY src HAVING COUNT() > 10"),
    Query("limit", "SELECT doc, n FROM seqlog WHERE src = 'books' LIMIT 20"),
    Query("join", "SELECT seqlog.src AS src, srcdim.region AS region, COUNT() AS n_rows, " +
      "SUM(seqlog.n) AS sum_n FROM seqlog INNER JOIN srcdim ON seqlog.src = srcdim.sname " +
      "WHERE srcdim.tier >= 4 GROUP BY seqlog.src, srcdim.region", join = true))

  /** Dimension log lines: region and tier derived from the source name. */
  def dimLine(name: String): String = s"dim $name region r${name.length % 3} tier ${name.length}"

  private final class Session(val spark: SparkSession, val engine: SqlEngine,
      val lines: DataFrame, val dim: DataFrame) {
    def query(q: Query): DataFrame =
      engine.query(q.sql, lines, if (q.join) Some(dim) else None)
  }

  private def open(ctx: Ctx, logFile: String, dimFile: String): Session = {
    val spark = Sessions.create("local[4]", ShufflePartitions, ctx.work)
    val engine = new SqlEngine(spark)
    engine.addTables(Ddl)
    new Session(spark, engine, spark.read.text(logFile).cache(), spark.read.text(dimFile))
  }

  /** Writes the log file and the dimension log. */
  private def generate(base: Long, logFile: String, dimFile: String): Unit = {
    Model.writeLog(Paths.get(logFile), base, base + N)
    Files.write(Paths.get(dimFile), Model.sources.map(dimLine).mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  private def rowString(r: Row): String =
    r.toSeq.map(v => if (v == null) "NULL" else v.toString).mkString("|")

  def run(ctx: Ctx): Map[String, Any] = {
    val base = ctx.seed * N
    val logFile = s"${ctx.work}/seq.log"
    val dimFile = s"${ctx.work}/dim.log"
    Log.phase("generate input")
    generate(base, logFile, dimFile)
    Log.phase("set-up")
    val oracle = new SqlOracle(base, N)
    val ops = new Ops
    val jvm = new JvmProbe

    // set-up: session, DDL registration and the first cold result
    var sess: Session = null
    val setupS = (1 to ctx.setups).map { k =>
      if (sess != null) { sess.lines.unpersist(blocking = true); sess.spark.stop() }
      val t0 = Clock.now
      sess = open(ctx, logFile, dimFile)
      sess.query(Mix.head).collect()
      Clock.secs(t0)
    }

    val tr = ctx.tracer
    val latencies = mutable.ArrayBuffer[Double]()
    val mixWalls = mutable.ArrayBuffer[(Boolean, Double)]()
    val layer = mutable.Map[String, Double]().withDefaultValue(0.0)

    /** One query of the mix, checked after its latency is taken. */
    def runQuery(q: Query, traced: Boolean): Unit = {
      ops.attempted += 1
      try {
        val t0 = Clock.now
        val rows =
          if (!traced) sess.query(q).collect()
          else tr.span(s"sql.${q.name}") {
            val (df, fe) = Clock.timed(tr.span("sql.frontend")(sess.query(q)))
            val (_, pl) = Clock.timed(tr.span("sql.plan")(df.queryExecution.executedPlan))
            val (rs, ex) = Clock.timed(tr.span("sql.exec")(df.collect()))
            layer("frontend_s") += fe; layer("plan_s") += pl; layer("exec_s") += ex
            rs
          }
        latencies += Clock.secs(t0)
        val got = rows.map(rowString).toSeq
        if (!oracle.accepts(q.name, got)) {
          ops.wrong += 1
          System.err.println(s"sql_logs: wrong result for ${q.name}: ${got.take(5)}")
        }
      } catch { case NonFatal(e) => e.printStackTrace(); ops.failed += 1 }
    }

    def mix(traced: Boolean): Unit = {
      val t0 = Clock.now
      Mix.foreach(q => runQuery(q, traced))
      mixWalls += traced -> Clock.secs(t0)
      jvm.sample()
    }

    // untimed mixes: the measured loop starts with warm caches and JIT
    Log.phase("warm-up")
    val w0 = Clock.now
    while (Clock.secs(w0) < WarmupS) Mix.foreach(q => sess.query(q).collect())
    jvm.settle()
    Log.phase("measure")
    val t0 = Clock.now
    val extra: Map[String, Any] = if (!ctx.trace) {
      while (mixWalls.size < 2 || Clock.secs(t0) < ctx.seconds) mix(traced = false)
      Map.empty
    } else {
      // untraced and traced mixes alternate, so the JIT's progress over the
      // run weighs on both alike; the listener is attached to traced mixes
      val listener = new TaskListener(sess.spark.sparkContext)
      val gc0 = jvm.gcSeconds
      var tracedS = 0.0
      var m = 0
      while (m < 4 || Clock.secs(t0) < ctx.seconds) {
        if (m % 2 == 0) mix(traced = false)
        else {
          sess.spark.sparkContext.addSparkListener(listener)
          listener.tagged(s"mix-$m")(mix(traced = true))
          tracedS += mixWalls.last._2
          listener.drain()
          sess.spark.sparkContext.removeSparkListener(listener)
        }
        m += 1
      }
      val gcS = jvm.gcSeconds - gc0
      val matched = sess.engine.query("SELECT COUNT() AS n FROM seqlog", sess.lines).collect().head.getLong(0)
      ops.check("sql_logs.rows_matched", matched == oracle.matched, s"got=$matched want=${oracle.matched}")
      val tasks = listener.records("mix-")
      // post-shuffle stages: those whose tasks read shuffle data
      val aggTask = tasks.groupBy(_.stageId).values
        .filter(_.exists(_.shuffleReadRecords > 0)).flatten.map(_.runS).sum
      val tracedQueries = (mixWalls.count(_._1) * Mix.size).toDouble
      Map("traced_queries" -> tracedQueries,
        "mix_wall_s" -> Map("untraced" -> mixWalls.filter(!_._1).map(_._2),
          "traced" -> mixWalls.filter(_._1).map(_._2)),
        "sql" -> layer.map { case (k, v) => k -> v / tracedQueries }.toMap,
        "agg" -> Map("task_s" -> aggTask / tracedQueries),
        "parse" -> Map("lines_in" -> N, "rows_matched" -> matched),
        "stage" -> (TaskListener.stageTotals(tasks) + ("wall_s" -> tracedS)),
        "gc_s" -> gcS)
    }

    // the follow phase, traced runs only: the REPL's `tail -f` path on a
    // fresh session, for the follow layers' figures
    val follow: Map[String, Any] = if (!ctx.trace) Map.empty else {
      sess.lines.unpersist(blocking = true)
      sess.spark.stop()
      val f = FollowWorkload.run(ctx, ops)
      Map("follow" -> f("follow"), "loadgen" -> f("loadgen"), "follow_latency_s" -> f("latency_s"),
        "follow_config" -> f("config"))
    }

    val linesScanned = Mix.map(q => N + (if (q.join) Model.sources.size else 0)).sum
    Map("workload" -> "sql_logs", "setup_s" -> setupS, "latency_s" -> latencies.toSeq,
      "work_units" -> linesScanned * mixWalls.size, "work_seconds" -> latencies.sum,
      "config" -> Map("lines" -> N, "queries_per_mix" -> Mix.size, "mixes" -> mixWalls.size,
        "shuffle_partitions" -> ShufflePartitions, "master" -> "local[4]"),
      "heap_after_gc_mb" -> { jvm.sample(); jvm.samples }, "ops" -> ops.toMap) ++ extra ++ follow
  }
}

/** Expected results of the SQL mix, computed from the generating model:
  * only ingest-shaped lines match `seqlog`. */
final class SqlOracle(base: Long, n: Long) {
  private val filter = mutable.ArrayBuffer[String]()
  private val books = mutable.HashSet[String]()
  private val bySrc = mutable.Map[String, (Long, Long, Int)]() // count, sum, max
  private val small = mutable.Map[String, Long]().withDefaultValue(0L) // count where n < 256
  var matched = 0L

  locally {
    var id = base
    while (id < base + n) {
      val m = Model.seq(id)
      if (m.sink == "ingest") {
        matched += 1
        if (m.nTok >= 480 && m.source != "web") filter += s"${m.doc}|${m.source}|${m.nTok}"
        if (m.source == "books") books += s"${m.doc}|${m.nTok}"
        val (c, s, mx) = bySrc.getOrElse(m.source, (0L, 0L, Int.MinValue))
        bySrc(m.source) = (c + 1, s + m.nTok, math.max(mx, m.nTok))
        if (m.nTok < 256) small(m.source) += 1
      }
      id += 1
    }
  }

  private val expected: Map[String, Seq[String]] = Map(
    "filter" -> filter.toSeq,
    "group_agg" -> bySrc.toSeq.map { case (src, (c, s, mx)) => s"$src|$c|$s|${s / c}|${mx * 2}" },
    "having" -> small.toSeq.collect { case (src, c) if c > 500 => s"$src|$c" },
    "distinct_having" -> bySrc.values.collect { case (c, _, _) if c > 10 => (c / 1000).toString }
      .toSeq.distinct,
    "join" -> bySrc.toSeq.collect { case (src, (c, s, _)) if src.length >= 4 =>
      s"$src|r${src.length % 3}|$c|$s" }
  ).map { case (k, v) => k -> v.sorted }

  /** True when `got` is a correct result of query `name`. A LIMIT result
    * is correct when it holds the right number of distinct qualifying
    * rows. */
  def accepts(name: String, got: Seq[String]): Boolean = name match {
    case "limit" => got.size == math.min(20, books.size) && got.distinct.size == got.size &&
      got.forall(books.contains)
    case other => got.sorted == expected(other)
  }
}
