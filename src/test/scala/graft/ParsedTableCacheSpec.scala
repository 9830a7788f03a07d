package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

import graft.functions.RegexCaptures
import graft.sql.{RunStats, SqlEngine}
import graft.streaming.FollowStream

/** A `sql_logs`-shaped fixture: the log and dimension tables, their
  * lines and the grouped SELECTs of the benchmark's query mix. */
object ParsedTableCacheSpec {
  val Ddl =
    """CREATE TABLE seqlog(
      |    line = 'ingest\\[(\\d+)\\]: sequence (doc-\\d+) from (\\S+) n_tok=(\\d+)',
      |    line[2] => doc TEXT,
      |    line[3] => src TEXT,
      |    line[4] => n INT
      |);
      |CREATE TABLE srcdim(
      |    line = 'dim (\\S+) region (\\S+) tier (\\d+)',
      |    line[1] => sname TEXT,
      |    line[2] => region TEXT,
      |    line[3] => tier INT
      |);""".stripMargin

  val sources = Seq("web", "books", "news", "forum", "code")

  /** Ingest lines that match `seqlog`, interleaved with lines that do not. */
  val logLines: Seq[String] = (0 until 3000).map { i =>
    if (i % 3 == 2) s"2026-01-01 bulk[$i]: batch of ${i % 17} sequences"
    else s"2026-01-01 ingest[$i]: sequence doc-${i * 7 % 1000} from ${sources(i % 5)} n_tok=${i * 37 % 512}"
  }

  val dimLines: Seq[String] = sources.map(s => s"dim $s region r${s.length % 3} tier ${s.length}")

  /** The grouped SELECTs, by their `sql_logs` names. */
  val Grouped: Map[String, String] = Map(
    "group_agg" -> ("SELECT src, COUNT() AS n_rows, SUM(n) AS sum_tok, AVG(n) AS avg_tok, " +
      "MAX(n) * 2 AS max2 FROM seqlog GROUP BY src"),
    "having" -> "SELECT src, COUNT() AS n_rows FROM seqlog WHERE n < 256 GROUP BY src HAVING COUNT() > 100",
    "distinct_having" -> ("SELECT DISTINCT COUNT() / 100 AS bucket FROM seqlog GROUP BY src " +
      "HAVING COUNT() > 10"),
    "join" -> ("SELECT seqlog.src AS src, srcdim.region AS region, COUNT() AS n_rows, " +
      "SUM(seqlog.n) AS sum_n FROM seqlog INNER JOIN srcdim ON seqlog.src = srcdim.sname " +
      "WHERE srcdim.tier >= 4 GROUP BY seqlog.src, srcdim.region"))
}

/** `SqlEngine` materializes a table's parse from the second query over
  * the same cached input on. These cases pin that a materialized query
  * returns exactly what the extraction returns, that it is released when
  * its input or table changes, and that every other input keeps running
  * the extraction. */
class ParsedTableCacheSpec extends SparkSpec {
  import ParsedTableCacheSpec._
  import spark.implicits._

  /** The log as a fresh, uncached DataFrame of three ordered partitions. */
  private def logDf(): DataFrame = spark.sparkContext.parallelize(logLines, 3).toDF("value")

  /** The dimension log, uncached (an RDD, so the optimizer cannot fold
    * its extraction away as it would over a local relation). */
  private def dim: DataFrame = spark.sparkContext.parallelize(dimLines, 1).toDF("value")

  /** (query, whether its row order is defined) */
  private val queries: Seq[(String, Boolean)] = Seq(
    "SELECT doc, src, n FROM seqlog WHERE n >= 300 AND src != 'web'" -> true,
    Grouped("group_agg") -> true,
    Grouped("having") -> true,
    // no group key is projected, so nothing orders the distinct buckets
    Grouped("distinct_having") -> false,
    "SELECT doc, n FROM seqlog WHERE src = 'books' LIMIT 20" -> true,
    Grouped("join") -> true,
    "SELECT * FROM seqlog" -> true)

  private def engine(): SqlEngine = { val e = new SqlEngine(spark); e.addTables(Ddl); e }

  private def run(e: SqlEngine, sql: String, lines: DataFrame): DataFrame =
    e.query(sql, lines, if (sql.contains(" JOIN ")) Some(dim) else None)

  /** Regex extractions in the plan outside any cached relation: one per
    * parsed side that runs the extraction itself. */
  private def extractions(df: DataFrame): Int = {
    val plan = if (df.isStreaming) df.queryExecution.analyzed else df.queryExecution.optimizedPlan
    plan.collect { case p => p.expressions.map(_.collect { case r: RegexCaptures => r }.size).sum }.sum
  }

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("queries 2 and later over a cached input scan the parse and return the first query's rows") {
    val lines = logDf().cache()
    try queries.foreach { case (sql, ordered) =>
      val e = engine()
      val joinSides = if (sql.contains(" JOIN ")) 1 else 0
      val first = run(e, sql, lines)
      assert(extractions(first) === joinSides + 1, sql)
      val expected = first.collect().toSeq
      assert(expected.nonEmpty, sql)
      (2 to 3).foreach { k =>
        val df = run(e, sql, lines)
        assert(extractions(df) === joinSides, s"query $k did not scan the parse: $sql")
        val got = df.collect().toSeq
        if (ordered) assert(got === expected, sql)
        else assert(got.map(_.toString).sorted === expected.map(_.toString).sorted, sql)
      }
      e.addTables(Ddl) // releases the parse
    } finally lines.unpersist(blocking = true)
  }

  test("non-aggregate rows stay in file order after materialization") {
    val lines = logDf().cache()
    try {
      val e = engine()
      val sql = "SELECT doc, n FROM seqlog WHERE n > 400"
      run(e, sql, lines).collect()
      val got = run(e, sql, lines).collect().map(r => s"${r.getString(0)}|${r.getLong(1)}").toSeq
      val pattern = "ingest\\[\\d+\\]: sequence (doc-\\d+) from \\S+ n_tok=(\\d+)".r.unanchored
      val want = logLines.collect { case pattern(doc, n) if n.toInt > 400 => s"$doc|$n" }
      assert(got === want)
      e.addTables(Ddl)
    } finally lines.unpersist(blocking = true)
  }

  test("SELECT input still works after materialization, over the extraction") {
    val lines = logDf().cache()
    try {
      val e = engine()
      val sql = "SELECT doc FROM seqlog WHERE n > 500"
      run(e, sql, lines).collect()
      assert(extractions(run(e, sql, lines)) === 0)
      val withInput = run(e, "SELECT input, n FROM seqlog WHERE n > 500", lines)
      assert(extractions(withInput) === 1)
      val want = logLines.filter(l => l.contains("ingest[") && l.split("n_tok=")(1).toInt > 500)
      assert(withInput.collect().map(_.getString(0)).toSeq === want)
      // the materialized parse is kept for the queries that do not read it
      assert(extractions(run(e, sql, lines)) === 0)
      e.addTables(Ddl)
    } finally lines.unpersist(blocking = true)
  }

  test("unpersisting the input or redefining the table releases the parse") {
    val sql = "SELECT src, COUNT() AS n_rows, SUM(n) AS s FROM seqlog GROUP BY src"
    val want = run(engine(), sql, logDf()).collect().toSeq
    val lines = logDf().cache()
    val e = engine()
    /** Runs the query twice, the first time over the extraction, and
      * returns the RDDs the second one persisted for its parse. */
    def materialize(): Set[Int] = {
      val first = run(e, sql, lines)
      assert(extractions(first) === 1)
      assert(first.collect().toSeq === want)
      val before = persisted
      val df = run(e, sql, lines)
      assert(extractions(df) === 0)
      assert(df.collect().toSeq === want)
      val parse = persisted -- before
      assert(parse.nonEmpty)
      parse
    }

    val parse1 = materialize()
    lines.unpersist(blocking = true)
    val afterUnpersist = run(e, sql, lines)
    assert(extractions(afterUnpersist) === 1)
    assert(afterUnpersist.collect().toSeq === want)
    assert((persisted intersect parse1).isEmpty, "parse still persisted after its input was unpersisted")

    lines.cache()
    try {
      val parse2 = materialize()
      e.addTables(Ddl)
      assert((persisted intersect parse2).isEmpty, "parse still persisted after addTables redefined it")
      val parse3 = materialize()
      assert(e.execute(Ddl, lines).isEmpty)
      assert((persisted intersect parse3).isEmpty, "parse still persisted after CREATE TABLE redefined it")
    } finally lines.unpersist(blocking = true)
  }

  test("a stats SELECT scans the materialized parse and leaves it persisted") {
    val lines = logDf().cache()
    try {
      val e = engine()
      val sql = "SELECT doc FROM seqlog WHERE n > 500"
      run(e, sql, lines).collect()
      val rows = run(e, sql, lines).collect().length // materializes the parse
      val before = persisted
      val withStats = e.execute(sql + ";", lines, stats = true).get
      assert(extractions(withStats) === 0)
      assert(withStats.collect().length === rows)
      assert(persisted === before, "the stats query changed the persisted RDDs")
      // over the parse, the counts are those of the lines it was built from
      val st = RunStats.of(withStats.queryExecution)
      assert(st.linesProcessed === logLines.size)
      assert(st.bytesProcessed === logLines.map(_.getBytes(StandardCharsets.UTF_8).length).sum)
      val after = run(e, sql, lines)
      assert(extractions(after) === 0, "the query after the stats query did not scan the parse")
      assert(after.collect().length === rows)
      e.addTables(Ddl)
    } finally lines.unpersist(blocking = true)
  }

  test("uncached and followed inputs never materialize") {
    val sql = "SELECT src, COUNT() AS n_rows FROM seqlog GROUP BY src"
    val e = engine()
    val uncached = logDf()
    val before = persisted
    (1 to 3).foreach { _ =>
      val df = run(e, sql, uncached)
      assert(extractions(df) === 1)
      df.collect()
    }
    assert(persisted === before)

    withTempDir("parsed-follow") { dir =>
      Files.write(dir.resolve("a.log"), logLines.take(30).asJava, StandardCharsets.UTF_8)
      val stream = FollowStream.lines(spark, dir.toString)
      (1 to 3).foreach { _ =>
        val df = run(e, sql, stream)
        assert(df.isStreaming && extractions(df) === 1)
      }
      assert(persisted === before)
    }
  }
}
