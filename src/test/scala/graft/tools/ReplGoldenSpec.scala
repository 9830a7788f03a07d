package graft.tools

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.sql.{Expr, SqlEngine, Translator}

/** End-to-end CLI evidence for the sink formats (SURVEY S3/S5-S7, §3.2):
  * scripted `Repl` one-shot runs (`-d DDL -c QUERY --format F FILE`) over
  * a committed ftpd-shaped fixture, compared BYTE-EXACT against committed
  * goldens.
  *
  * Golden provenance: the reference binary cannot be built in this
  * sandbox (no crates cache, zero egress), so the goldens were derived by
  * hand from the reference's formatting code and verified line by line —
  * `OutputPrinter::print` (`src/executor.rs:255-309`: text `name: value`
  * joined by `, `; a lone `input` projection prints the raw line; JSON via
  * serde_json with `preserve_order` so keys keep projection order, null
  * fields emitted; CSV delimiter-joined Display values with a header
  * first) and `Value::Display` (`src/model.rs:335-353`: NULL, `{:.2}`
  * floats, `'single-quoted'` strings, `{e1, e2}` arrays rendered
  * recursively, `%Y-%m-%d %H:%M:%S.%3f` timestamps). The DDL mirrors the
  * reference's own `testdata/ftpd*.txt` definitions; the fixture lines are
  * original (the reference's large corpus is gitignored upstream).
  *
  * Regenerate with `REPL_GOLDEN_REGEN=1 sbt "testOnly *ReplGoldenSpec"`
  * and re-verify the diff against the rules above before committing.
  */
class ReplGoldenSpec extends SparkSpec {

  private val resDir = "src/test/resources/repl_golden"
  private val data = s"$resDir/connections.log"
  private val ddl = s"$resDir/connections.sqlgrep"
  private val regen = sys.env.contains("REPL_GOLDEN_REGEN")

  /** One scripted CLI run; returns captured stdout. */
  private def runCli(argv: String*): String = {
    val bytes = new ByteArrayOutputStream()
    Console.withOut(new PrintStream(bytes, true, "UTF-8")) {
      val code = Repl.run(spark, Repl.parseArgs(argv.toList))
      assert(code === 0, s"non-zero exit for: ${argv.mkString(" ")}")
    }
    new String(bytes.toByteArray, StandardCharsets.UTF_8)
  }

  private def check(goldenName: String, argv: String*): Unit = {
    val got = runCli(argv: _*)
    val path = Paths.get(s"$resDir/$goldenName")
    if (regen) {
      Files.write(path, got.getBytes(StandardCharsets.UTF_8))
      info(s"regenerated $goldenName")
    } else {
      assert(Files.exists(path), s"missing golden $goldenName — run with REPL_GOLDEN_REGEN=1")
      val want = new String(Files.readAllBytes(path), StandardCharsets.UTF_8)
      assert(got === want, s"output differs from golden $goldenName")
    }
  }

  private val select =
    "SELECT ip, hostname, day, second * 0.5 AS half FROM connections WHERE day >= 15;"

  test("text sink golden: name: value pairs, 'quoted' strings, NULL, {:.2} floats") {
    check("select_text.golden", "-d", ddl, "-c", select, "--format", "text", data)
  }

  test("json sink golden: projection-ordered keys, null fields emitted") {
    check("select_json.golden", "-d", ddl, "-c", select, "--format", "json", data)
  }

  test("csv sink golden: header first, ;-delimited Display values") {
    check("select_csv.golden", "-d", ddl, "-c", select, "--format", "csv", data)
  }

  test("timestamp golden: composed month-name timestamps print %Y-%m-%d %H:%M:%S.%3f") {
    check("timestamp_text.golden", "-d", ddl,
      "-c", "SELECT ip, timestamp FROM connections_ts;", "--format", "text", data)
  }

  test("array golden: TEXT[] renders {'e1', 'e2'} with elements quoted") {
    check("array_text.golden", "-d", ddl,
      "-c", "SELECT ip, timestamp FROM connections_arr;", "--format", "text", data)
  }

  test("aggregate golden: key-sorted GROUP BY emission") {
    check("agg_text.golden", "-d", ddl,
      "-c", "SELECT hostname, COUNT() AS count FROM connections GROUP BY hostname;",
      "--format", "text", data)
  }

  test("raw input projection prints the line unquoted (executor.rs:258-260)") {
    check("input_text.golden", "-d", ddl,
      "-c", "SELECT input FROM connections WHERE day = 23;", "--format", "text", data)
  }

  test("--show-run-stats over multi-statement input: the last SELECT's rows and stats, none for DDL") {
    val stats = """Executed query in \d+\.\d\d seconds, ingested \d+\.\d\d MB, processed (\d+) lines\.""".r
    val nLines = Files.readAllLines(Paths.get(data)).size.toString
    def golden(name: String) =
      new String(Files.readAllBytes(Paths.get(s"$resDir/$name")), StandardCharsets.UTF_8)
    /** The run's output without its stats lines, and the line counts they report. */
    def split(out: String): (String, Seq[String]) = {
      val (st, rows) = out.linesIterator.toSeq.partition(stats.matches)
      (rows.map(_ + "\n").mkString, st.map { case stats(n) => n })
    }
    val agg = "SELECT hostname, COUNT() AS count FROM connections GROUP BY hostname;"
    assert(split(runCli("-d", ddl, "--show-run-stats", "-c",
      "SELECT ip FROM connections WHERE day = 23; " + agg, data)) ===
      (golden("agg_text.golden"), Seq(nLines)))
    val ddlText = new String(Files.readAllBytes(Paths.get(ddl)), StandardCharsets.UTF_8)
    assert(split(runCli("--show-run-stats", "-c", ddlText + select, data)) ===
      (golden("select_text.golden"), Seq(nLines)))
    assert(runCli("--show-run-stats", "-c", ddlText, data) === "")
  }

  test("completion offers every function name the Translator accepts") {
    val words = Repl.completionWords(new SqlEngine(spark)).toSet
    assert(Set("REGEX_MATCHES", "CREATE_ARRAY").subsetOf(words))
    val t = new Translator(Map.empty)
    (Expr.aggregateNames ++ Expr.scalarNames).foreach { n =>
      assert(words(n.toUpperCase), s"$n does not complete")
      // called without arguments, an accepted name fails on them, not on the name
      val err = try {
        if (Expr.aggregateNames.contains(n)) t.aggregateColumn(Expr.Call(n, Nil))
        else t.column(Expr.Call(n, Nil))
        None
      } catch { case e: Exception => Option(e.getMessage) }
      assert(!err.exists(_.startsWith("unknown")), s"$n: $err")
    }
  }
}
