package graft.tools

import java.io.{BufferedReader, InputStreamReader}
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution

import graft.core._
import graft.sources.Sinks
import graft.sql.{Expr, RunStats, SqlEngine}
import graft.streaming.FollowStream

/** The reference CLI re-expressed over [[SqlEngine]] — same surface as
  * `sqlgrep` (`src/main.rs:18-41` StructOpt):
  *
  * {{{
  * Repl [flags] [input files...]
  *   -d FILE | --data-file FILE   table-definition (DDL) file
  *   -c QUERY | --command QUERY   execute the query and exit
  *   --command-file FILE          execute the query in FILE and exit
  *   --stdin                      input data is given on stdin (requires -c)
  *   --format text|json|csv       output format (default text)
  *   --show-run-stats             print seconds / lines / bytes per query
  *   -f | --follow                follow the input path as a stream
  *   --head                       (follow) process existing data too
  * }}}
  *
  * Without `-c`/`--command-file` this is the interactive prompt loop
  * (reference `src/main.rs:92-140`): CREATE TABLE / SELECT statements
  * (multi-statement input works), `exit` to quit, `\d [table]`
  * introspection printing Column | Type | Nullable | Default value like
  * the reference's TablePrinter (`src/helpers.rs:4-80`).
  *
  * Divergences (documented):
  *  - multiple positional input files are unioned (the reference reads
  *    them sequentially into one stream — same rows, same results);
  *  - follow mode uses Spark's file-stream source, which picks up files
  *    appearing under the path and always processes data already present
  *    (i.e. `--head` semantics; the flag is accepted for compatibility).
  *    The reference instead seeks to EOF of one file unless `--head`
  *    (`src/executor.rs:183-199`).
  */
object Repl {

  /** Console print of a single-string-column sink frame: one partition
    * resident on the driver at a time (the iterator `toLocalIterator`
    * uses), not a full `collect()` — an unbounded SELECT streams like the
    * reference's row-by-row printer instead of materializing the entire
    * result in driver memory (round-5 verdict finding #2). Output order
    * is identical to collect (partition order, rows in order within each
    * partition; ReplStreamSpec pins the parity).
    *
    * The rows are drained inside the query's own SQL execution, so it
    * ends after the last row: `toLocalIterator` ends it when it hands
    * out the iterator, before any row is computed, and the execution's
    * end event (the UI, `Observation` listeners) would then report a
    * query that read nothing. */
  private[graft] def printRows(rendered: DataFrame): Unit = {
    val qe = rendered.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("printRows")) {
      val it = qe.executedPlan.executeToIterator()
      while (it.hasNext) println(it.next().getUTF8String(0))
    }
  }

  private[tools] final case class Args(
      inputs: Vector[String] = Vector.empty,
      ddlFile: Option[String] = None,
      command: Option[String] = None,
      commandFile: Option[String] = None,
      stdin: Boolean = false,
      format: String = "text",
      showRunStats: Boolean = false,
      follow: Boolean = false,
      head: Boolean = false)

  private[tools] def parseArgs(argv: List[String], acc: Args = Args()): Args = argv match {
    case Nil => acc
    case ("-d" | "--data-file") :: v :: rest => parseArgs(rest, acc.copy(ddlFile = Some(v)))
    case ("-c" | "--command") :: v :: rest => parseArgs(rest, acc.copy(command = Some(v)))
    case "--command-file" :: v :: rest => parseArgs(rest, acc.copy(commandFile = Some(v)))
    case "--stdin" :: rest => parseArgs(rest, acc.copy(stdin = true))
    case "--format" :: v :: rest =>
      require(Set("text", "json", "csv")(v), s"unsupported format: $v")
      parseArgs(rest, acc.copy(format = v))
    case "--show-run-stats" :: rest => parseArgs(rest, acc.copy(showRunStats = true))
    case ("-f" | "--follow") :: rest => parseArgs(rest, acc.copy(follow = true))
    case "--head" :: rest => parseArgs(rest, acc.copy(head = true))
    case f :: rest if !f.startsWith("-") => parseArgs(rest, acc.copy(inputs = acc.inputs :+ f))
    case other :: _ => throw new IllegalArgumentException(s"unknown flag: $other")
  }

  private def typeName(t: ValueType): String = t match {
    case ValueType.IntT => "int"
    case ValueType.RealT => "real"
    case ValueType.BoolT => "boolean"
    case ValueType.TextT => "text"
    case ValueType.TimestampT => "timestamp"
    case ValueType.IntervalT => "interval"
    case ValueType.ArrayT(e) => typeName(e) + "[]"
  }

  /** Statement-completeness rule (reference InputValidator,
    * `src/main.rs:318-331`): `exit` and `\d` are complete as-is; anything
    * else continues onto the next line until a terminating `;`. */
  private[tools] def isComplete(input: String): Boolean = {
    val t = input.trim
    t == "exit" || t.startsWith("\\d") || t.endsWith(";")
  }

  /** Completion word bank (reference `create_completion_words`,
    * `src/main.rs:304-316` + `src/parsing/mod.rs:54-58`): SQL keywords,
    * function names, and the LIVE table/column names — recomputed per
    * completion so CREATE TABLE statements typed in-session complete. */
  private[tools] def completionWords(eng: SqlEngine): Seq[String] = {
    val keywords = Seq("SELECT", "FROM", "WHERE", "GROUP", "BY", "HAVING",
      "CREATE", "TABLE", "AND", "OR", "NOT", "IS", "IN", "AS", "CASE", "WHEN",
      "THEN", "ELSE", "END", "EXTRACT", "INNER", "OUTER", "JOIN", "ON",
      "LIMIT", "DISTINCT", "DEFAULT")
    val functions = (Expr.aggregateNames ++ Expr.scalarNames).map(_.toUpperCase)
    keywords ++ functions ++ eng.tableNames ++
      eng.tableNames.flatMap(n => eng.tableDef(n).columns.map(_.name))
  }

  /** Line-buffering REPL driver, shared by the JLine and plain paths
    * (and unit-testable without a terminal): accumulates lines until
    * [[isComplete]], then dispatches the whole statement. EOF flushes a
    * pending buffer. `dispatch` returns true to stop (exit). */
  private[tools] def processLines(lines: Iterator[String],
      dispatch: String => Boolean): Unit = {
    val buf = new StringBuilder
    var done = false
    while (!done && lines.hasNext) {
      val line = lines.next()
      val candidate = if (buf.isEmpty) line else s"$buf\n$line"
      if (candidate.trim.isEmpty) ()
      else if (isComplete(candidate)) {
        buf.setLength(0)
        done = dispatch(candidate.trim)
      } else {
        buf.setLength(0)
        buf.append(candidate)
      }
    }
    if (!done && buf.nonEmpty) dispatch(buf.toString.trim)
  }

  /** Aligned-columns table (reference TablePrinter, src/helpers.rs:4-80). */
  private def printTable(header: Seq[String], rows: Seq[Seq[String]]): Unit = {
    val all = header +: rows
    val widths = header.indices.map(i => all.map(_(i).length).max)
    def fmt(r: Seq[String]) =
      r.zip(widths).map { case (c, w) => c.padTo(w, ' ') }.mkString(" | ")
    println(fmt(header))
    println(widths.map("-" * _).mkString("-+-"))
    rows.foreach(r => println(fmt(r)))
  }

  private def describe(eng: SqlEngine, parts: Array[String]): Unit =
    parts.lift(1) match {
      case Some(name) =>
        try {
          val td = eng.tableDef(name)
          printTable(Seq("Column", "Type", "Nullable", "Default value"),
            td.columns.map(c => Seq(c.name, typeName(c.tpe),
              (!c.notNull).toString, c.default.map(_.toString).getOrElse("NULL"))))
        } catch {
          case _: IllegalArgumentException =>
            println(s"'$name' is not a defined table.")
        }
      case None =>
        printTable(Seq("Table"), eng.tableNames.map(Seq(_)))
    }

  private def sink(df: DataFrame, format: String): DataFrame = format match {
    case "json" => Sinks.json(df)
    case "csv" => Sinks.csv(df)
    case _ => Sinks.text(df)
  }

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv.toList)
    if (args.inputs.isEmpty && !args.stdin) {
      System.err.println("The input filename must be defined.")
      sys.exit(2)
    }
    if (args.stdin && args.command.isEmpty && args.commandFile.isEmpty) {
      System.err.println("--stdin requires -c/--command-file (stdin carries the data).")
      sys.exit(2)
    }

    val spark = graft.GraftSession.builder(
      sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[8]"), shufflePartitions = 8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val code = run(spark, args)
    spark.stop()
    if (code != 0) sys.exit(code)
  }

  /** Execution core, split from process/session lifecycle (no
    * `sys.exit`, no `spark.stop`) so a scripted one-shot run is
    * drivable in-JVM against a shared test session — ReplGoldenSpec
    * captures `Console.out` across this call and compares byte-exact
    * against committed goldens. Returns the process exit code. */
  private[tools] def run(spark: SparkSession, args: Args): Int = {
    val oneShot = args.command.orElse(
      args.commandFile.map(f => new String(Files.readAllBytes(Paths.get(f)))))
    import spark.implicits._

    val eng = new SqlEngine(spark)
    args.ddlFile.foreach { ddlFile =>
      eng.addTables(new String(Files.readAllBytes(Paths.get(ddlFile))))
    }

    // input lines: stdin is read on the driver (a single unseekable
    // stream has no distributed read anyway — reference opens
    // /dev/stdin the same way, src/main.rs:172); files go through the
    // distributed text source, several positional files unioned.
    lazy val lines: DataFrame =
      if (args.stdin) {
        val buf = scala.io.Source.stdin.getLines().toSeq
        spark.createDataset(buf).toDF("value")
      } else if (args.follow) {
        FollowStream.lines(spark, args.inputs.head)
      } else {
        spark.read.text(args.inputs: _*).cache()
      }

    def runStatements(input: String): Unit = {
      if (args.follow) runFollow(input)
      else {
        val t0 = System.nanoTime()
        eng.execute(input, lines, stats = args.showRunStats).foreach { df =>
          val rendered = sink(df, args.format)
          printRows(rendered)
          if (args.showRunStats) {
            val s = RunStats.of(rendered.queryExecution)
            println(f"Executed query in ${(System.nanoTime() - t0) / 1e9}%.2f seconds, ingested " +
              f"${s.bytesProcessed / 1024.0 / 1024.0}%.2f MB, processed ${s.linesProcessed} lines.")
          }
        }
      }
    }

    /** Follow mode: run the statement over the file stream; aggregates
      * re-emit the full result per trigger (reference reprint behavior),
      * non-aggregates append. Each micro-batch prints through the
      * selected sink. */
    def runFollow(input: String): Unit = {
      val df = eng.execute(input, lines).getOrElse(return ())
      val mode = if (df.isStreaming && df.queryExecution.analyzed.collectFirst {
          case _: org.apache.spark.sql.catalyst.plans.logical.Aggregate => ()
        }.isDefined) "complete" else "append"
      val q = df.writeStream
        .outputMode(mode)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          printRows(sink(batch, args.format))
        }
        .start()
      q.awaitTermination()
    }

    oneShot match {
      case Some(cmd) =>
        try runStatements(cmd)
        catch { case e: Exception => println(s"error: ${e.getMessage}"); return 1 }
      case None =>
        // Ctrl-C (reference ctrlc handler, src/main.rs:77-85): exit when
        // idle, cancel the RUNNING query otherwise — the REPL survives
        // an interrupted long query instead of dying with it.
        val running = new java.util.concurrent.atomic.AtomicBoolean(false)
        try {
          sun.misc.Signal.handle(new sun.misc.Signal("INT"),
            (_: sun.misc.Signal) => {
              // interruptOnCancel (set with the job group below) also
              // interrupts the task threads, freeing their slots now
              if (running.compareAndSet(true, false))
                spark.sparkContext.cancelJobGroup("graft-repl")
              else sys.exit(0)
            })
        } catch { case _: Throwable => () } // hardened JVMs may refuse handlers

        def dispatch(stmt: String): Boolean = {
          if (stmt == "exit") true
          else if (stmt.startsWith("\\d")) { describe(eng, stmt.split("\\s+")); false }
          else {
            running.set(true)
            spark.sparkContext.setJobGroup("graft-repl", stmt.take(80),
              interruptOnCancel = true)
            try runStatements(stmt)
            catch { case e: Exception => println(s"error: ${e.getMessage}") }
            finally { spark.sparkContext.clearJobGroup(); running.set(false) }
            false
          }
        }

        def plainLoop(): Unit = {
          // non-tty (piped/scripted): same buffering semantics, plain IO
          val in = new BufferedReader(new InputStreamReader(System.in))
          processLines(Iterator.continually {
            print("> "); Console.flush(); in.readLine()
          }.takeWhile(_ != null), dispatch)
        }
        if (System.console() != null) {
          // a restricted terminal may refuse JLine's raw mode — degrade
          // to the plain loop rather than dying before the first prompt
          try jlineLoop(eng, dispatch)
          catch { case _: UnsatisfiedLinkError | _: java.io.IOException | _: IllegalStateException =>
            plainLoop()
          }
        } else plainLoop()
    }
    0
  }

  /** Interactive terminal loop: JLine line editing + history, tab
    * completion from [[completionWords]], and multi-line statements via
    * a parser that reports the line incomplete until [[isComplete]]
    * (the reference's rustyline Validator, `src/main.rs:318-331`).
    * Ctrl-C at the prompt exits (reference: not-running → exit); Ctrl-C
    * during execution hits the signal handler installed in [[main]]. */
  private def jlineLoop(eng: SqlEngine, dispatch: String => Boolean): Unit = {
    import org.jline.reader.{Candidate, EOFError, EndOfFileException, LineReader,
      LineReaderBuilder, ParsedLine, Parser, UserInterruptException}
    import org.jline.reader.impl.DefaultParser
    import org.jline.terminal.TerminalBuilder

    val terminal = TerminalBuilder.builder().system(true).build()
    val parser = new DefaultParser {
      override def parse(line: String, cursor: Int,
          context: Parser.ParseContext): ParsedLine = {
        if (context == Parser.ParseContext.ACCEPT_LINE && !isComplete(line))
          throw new EOFError(-1, cursor, "missing statement terminator ';'")
        super.parse(line, cursor, context)
      }
    }
    val reader = LineReaderBuilder.builder()
      .terminal(terminal)
      .parser(parser)
      .completer((_: LineReader, _: ParsedLine, cands: java.util.List[Candidate]) =>
        completionWords(eng).foreach(w => cands.add(new Candidate(w))))
      .variable(LineReader.SECONDARY_PROMPT_PATTERN, "... ")
      .build()
    var done = false
    while (!done) {
      try {
        val stmt = reader.readLine("> ")
        if (stmt != null && stmt.trim.nonEmpty) done = dispatch(stmt.trim)
      } catch {
        case _: UserInterruptException => done = true // idle Ctrl-C = exit
        case _: EndOfFileException => done = true
      }
    }
  }
}
