package graft.sql

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core._
import graft.parse.Extractor

/** Lines and bytes a SELECT read from its FROM input (reference
  * `--show-run-stats`, `src/executor.rs:12-36`), counted on the running
  * plan by one `Dataset.observe` named [[RunStats.Name]]. */
final case class RunStats(linesProcessed: Long, bytesProcessed: Long)

object RunStats {
  val Name = "sqlgrep_run_stats"

  /** `lines` with its line and byte counts attached: `octet_length`,
    * because the reference reports BYTES ingested (a reader-level count)
    * and `length` would count characters. */
  private[sql] def observe(lines: DataFrame): DataFrame = lines.observe(Name,
    count(lit(1)).as("lines"),
    coalesce(sum(octet_length(col(lines.columns.head)).cast("long")), lit(0L)).as("bytes"))

  /** The counts of the query `qe` ran (zero when its plan read no line). */
  def of(qe: QueryExecution): RunStats = qe.observedMetrics.get(Name)
    .fold(RunStats(0L, 0L))(r => RunStats(r.getAs[Long]("lines"), r.getAs[Long]("bytes")))
}

/** The user-facing engine: a drop-in for the reference CLI's capability
  * surface — register CREATE TABLE extraction DSL, run SELECT queries
  * over raw text lines (reference `src/main.rs:124-236` lifecycle,
  * re-expressed as Catalyst plans instead of a per-line interpreter).
  *
  * {{{
  * val eng = new SqlEngine(spark)
  * eng.addTables("CREATE TABLE connections(line = '...', line[1] => ip TEXT, ...)")
  * val df = eng.query("SELECT hostname, COUNT() FROM connections GROUP BY hostname",
  *                    spark.read.text("ftpd.log"))
  * }}}
  *
  * A table's parse is materialized once per cached input: from the
  * second query over the same cached `lines` object on, a SELECT that
  * does not read `input` scans the table's extracted columns, kept with
  * `Dataset.cache()`, instead of re-running the regex extraction. The
  * first query, uncached or streaming input, `::'file'` sources and the
  * join side run the extraction as before.
  *
  * A [[Translator]] types each SELECT's expressions from the declared
  * column types. An INTERVAL output stays LongType micros and carries
  * [[ValueType.IntervalTag]] for the text and CSV sinks.
  *
  * `execute(..., stats = true)` is the `--show-run-stats` surface: the
  * SELECT runs the same plan, and [[RunStats.of]] reads its line and
  * byte counts from the query execution that ran it. A materialized
  * parse carries the observation in its cached plan, so over it the
  * counts are those of the lines the parse was built from.
  */
final class SqlEngine(spark: SparkSession) {
  private val tables = mutable.LinkedHashMap[String, TableDef]()

  /** The input last queried per table; `parsed` is its materialized
    * parse once a second query over it has run. */
  private final class Parse(val input: DataFrame) {
    var parsed: Option[DataFrame] = None
  }
  private val parses = mutable.HashMap[String, Parse]()

  def addTables(ddl: String): Seq[String] = {
    val defs = Parser.parseTableDefs(ddl)
    defs.foreach(define)
    defs.map(_.name)
  }

  private def define(td: TableDef): Unit = {
    release(td.name)
    tables(td.name) = td
  }

  private def release(table: String): Unit =
    parses.remove(table).foreach(_.parsed.foreach(_.unpersist()))

  def tableDef(name: String): TableDef =
    tables.getOrElse(name, throw new IllegalArgumentException(s"unknown table: $name"))

  /** Registered table names, definition order (reference `\d`). */
  def tableNames: Seq[String] = tables.keys.toSeq

  /** Run a query. `lines` backs the FROM table; `joinLines` backs the
    * joined table (defaults to reading the join clause's `::'file'`). */
  def query(sql: String, lines: DataFrame, joinLines: Option[DataFrame] = None): DataFrame =
    typedQuery(sql, lines, joinLines)._1

  /** [[query]] with the sqlgrep type of each output column. */
  private[graft] def typedQuery(sql: String, lines: DataFrame,
      joinLines: Option[DataFrame] = None): (DataFrame, Seq[ValueType]) =
    runSelect(Parser.parseQuery(sql), lines, joinLines, stats = false)

  /** Execute a possibly MULTI-statement input (reference
    * `Statement::Multiple`, `src/model.rs:58-63` executed at
    * `src/main.rs:141-144`): CREATE TABLE statements register their
    * tables in order, each SELECT runs against `lines` with the tables
    * registered so far; the last SELECT's DataFrame is returned (None for
    * pure DDL). With `stats`, the SELECTs observe their FROM input for
    * [[RunStats.of]]. */
  def execute(input: String, lines: DataFrame, joinLines: Option[DataFrame] = None,
      stats: Boolean = false): Option[DataFrame] = {
    def flatten(s: Statement): Seq[Statement] = s match {
      case Statement.Multiple(ss) => ss.flatMap(flatten)
      case other => Seq(other)
    }
    flatten(Parser.parse(input)).foldLeft(Option.empty[DataFrame]) {
      case (out, Statement.CreateTable(td)) => define(td); out
      case (_, Statement.Select(sel)) => Some(runSelect(sel, lines, joinLines, stats)._1)
      case (out, Statement.Multiple(_)) => out // unreachable after flatten
    }
  }

  /** The SELECT's rows and the sqlgrep type of each output column. */
  private def runSelect(stmt: SelectStmt, lines: DataFrame,
      joinLines: Option[DataFrame], stats: Boolean): (DataFrame, Seq[ValueType]) = {
    val td = tableDef(stmt.from)
    val parsed = stmt.fromFile match {
      case Some(f) => extract(td, spark.read.text(f), stats)
      case None => fromTable(td, lines, readsInput(stmt), stats)
    }

    // scope: bare + qualified names for the FROM table, plus `input`,
    // each typed by its declared column type
    var scope: Map[String, Typed] = td.columns.flatMap { c =>
      val t = Typed(col(c.name), c.tpe); Seq(c.name -> t, s"${td.name}.${c.name}" -> t)
    }.toMap + ("input" -> Typed(col("input"), ValueType.TextT))
    var projOrder: Seq[String] = td.columns.map(_.name)

    val isAggregate = stmt.groupBy.isDefined ||
      (stmt.projections.map(_._2) ++ stmt.having).exists(e => Expr.findAggregates(e).nonEmpty)

    // ------------------------------------------------------------- join
    val joined: DataFrame = stmt.join match {
      case None => parsed
      case Some(jc) =>
        val jtd = tableDef(jc.table)
        val jLines = joinLines.orElse(jc.file.map(f => spark.read.text(f))).getOrElse(
          throw new IllegalArgumentException(s"join table ${jc.table} needs ::'file' or joinLines"))
        val jParsedRaw = Extractor.parse(jLines.toDF("value"), jtd)
        // ON validation: one side FROM table, other the joined table (J5)
        val (fromCol, joinCol) =
          if (jc.leftColumn._1 == stmt.from && jc.rightColumn._1 == jc.table)
            (jc.leftColumn._2, jc.rightColumn._2)
          else if (jc.rightColumn._1 == stmt.from && jc.leftColumn._1 == jc.table)
            (jc.rightColumn._2, jc.leftColumn._2)
          else throw new IllegalArgumentException(
            s"ON must reference ${stmt.from} and ${jc.table}")
        // prefix joined columns to avoid clashes
        val jParsed = jtd.columns.foldLeft(jParsedRaw)((df, c) =>
          df.withColumnRenamed(c.name, s"__j_${c.name}"))
        // OUTER means LEFT OUTER; under aggregation unmatched rows are
        // dropped even for OUTER (reference quirk 4)
        val joinType = if (jc.outer && !isAggregate) "left_outer" else "inner"
        // Build-side strategy (round-5 verdict finding #3): no forced
        // broadcast() hint. The reference materializes the joined table
        // fully in memory (src/execution/join.rs:30-79) and small
        // dimensions still broadcast here via Spark's own
        // spark.sql.autoBroadcastJoinThreshold size estimate — but a
        // user pointing `::'file'` at a large build side now gets a
        // plain shuffled equi-join (documented superset, identical
        // results) instead of an executor OOM at 100x scale. The
        // threshold is the standard Spark conf, so the fallback point is
        // configurable per session without an extra counting pass.
        val out = parsed.join(jParsed,
          parsed(fromCol) === jParsed(s"__j_$joinCol"), joinType)
        // joined columns: always qualified; bare when not clashing (J4)
        jtd.columns.foreach { c =>
          val t = Typed(col(s"__j_${c.name}"), c.tpe)
          scope += (s"${jtd.name}.${c.name}" -> t)
          if (!scope.contains(c.name)) {
            scope += (c.name -> t)
            projOrder :+= c.name
          }
        }
        out
    }

    val trans = new Translator(scope)
    val filtered = stmt.where match {
      case Some(w) => joined.filter(NullSemantics.boolOf(trans.column(w).col))
      case None => joined
    }

    if (!isAggregate) runSimple(stmt, filtered, trans, projOrder)
    else runAggregate(stmt, filtered, trans)
  }

  /** The FROM table's rows over `lines`. The first query over a cached
    * `lines` object records it; later queries over the same object that
    * do not read `input` share one cached parse without the `input`
    * column. A different or uncached input releases that parse. The
    * cached parse always observes its lines, once, as it is built; the
    * extraction observes them for a `stats` query only. */
  private def fromTable(td: TableDef, lines: DataFrame, readsInput: Boolean,
      stats: Boolean): DataFrame = {
    val cached = lines.storageLevel != StorageLevel.NONE
    val seen = parses.get(td.name).filter(p => cached && (p.input eq lines))
    if (seen.isEmpty) {
      release(td.name)
      if (cached) parses(td.name) = new Parse(lines)
    }
    seen match {
      case Some(p) if !readsInput =>
        if (p.parsed.isEmpty)
          p.parsed = Some(Extractor.parse(RunStats.observe(lines).toDF("value"), td).cache())
        p.parsed.get
      case _ => extract(td, lines, stats)
    }
  }

  /** The extraction over `lines`, with `input`; a `stats` query counts the lines. */
  private def extract(td: TableDef, lines: DataFrame, stats: Boolean): DataFrame =
    Extractor.parse((if (stats) RunStats.observe(lines) else lines).toDF("value"), td,
      keepInput = true)

  /** True when the statement reads the `input` pseudo-column. */
  private def readsInput(stmt: SelectStmt): Boolean = {
    val exprs = stmt.projections.map(_._2) ++ stmt.where ++
      stmt.groupBy.getOrElse(Nil) ++ stmt.having
    exprs.exists(Expr.exists(_) {
      case Expr.ColRef("input", _) => true
      case _ => false
    }) || stmt.join.exists(j => j.leftColumn._2 == "input" || j.rightColumn._2 == "input")
  }

  // ---------------------------------------------------------- simple path

  private def runSimple(stmt: SelectStmt, df: DataFrame, trans: Translator,
      projOrder: Seq[String]): (DataFrame, Seq[ValueType]) = {
    val cols = stmt.projections.zipWithIndex.flatMap {
      case ((_, Expr.Wildcard), _) => projOrder.map(n => n -> trans.column(Expr.ColRef(n)))
      case ((alias, e), i) => Seq(alias.getOrElse(defaultName(e, i)) -> trans.column(e))
    }
    val selected = df.select(cols.map(output): _*)
    val distincted = if (stmt.distinct) selected.distinct() else selected
    (stmt.limit.map(distincted.limit).getOrElse(distincted), cols.map(_._2.tpe))
  }

  /** `t` as output column `name`; an INTERVAL carries [[ValueType.IntervalTag]]. */
  private def output(named: (String, Typed)): Column = named match { case (name, Typed(c, t)) =>
    if (t == ValueType.IntervalT) c.as(name, ValueType.IntervalTag) else c.as(name) }

  private def defaultName(e: Expr, i: Int): String = e match {
    case Expr.ColRef(n, _) => n // parser_tree_converter.rs:117-122
    case Expr.Call(n, _, _) => s"$n$i" // count0, max1, ... (:664,697)
    case _ => s"p$i"
  }

  // ------------------------------------------------------- aggregate path

  private def runAggregate(stmt: SelectStmt, df: DataFrame,
      trans: Translator): (DataFrame, Seq[ValueType]) = {
    val groupKeys: Seq[Expr] = stmt.groupBy.getOrElse(Nil)
    val keyAlias: Map[Expr, String] = groupKeys.zipWithIndex
      .map { case (k, i) => k -> s"__key_$i" }.toMap

    // collect aggregates from projections + having (hidden accumulators,
    // reference A11)
    val aggAlias = mutable.LinkedHashMap[Expr.Call, String]()
    def registerAggs(e: Expr): Unit = Expr.findAggregates(e).foreach { c =>
      if (!aggAlias.contains(c)) aggAlias(c) = s"__agg_${aggAlias.size}"
    }
    stmt.projections.foreach { case (_, e) =>
      val n = Expr.findAggregates(e).length
      if (n > 1) throw new IllegalArgumentException(
        "at most one aggregate per projection (reference quirk 14)")
      registerAggs(e)
    }
    stmt.having.foreach(registerAggs)

    // pre-project group keys, then hash-aggregate
    val keyTyped = keyAlias.map { case (k, a) => a -> trans.column(k) }
    val aggTyped = aggAlias.map { case (call, a) => a -> trans.aggregateColumn(call) }
    val withKeys = keyAlias.foldLeft(df) { case (d, (_, a)) => d.withColumn(a, keyTyped(a).col) }
    val aggCols = aggTyped.map { case (a, t) => t.col.as(a) }.toSeq
    // GROUP BY with no aggregate in any projection is legal in the
    // reference (Aggregate::GroupKey only): aggregate with a discarded
    // placeholder so the plan is still a hash aggregate over the keys.
    val effAggCols = if (aggCols.nonEmpty) aggCols else Seq(count(lit(1)).as("__drop"))
    // Grouped results are small (the reference holds them all in one
    // map): everything after the hash aggregate -- HAVING, projection,
    // DISTINCT, key order, LIMIT -- runs in the one task that reads the
    // aggregate's shuffle. Coalesce is narrow, so it adds no exchange, and
    // its single partition already satisfies DISTINCT's distribution. A
    // global aggregate is one partition anyway.
    val grouped0 =
      if (groupKeys.isEmpty) withKeys.agg(effAggCols.head, effAggCols.tail: _*)
      else withKeys.groupBy(keyAlias.values.toSeq.map(col): _*)
        .agg(effAggCols.head, effAggCols.tail: _*).coalesce(1)
    val grouped = if (aggCols.nonEmpty) grouped0 else grouped0.drop("__drop")

    // post-agg scope: key + agg aliases, typed by their translation (so
    // e.g. MAX(dur)::text still formats an interval); the scalar
    // transform *around* an aggregate applies to the aliases (reference A12)
    val postTrans = new Translator((keyTyped ++ aggTyped).map { case (a, t) =>
      a -> Typed(col(a), t.tpe) }.toMap)
    val replace: Map[Expr, String] = keyAlias ++ aggAlias
    def post(e: Expr): Typed = postTrans.column(Expr.transform(e)(replace.andThen(Expr.ColRef(_))))

    val havingFiltered = stmt.having match {
      case Some(h) => grouped.filter(NullSemantics.boolOf(post(h).col))
      case None => grouped
    }

    val outCols = stmt.projections.zipWithIndex.map { case ((alias, e), i) =>
      alias.getOrElse(defaultName(e, i)) -> post(e)
    }
    val selected = havingFiltered.select(outCols.map(output): _*)

    // aggregate DISTINCT only fires when HAVING present (quirk 3)
    val distincted =
      if (stmt.distinct && stmt.having.isDefined) selected.distinct() else selected

    // BTreeMap iteration order: sorted by group key (SURVEY §2.5 A14).
    // Sort by the output columns that correspond to group keys, ascending
    // with NULLs first as a global orderBy would, but inside the single
    // post-aggregate partition: no range-partition sampling job and no
    // range exchange.
    val keyOutputNames = stmt.projections.zipWithIndex.flatMap { case ((alias, e), i) =>
      if (groupKeys.contains(e)) Some(alias.getOrElse(defaultName(e, i))) else None
    }
    val ordered =
      if (keyOutputNames.nonEmpty) distincted.sortWithinPartitions(keyOutputNames.map(col): _*)
      else distincted
    (stmt.limit.map(ordered.limit).getOrElse(ordered), outCols.map(_._2.tpe))
  }
}
