package graft.parse

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core._
import graft.functions.RegexCaptures

/** Compiles a [[TableDef]] (the reference's CREATE TABLE extraction DSL,
  * `src/data_model.rs:75-99`) into a single Catalyst `select` over a
  * DataFrame of raw lines — the scan → relational bridge.
  *
  * Design: each declared pattern becomes ONE [[RegexCaptures]] / `split`
  * column evaluated once per line (the reference's shared pattern bank,
  * `src/data_model.rs:172-199`); every table column is then a cheap
  * `element_at` over that shared array, parsed to its declared type by
  * [[ValueFormat.parse]]. The whole stage is declarative Catalyst —
  * codegen'd, partition-parallel, and column-prunable (Catalyst drops
  * unused pattern columns automatically, something the reference cannot
  * do: it always extracts every declared column).
  */
object Extractor {

  /** Reference row-match semantics (`Row::any_result`,
    * `src/data_model.rs:23-25`): a line produces a row iff at least one
    * extracted column is non-null; `NOT NULL` columns veto the row when
    * null (`src/data_model.rs:88-94`).
    *
    * @param lines DataFrame with a string column `lineCol` (e.g. from
    *              `spark.read.text` or any rendered-line column)
    * @param keepInput also emit the raw line as pseudo-column `input`
    *                  (reference `src/execution/execution_engine.rs:351`)
    */
  def parse(lines: DataFrame, table: TableDef, lineCol: String = "value",
            keepInput: Boolean = false, carry: Seq[String] = Nil): DataFrame = {
    val line = col(lineCol)

    // Stage 1: shared pattern bank — one array<string> column per pattern.
    val usedPatterns = table.columns.flatMap(c => patternNames(c.source)).distinct
    val capCols: Map[String, String] = usedPatterns.map { p =>
      p -> s"__cap_$p"
    }.toMap
    val withCaps = usedPatterns.foldLeft(lines) { (df, pname) =>
      val pd = table.pattern(pname)
      val capture = pd.mode match {
        case PatternMode.Captures => RegexCaptures(line, pd.regex)
        // Split: full line inserted at index 0 so parts are 1-based
        // (reference src/data_model.rs:181-185).
        case PatternMode.Split => concat(array(line), split(line, pd.regex, -1))
      }
      // OptimizerFence: a nondeterministic field blocks predicate
      // pushdown through (and collapse of) this projection, pinning the
      // bank so each pattern runs exactly once per line — see its scaladoc.
      df.withColumn(capCols(pname), graft.functions.OptimizerFence(capture))
    }

    // Stage 2: typed column extraction.
    def groupVal(g: ColumnSource.Group): Column =
      element_at(col(capCols(g.pattern)), g.group + 1)

    val outCols: Seq[(ColumnDef, Column)] = table.columns.map { c =>
      val raw: Column = c.source match {
        case g: ColumnSource.Group => c.tpe match {
          // BOOLEAN = group existence, but ONLY when the pattern matched
          // the line at all; on a non-matching line the column is NULL
          // (-> default) so bool columns neither satisfy any_result nor
          // dodge NOT NULL vetoes (reference data_model.rs:339-353).
          case ValueType.BoolT =>
            when(col(capCols(g.pattern)).isNotNull, groupVal(g).isNotNull)
          case t => ValueFormat.parse(groupVal(g), t)
        }

        case ColumnSource.MultiGroup(refs) =>
          val elemT = c.tpe match {
            case ValueType.ArrayT(e) => e
            case other => throw new IllegalArgumentException(
              s"multi-group column ${c.name} must be an array type, got $other")
          }
          val elems = refs.map(g => ValueFormat.parse(groupVal(g), elemT))
          // NULL iff ALL elements are null (reference src/data_model.rs:236-248).
          val anyNonNull = elems.map(_.isNotNull).reduce(_ || _)
          when(anyNonNull, array(elems: _*))

        case ColumnSource.TimestampGroups(refs) =>
          timestampFromGroups(refs.map(groupVal), c.microseconds)

        case ColumnSource.Json(path) =>
          val v = get_json_object(line, path)
          c.tpe match { // get_json_object gives text, CONVERT or not
            case ValueType.ArrayT(e) if !c.convert =>
              from_json(v, ArrayType(e.spark, containsNull = true))
            case t => ValueFormat.parse(v, t)
          }
      }
      val trimmed = if (c.trim) trim(raw) else raw
      val withDefault = c.default match {
        case Some(d) => coalesce(trimmed, lit(d).cast(c.tpe.spark))
        case None => trimmed
      }
      c -> withDefault // aliased at the final select; raw expr shared with __row_match
    }

    // Row matches iff ANY extracted column is non-null; NOT NULL columns
    // veto. The predicate is emitted as a FENCED extra column of the SAME
    // projection (round 6): expressed as a separate filter it was pushed
    // into the extraction Project, re-inlining every column's extraction
    // expression into the Filter condition — doubling the generated code
    // of the fused stage, which (together with the generator chain) blew
    // the JVM's 8 KB JIT method limit and dropped the whole map stage to
    // the bytecode interpreter. Inside one Project, codegen
    // subexpression elimination evaluates each extracted column ONCE and
    // hoists the shared subtrees into their own (JIT-compilable)
    // methods; the fence keeps PushPredicateThroughNonJoin from
    // substituting the predicate back through the projection.
    val anyMatch = outCols.map(_._2.isNotNull).reduce(_ || _)
    val vetoes = outCols.collect { case (c, e) if c.notNull => e.isNotNull }
    val rowMatch = graft.functions.OptimizerFence(
      vetoes.foldLeft(anyMatch)(_ && _))
    val selected = withCaps.select(
      (outCols.map { case (c, e) => e.as(c.name) }
        ++ (if (keepInput) Seq(line.as("input")) else Nil)
        ++ carry.map(col)
        :+ rowMatch.as("__row_match")): _*)
    selected.filter(col("__row_match")).drop("__row_match")
  }

  private def patternNames(s: ColumnSource): Seq[String] = s match {
    case ColumnSource.Group(p, _) => Seq(p)
    case ColumnSource.MultiGroup(refs) => refs.map(_.pattern)
    case ColumnSource.TimestampGroups(refs) => refs.map(_.pattern)
    case ColumnSource.Json(_) => Nil
  }

  /** Month-name or numeric month (reference `src/data_model.rs:280-296`).
    * Name lookup is one codegen'd [[graft.functions.MonthNum]] call — a
    * 12-arm `when(lower(substring(m,1,3)) === ...)` chain re-inlines the
    * substring+lowercase per arm AND per call site (the row-match filter
    * substitutes the whole projection), which bloated the generated
    * method past JIT quality thresholds (see MonthNum scaladoc). The
    * numeric probe fails on every month-name line, so it is a plain
    * non-ANSI `cast`, NULL without the exception per value that
    * `try_cast` throws and catches (once 9% of executor samples). */
  private[graft] def monthNum(m: Column): Column =
    coalesce(m.cast(IntegerType), graft.functions.MonthNum(m))

  /** Compose a timestamp from capture groups in order
    * year, month, day, hour, minute, second, [fraction]
    * (reference `src/data_model.rs:249-308`); invalid dates → NULL.
    *
    * Pure long arithmetic via [[graft.functions.ComposeTimestamp]]: the
    * previous `try_make_timestamp(..., Decimal(16,6))` route was the
    * slowest AND worst-scaling sub-stage of the whole parse pipeline
    * (measured +12.4 s at 16 cores / 8M rows for two timestamp columns,
    * 0.32 N→4N efficiency — BigDecimal churn per row); the fraction is
    * now integer micros end-to-end, which is also exact where the old
    * double seconds-plus-fraction could round. */
  private def timestampFromGroups(gs: Seq[Column], micros: Boolean): Column = {
    require(gs.length == 6 || gs.length == 7,
      s"timestamp needs 6-7 groups, got ${gs.length}")
    val Seq(y, mo, d, h, mi, s) = gs.take(6).map(_.cast(IntegerType))
      .zipWithIndex.map { case (c, i) => if (i == 1) monthNum(gs(1)) else c }
    val secMicros: Column = {
      val whole = s.cast(LongType) * 1000000L
      if (gs.length == 7) {
        val frac = gs(6).cast(LongType)
        whole + coalesce(if (micros) frac else frac * 1000L, lit(0L))
      } else whole
    }
    graft.functions.ComposeTimestamp(y, mo, d, h, mi, secMicros)
  }
}
