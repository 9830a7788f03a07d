package graft.sql

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.NullSemantics
import graft.functions.{Aggregates, SqlgrepFunctions}

/** Translates a parsed [[SelectStmt]] into DataFrame operations with the
  * reference's semantics (SURVEY.md §2.3-§2.6, §8 quirk list):
  * comparisons are false (never NULL) on NULL operands; AND/OR coerce
  * NULL to false; integer division truncates; integer AVG truncates;
  * STDDEV/VARIANCE are population; PERCENTILE is exact floor(p*n);
  * aggregate output is sorted by group key (the reference's BTreeMap
  * iteration order), which [[SqlEngine]] produces inside the one
  * post-aggregate task; aggregate-level DISTINCT only fires when HAVING
  * is present; one aggregate per projection.
  */
final class Translator(base: DataFrame, scope: Map[String, Column],
    types: Map[String, graft.core.ValueType] = Map.empty) {
  import Expr._
  import graft.core.ValueType

  // ------------------------------------------------------------- type probe

  private def dtypeOf(c: Column): DataType =
    base.select(c).schema.head.dataType
  private def isIntegral(t: DataType): Boolean = t match {
    case _: LongType | _: IntegerType | _: ShortType | _: ByteType => true
    case _ => false
  }

  // ------------------------------------------------------- interval typing

  /** INTERVAL is carried as LongType micros, indistinguishable from INT
    * at the Spark-type level — this IS the type probe for it, walking the
    * sqlgrep AST with the declared column ValueTypes (reference carries
    * Value::Interval at runtime; we resolve it statically). Interval
    * arises from: a declared INTERVAL column, `ts - ts`,
    * interval ± interval, `x::interval`, and MIN/MAX/SUM/greatest/least/
    * CASE over intervals. */
  def isInterval(e: Expr): Boolean = e match {
    case ColRef(n, None) => types.get(n).contains(ValueType.IntervalT)
    case ColRef(n, Some(q)) =>
      types.get(s"$q.$n").orElse(types.get(n)).contains(ValueType.IntervalT)
    case Cast(_, t) => t.equalsIgnoreCase("interval")
    case Bin("-", l, r) =>
      (isTimestamp(l) && isTimestamp(r)) || (isInterval(l) && isInterval(r))
    case Bin("+", l, r) => isInterval(l) && isInterval(r)
    case Neg(x) => isInterval(x)
    case Call(n, args, _)
      if Set("min", "max", "sum", "greatest", "least").contains(n) =>
      args.nonEmpty && isInterval(args.head)
    case CaseWhen(cs, o) => isInterval(o) || cs.exists(c => isInterval(c._2))
    case _ => false
  }

  private def isTimestamp(e: Expr): Boolean =
    try dtypeOf(column(e)).isInstanceOf[TimestampType]
    catch { case _: Throwable => false }

  // --------------------------------------------------------- scalar exprs

  def column(e: Expr): Column = e match {
    case Lit(null) => lit(null)
    case Lit(v) => lit(v)
    case ColRef(name, None) =>
      scope.getOrElse(name, throw new IllegalArgumentException(s"column not found: $name"))
    case ColRef(name, Some(q)) =>
      scope.getOrElse(s"$q.$name",
        scope.getOrElse(name, throw new IllegalArgumentException(s"column not found: $q.$name")))
    case Neg(x) => -column(x)
    case Not(x) => !NullSemantics.boolOf(column(x))
    case Bin(op, l, r) => binOp(op, l, r)
    case Is(l, r, false) => NullSemantics.is(column(l), column(r))
    case Is(l, r, true) => NullSemantics.isNot(column(l), column(r))
    case In(x, list, negated) =>
      val c = column(x).isin(list.map(i => column(i)): _*)
      // reference evaluates IN by total equality; NULL IN (...) is false
      // unless NULL is in the list (src/execution/expression_execution.rs:179-190)
      val hasNull = list.contains(Lit(null))
      val inC = if (hasNull) (c || column(x).isNull) else NullSemantics.boolOf(c)
      if (negated) !inC else inC
    case Index(arr, idx) => // 1-based, NULL OOB (P9)
      try_element_at(column(arr), column(idx).cast(IntegerType))
    case Cast(x, t) => castTo(x, t)
    case CaseWhen(clauses, otherwise) =>
      clauses.foldRight(column(otherwise)) { case ((c, v), acc) =>
        when(NullSemantics.boolOf(column(c)), column(v)).otherwise(acc)
      }
    case ArrayLit(items) => array(items.map(column): _*)
    case Extract(part, from) =>
      SqlgrepFunctions.timestampExtract(part, column(from))
    case Call(name, args, distinct) => scalarCall(name, args, distinct)
    case Wildcard =>
      throw new IllegalArgumentException("* only allowed as a whole projection or in COUNT(*)")
  }

  private def binOp(op: String, le: Expr, re: Expr): Column = {
    val l = column(le); val r = column(re)
    op match {
      case "and" => NullSemantics.boolOf(l) && NullSemantics.boolOf(r)
      case "or" => NullSemantics.boolOf(l) || NullSemantics.boolOf(r)
      case "=" | "!=" | "<" | "<=" | ">" | ">=" =>
        val (lc, rc) = coerceCmp(l, r)
        val cmp = op match {
          case "=" => lc === rc
          case "!=" => lc =!= rc
          case "<" => lc < rc
          case "<=" => lc <= rc
          case ">" => lc > rc
          case ">=" => lc >= rc
        }
        NullSemantics.boolOf(cmp) // NULL operand => false (P3)
      case "^" => powOf(l, r)
      // documented SUPERSET: the reference's ArithmeticOperator has no
      // modulo (model.rs:662-667) but our tokenizer/precedence table
      // already admits `%`; C-style remainder (dividend sign), same as
      // Spark's and DuckDB's `%`.
      case "%" => l % r
      case "+" | "-" | "*" | "/" =>
        val lt = dtypeOf(l); val rt = dtypeOf(r)
        (op, lt, rt) match {
          case ("/", a, b) if isIntegral(a) && isIntegral(b) =>
            (l / r).cast(LongType) // integer division truncates (P5)
          case ("+", _: TimestampType, b) if isIntegral(b) =>
            timestamp_add("MICROSECOND", r, l)
          case ("+", a, _: TimestampType) if isIntegral(a) =>
            timestamp_add("MICROSECOND", l, r)
          case ("-", _: TimestampType, b) if isIntegral(b) =>
            timestamp_add("MICROSECOND", -r, l)
          case ("-", _: TimestampType, _: TimestampType) =>
            unix_micros(l) - unix_micros(r) // interval as micros
          case ("+", _, _) => l + r
          case ("-", _, _) => l - r
          case ("*", _, _) => l * r
          case ("/", _, _) => l / r
        }
    }
  }

  /** `pow` / `^` — reference (expression_execution.rs:259-280): INT ^
    * (INT >= 0) returns INT (i64.pow); a negative integer exponent is
    * undefined (reference errors; we yield NULL); REAL ^ REAL -> REAL.
    * Double pow is exact for integer operands up to 2^53, which covers
    * any non-overflowing i64.pow the reference itself can produce. */
  private def powOf(l: Column, r: Column): Column =
    if (isIntegral(dtypeOf(l)) && isIntegral(dtypeOf(r)))
      when(r >= 0, pow(l, r).cast(LongType))
    else pow(l, r)

  /** string <-> timestamp auto-coercion in comparisons (P3,
    * reference expression_execution.rs:50-58). */
  private def coerceCmp(l: Column, r: Column): (Column, Column) = {
    val lt = dtypeOf(l); val rt = dtypeOf(r)
    (lt, rt) match {
      case (_: TimestampType, _: StringType) => (l, to_timestamp(r))
      case (_: StringType, _: TimestampType) => (to_timestamp(l), r)
      case _ => (l, r)
    }
  }

  /** `expr::type` (reference expression_execution.rs:533-559): interval
    * casts are special-cased BEFORE the generic rules — ::int yields
    * whole seconds, ::real fractional seconds at millisecond resolution
    * (num_milliseconds()/1000.0), ::text the HH:MM:SS.mmm Display form. */
  private def castTo(xe: Expr, t: String): Column = {
    val x = column(xe)
    val xt = dtypeOf(x)
    val interval = isInterval(xe)
    t.toLowerCase match {
      case "int" if interval => SqlgrepFunctions.intervalToIntSeconds(x)
      case "real" if interval => SqlgrepFunctions.intervalToRealSeconds(x)
      case "text" if interval => NullSemantics.formatInterval(x)
      case "int" => x.try_cast(LongType)
      case "real" => x.try_cast(DoubleType)
      case "boolean" => x.try_cast(BooleanType)
      case "text" => xt match {
        case _: DoubleType => format_string("%.2f", x) // float Display {:.2} (model.rs:335-343)
        case _: TimestampType => // Display %Y-%m-%d %H:%M:%S.%3f (model.rs:346)
          date_format(x, "yyyy-MM-dd HH:mm:ss.SSS")
        case _ => x.cast(StringType)
      }
      case "timestamp" => to_timestamp(x, "yyyy-MM-dd HH:mm:ss")
      case "interval" => xt match {
        // String -> ValueType::parse 'H:M:S' (model.rs:386-392)
        case _: StringType => SqlgrepFunctions.parseInterval(x)
        case _ => x // already micros
      }
      case other => throw new IllegalArgumentException(s"unknown cast type: $other")
    }
  }

  private def scalarCall(name: String, args: Seq[Expr], distinct: Boolean): Column = {
    def a(i: Int): Column = column(args(i))
    name match {
      case "greatest" => greatest(a(0), a(1))
      case "least" => least(a(0), a(1))
      case "abs" => abs(a(0))
      case "sqrt" => sqrt(a(0))
      case "pow" => powOf(a(0), a(1))
      case "length" => length(a(0)).cast(LongType)
      case "upper" => upper(a(0))
      case "lower" => lower(a(0))
      case "regexp_matches" | "regex_matches" =>
        NullSemantics.boolOf(regexp_like(a(0), a(1)))
      case "create_array" => array(args.map(column): _*)
      case "array_unique" => SqlgrepFunctions.arrayUnique(a(0))
      case "array_length" => size(a(0)).cast(LongType)
      case "array_cat" => concat(a(0), a(1))
      case "array_append" => array_append(a(0), a(1))
      case "array_prepend" => array_prepend(a(1), a(0))
      case "now" => current_timestamp()
      case "make_timestamp" =>
        // 7-8 int args: y, mo, d, h, mi, s, micros (last CLI arg ignored,
        // expression_execution.rs:405-416)
        val secs = a(5).cast(DecimalType(16, 6)) +
          (if (args.length >= 7) a(6).cast(DecimalType(16, 6)) / 1000000L else lit(0))
        try_make_timestamp(a(0), a(1), a(2), a(3), a(4), secs)
      case "date_trunc" => args.head match {
        case Lit(part: String) => date_trunc(part, a(1))
        case _ => throw new IllegalArgumentException("date_trunc part must be a literal string")
      }
      case other if aggregateNames.contains(other) =>
        throw new IllegalArgumentException(s"aggregate $other in scalar context")
      case other => throw new IllegalArgumentException(s"unknown function: $other")
    }
  }

  // ----------------------------------------------------------- aggregates

  /** One aggregate call -> Spark aggregate Column (reference semantics). */
  def aggregateColumn(call: Call): Column = {
    val Call(name, args, distinct) = call
    def arg0: Column = column(args.head)
    name match {
      case "count" =>
        if (args.isEmpty || args.head == Wildcard) {
          if (distinct) throw new IllegalArgumentException(
            "COUNT(DISTINCT) requires a column") // quirk 2
          count(lit(1))
        }
        else if (distinct) countDistinct(arg0)
        else count(arg0)
      // DOCUMENTED SUPERSET: the reference's MIN/MAX silently no-op on
      // non-numeric values (modify_same_type_numeric, model.rs:305-319 —
      // a TEXT column yields NULL); Spark orders strings/timestamps/bools
      // natively and we keep that. Covered by SqlEngineSpec.
      case "min" => min(arg0)
      case "max" => max(arg0)
      case "sum" => sum(arg0)
      case "avg" =>
        if (isIntegral(dtypeOf(arg0))) Aggregates.avgInt(arg0) // quirk 5
        else avg(arg0)
      case "stddev" => Aggregates.stddev(arg0)    // population (quirk 6)
      case "variance" => Aggregates.variance(arg0)
      case "percentile" => args(1) match {
        case Lit(p: Double) => Aggregates.percentileExact(arg0.cast(DoubleType), p)
        case Lit(p: Long) => Aggregates.percentileExact(arg0.cast(DoubleType), p.toDouble)
        case other => throw new IllegalArgumentException(s"percentile p must be a literal: $other")
      }
      case "bool_and" => bool_and(arg0)
      case "bool_or" => bool_or(arg0)
      case "array_agg" => Aggregates.arrayAggSorted(arg0)
      case "string_agg" => args(1) match {
        case Lit(d: String) => Aggregates.stringAggSorted(arg0, d)
        case other => throw new IllegalArgumentException(s"string_agg delimiter must be a literal: $other")
      }
      case other => throw new IllegalArgumentException(s"unknown aggregate: $other")
    }
  }

  /** Replace a specific aggregate call / group-key subtree with a column
    * reference — used to apply the scalar transform *around* an
    * aggregate after the agg is computed (reference A12). */
  def rewrite(e: Expr, replace: Map[Expr, String]): Expr =
    replace.get(e) match {
      case Some(alias) => ColRef(alias)
      case None => e match {
        case Bin(op, l, r) => Bin(op, rewrite(l, replace), rewrite(r, replace))
        case Neg(x) => Neg(rewrite(x, replace))
        case Not(x) => Not(rewrite(x, replace))
        case Is(l, r, n) => Is(rewrite(l, replace), rewrite(r, replace), n)
        case In(x, list, n) => In(rewrite(x, replace), list.map(rewrite(_, replace)), n)
        case Index(a, i) => Index(rewrite(a, replace), rewrite(i, replace))
        case Cast(x, t) => Cast(rewrite(x, replace), t)
        case CaseWhen(cs, o) => CaseWhen(
          cs.map { case (c, v) => (rewrite(c, replace), rewrite(v, replace)) },
          rewrite(o, replace))
        case ArrayLit(items) => ArrayLit(items.map(rewrite(_, replace)))
        case Extract(p, x) => Extract(p, rewrite(x, replace))
        case Call(n, args, d) => Call(n, args.map(rewrite(_, replace)), d)
        case other => other
      }
    }
}
