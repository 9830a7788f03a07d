package graft.sql

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{NullSemantics, ValueFormat, ValueType}
import graft.functions.{Aggregates, SqlgrepFunctions}

/** A translated expression and its sqlgrep type, whose `spark` is the
  * Column's resolved type (INTERVAL: LongType micros, like INT). */
final case class Typed(col: Column, tpe: ValueType)

/** Translates a parsed [[SelectStmt]]'s expressions into typed Columns
  * with the reference's semantics (SURVEY.md §2.3-§2.6, §8 quirk list):
  * comparisons are false (never NULL) on NULL operands; AND/OR coerce
  * NULL to false; integer division truncates; integer AVG truncates;
  * STDDEV/VARIANCE are population; PERCENTILE is exact floor(p*n).
  *
  * A pure function of `scope`, the typed column of each visible name: an
  * expression's type comes from its children's in the same recursion
  * that builds its Column, and decides integer division, `pow`, TS±INT,
  * TS−TS, string↔timestamp comparison, the `::` casts and integer AVG.
  * A `::` cast parses and displays text through [[ValueFormat]].
  * Types follow Spark's coercion (`TypedTranslationPropSpec` checks them
  * against Spark's); INTERVAL survives interval ± interval, TS−TS,
  * `::interval`, unary minus, abs, greatest/least, CASE, arrays and
  * MIN/MAX/SUM/AVG, and decays to INT elsewhere.
  */
final class Translator(scope: Map[String, Typed]) {
  import Expr._
  import ValueType._

  private def integral(t: ValueType): Boolean = t == IntT || t == IntervalT
  private def bool(c: Column): Typed = Typed(c, BoolT)

  /** Spark's wider common type of `a` and `b` (non-ANSI `TypeCoercion`):
    * NULL is the bottom, INT widens to REAL, INTERVAL absorbs INT (both
    * LongType), arrays widen by element and, with `strings`, TEXT absorbs
    * any other scalar but BOOLEAN. None when Spark has no common type. */
  private def widen(a: ValueType, b: ValueType, strings: Boolean): Option[ValueType] =
    (a, b) match {
      case _ if a == b => Some(a)
      case (NullT, t) => Some(t)
      case (t, NullT) => Some(t)
      case (IntT | IntervalT, IntT | IntervalT) => Some(IntervalT)
      case (IntT | IntervalT | RealT, IntT | IntervalT | RealT) => Some(RealT)
      case (ArrayT(x), ArrayT(y)) => widen(x, y, strings).map(ArrayT(_))
      case (TextT, BoolT | _: ArrayT) => None
      case (TextT, _) => Option.when(strings)(TextT)
      case (_, TextT) => widen(b, a, strings)
      case _ => None
    }

  /** The common type of CASE branches and array items: Spark's
    * `findWiderCommonType`, which folds the TEXT-bearing types first.
    * When none exists Spark rejects the expression, and the first type
    * stands in. */
  private def common(ts: Seq[ValueType]): ValueType = {
    def text(t: ValueType): Boolean = t match { case ArrayT(e) => text(e); case _ => t == TextT }
    val (s, o) = ts.partition(text)
    (s.distinct ++ o).foldLeft(Option[ValueType](NullT))((acc, t) =>
      acc.flatMap(widen(_, t, strings = true))).getOrElse(ts.head)
  }

  /** Spark's arithmetic type (of a one-operand function without `b`):
    * TEXT is read as REAL, INTERVAL decays to INT where the reference has
    * no interval rule, NULL takes the other's type and alone is REAL. */
  private def arith(a: ValueType, b: ValueType = NullT): ValueType = {
    def operand(t: ValueType) = t match { case TextT => RealT; case IntervalT => IntT; case o => o }
    widen(operand(a), operand(b), strings = false) match {
      case Some(NullT) => RealT
      case t => t.getOrElse(operand(a))
    }
  }
  /** unary minus, abs and SUM keep an INTERVAL. */
  private def signed(t: ValueType): ValueType = if (t == IntervalT) t else arith(t)

  // --------------------------------------------------------- scalar exprs

  def column(e: Expr): Typed = e match {
    case Lit(v) => Typed(lit(v), v match {
      case null => NullT; case _: Long => IntT; case _: Double => RealT
      case _: Boolean => BoolT; case _ => TextT
    })
    case ColRef(name, q) => // a qualified name falls back to the bare one
      val full = q.fold(name)(q => s"$q.$name")
      scope.getOrElse(full,
        scope.getOrElse(name, throw new IllegalArgumentException(s"column not found: $full")))
    case Neg(x) => column(x) match { case Typed(c, t) => Typed(-c, signed(t)) }
    case Not(x) => bool(!NullSemantics.boolOf(column(x).col))
    case Bin(op, l, r) => binOp(op, column(l), column(r))
    case Is(l, r, false) => bool(NullSemantics.is(column(l).col, column(r).col))
    case Is(l, r, true) => bool(NullSemantics.isNot(column(l).col, column(r).col))
    case In(x, list, negated) =>
      val xc = column(x).col
      val c = xc.isin(list.map(i => column(i).col): _*)
      // reference evaluates IN by total equality; NULL IN (...) is false
      // unless NULL is in the list (src/execution/expression_execution.rs:179-190)
      val inC = if (list.contains(Lit(null))) (c || xc.isNull) else NullSemantics.boolOf(c)
      bool(if (negated) !inC else inC)
    case Index(arr, idx) => // 1-based, NULL OOB (P9)
      val a = column(arr)
      Typed(try_element_at(a.col, column(idx).col.cast(IntegerType)),
        a.tpe match { case ArrayT(t) => t; case t => t })
    case Cast(x, t) => castTo(column(x), t)
    case CaseWhen(clauses, otherwise) =>
      clauses.foldRight(column(otherwise)) { case ((c, v), acc) =>
        val tv = column(v)
        Typed(when(NullSemantics.boolOf(column(c).col), tv.col).otherwise(acc.col),
          common(Seq(tv.tpe, acc.tpe)))
      }
    case ArrayLit(items) => arrayOf(items.map(column))
    case Extract(part, from) =>
      Typed(SqlgrepFunctions.timestampExtract(part, column(from).col),
        if (part.equalsIgnoreCase("epoch")) RealT else IntT)
    case Call(name, args, _) => scalarCall(name, args)
    case Wildcard =>
      throw new IllegalArgumentException("* only allowed as a whole projection or in COUNT(*)")
  }

  private def arrayOf(items: Seq[Typed]): Typed =
    Typed(array(items.map(_.col): _*), ArrayT(if (items.isEmpty) NullT else common(items.map(_.tpe))))

  private val comparisons: Map[String, (Column, Column) => Column] = Map("=" -> (_ === _),
    "!=" -> (_ =!= _), "<" -> (_ < _), "<=" -> (_ <= _), ">" -> (_ > _), ">=" -> (_ >= _))
  private val arithmetic: Map[String, (Column, Column) => Column] = Map("+" -> (_ + _),
    "-" -> (_ - _), "*" -> (_ * _), "/" -> (_ / _), "%" -> (_ % _))

  private def binOp(op: String, l: Typed, r: Typed): Typed = op match {
    case "and" => bool(NullSemantics.boolOf(l.col) && NullSemantics.boolOf(r.col))
    case "or" => bool(NullSemantics.boolOf(l.col) || NullSemantics.boolOf(r.col))
    case _ if comparisons.contains(op) =>
      // string <-> timestamp auto-coercion (P3, expression_execution.rs:50-58)
      val (lc, rc) = (l.tpe, r.tpe) match {
        case (TimestampT, TextT) => (l.col, to_timestamp(r.col))
        case (TextT, TimestampT) => (to_timestamp(l.col), r.col)
        case _ => (l.col, r.col)
      }
      bool(NullSemantics.boolOf(comparisons(op)(lc, rc))) // NULL operand => false (P3)
    case "^" => powOf(l, r)
    case _ =>
      // documented SUPERSET: the reference's ArithmeticOperator has no
      // modulo (model.rs:662-667) but our tokenizer/precedence table
      // already admits `%`; C-style remainder (dividend sign), same as
      // Spark's and DuckDB's `%`.
      lazy val plain = arithmetic(op)(l.col, r.col)
      (op, l.tpe, r.tpe) match {
        case ("/", a, b) if integral(a) && integral(b) =>
          Typed((l.col / r.col).cast(LongType), IntT) // integer division truncates (P5)
        case ("+", TimestampT, b) if integral(b) =>
          Typed(timestamp_add("MICROSECOND", r.col, l.col), TimestampT)
        case ("+", a, TimestampT) if integral(a) =>
          Typed(timestamp_add("MICROSECOND", l.col, r.col), TimestampT)
        case ("-", TimestampT, b) if integral(b) =>
          Typed(timestamp_add("MICROSECOND", -r.col, l.col), TimestampT)
        case ("-", TimestampT | NullT, TimestampT) | ("-", TimestampT, NullT) =>
          Typed(unix_micros(l.col) - unix_micros(r.col), IntervalT) // micros; a NULL side is a NULL TS
        case ("+" | "-", IntervalT, IntervalT) => Typed(plain, IntervalT)
        case ("/", _, _) => Typed(plain, RealT)
        case (_, a, b) => Typed(plain, arith(a, b))
      }
  }

  /** `pow` / `^` — reference (expression_execution.rs:259-280): INT ^
    * (INT >= 0) returns INT (i64.pow); a negative integer exponent is
    * undefined (reference errors; we yield NULL); REAL ^ REAL -> REAL.
    * Double pow is exact for integer operands up to 2^53, which covers
    * any non-overflowing i64.pow the reference itself can produce. */
  private def powOf(l: Typed, r: Typed): Typed =
    if (integral(l.tpe) && integral(r.tpe))
      Typed(when(r.col >= 0, pow(l.col, r.col).cast(LongType)), IntT)
    else Typed(pow(l.col, r.col), RealT)

  /** `expr::type` (reference expression_execution.rs:533-559, SURVEY
    * P10): TEXT parses to the type and any other type displays as text,
    * both through [[ValueFormat]]; `::text` of TEXT is the identity.
    * Interval casts come before the generic rules: ::int yields whole
    * seconds, ::real fractional seconds at millisecond resolution
    * (num_milliseconds()/1000.0). Only a TIMESTAMP or NULL casts to
    * TIMESTAMP unparsed; any other type is a type error. */
  private def castTo(x: Typed, t: ValueType): Typed = {
    val c = x.col
    (t, x.tpe) match {
      case (_: ArrayT | NullT, _) => throw new IllegalArgumentException(s"cannot cast to ${t.name}")
      case (TextT, TextT) => x
      case (TextT, from) => Typed(ValueFormat.display(c, from), TextT)
      case (_, TextT) => Typed(ValueFormat.parse(c, t), t)
      case (IntT, IntervalT) => Typed(SqlgrepFunctions.intervalToIntSeconds(c), IntT)
      case (RealT, IntervalT) => Typed(SqlgrepFunctions.intervalToRealSeconds(c), RealT)
      case (IntT, _) => Typed(c.try_cast(LongType), IntT)
      case (RealT, _) => Typed(c.try_cast(DoubleType), RealT)
      case (BoolT, _) => Typed(c.try_cast(BooleanType), BoolT)
      case (TimestampT, TimestampT | NullT) => Typed(c.cast(TimestampType), TimestampT)
      case (TimestampT, from) =>
        throw new IllegalArgumentException(s"cannot cast ${from.name} to timestamp")
      // an integer is micros already; other values keep their type (no reference rule)
      case (IntervalT, from) => Typed(c, if (integral(from)) IntervalT else from)
    }
  }

  /** A NULL where an array is expected is an array of NULL. */
  private def arrayish(t: ValueType): ValueType = if (t == NullT) ArrayT(NullT) else t
  /** array_append/array_prepend widen the element type (no TEXT promotion). */
  private def appended(arr: ValueType, elem: ValueType): ValueType = arrayish(arr) match {
    case ArrayT(e) => ArrayT(widen(e, elem, strings = false).getOrElse(e)); case other => other
  }

  private def scalarCall(name: String, exprs: Seq[Expr]): Typed = {
    lazy val args = exprs.map(column)
    def a(i: Int): Column = args(i).col
    def t(i: Int): ValueType = args(i).tpe
    name match {
      case "greatest" | "least" => // Spark widens their arguments without TEXT promotion
        Typed(if (name == "greatest") greatest(a(0), a(1)) else least(a(0), a(1)),
          widen(t(0), t(1), strings = false).getOrElse(t(0)))
      case "abs" => Typed(abs(a(0)), signed(t(0)))
      case "sqrt" => Typed(sqrt(a(0)), RealT)
      case "pow" => powOf(args(0), args(1))
      case "length" => Typed(length(a(0)).cast(LongType), IntT)
      case "upper" => Typed(upper(a(0)), TextT)
      case "lower" => Typed(lower(a(0)), TextT)
      case "regexp_matches" | "regex_matches" =>
        bool(NullSemantics.boolOf(regexp_like(a(0), a(1))))
      case "create_array" => arrayOf(args)
      case "array_unique" => Typed(SqlgrepFunctions.arrayUnique(a(0)), arrayish(t(0)))
      case "array_length" => Typed(size(a(0)).cast(LongType), IntT)
      case "array_cat" => Typed(concat(a(0), a(1)), (t(0), t(1)) match {
        case (_: ArrayT, _: ArrayT) => common(Seq(t(0), t(1)))
        case _ => TextT // concat reads anything else as text
      })
      case "array_append" => Typed(array_append(a(0), a(1)), appended(t(0), t(1)))
      case "array_prepend" => Typed(array_prepend(a(1), a(0)), appended(t(1), t(0)))
      case "now" => Typed(current_timestamp(), TimestampT)
      case "make_timestamp" =>
        // 7-8 int args: y, mo, d, h, mi, s, micros (last CLI arg ignored,
        // expression_execution.rs:405-416)
        val secs = a(5).cast(DecimalType(16, 6)) +
          (if (args.length >= 7) a(6).cast(DecimalType(16, 6)) / 1000000L else lit(0))
        Typed(try_make_timestamp(a(0), a(1), a(2), a(3), a(4), secs), TimestampT)
      case "date_trunc" => exprs.head match {
        case Lit(part: String) => Typed(date_trunc(part, a(1)), TimestampT)
        case _ => throw new IllegalArgumentException("date_trunc part must be a literal string")
      }
      case other if aggregateNames.contains(other) =>
        throw new IllegalArgumentException(s"aggregate $other in scalar context")
      case other => throw new IllegalArgumentException(s"unknown function: $other")
    }
  }

  // ----------------------------------------------------------- aggregates

  /** One aggregate call -> Spark aggregate Column (reference semantics). */
  def aggregateColumn(call: Call): Typed = {
    val Call(name, args, distinct) = call
    lazy val x = column(args.head)
    lazy val arg0 = x.col
    name match {
      case "count" =>
        Typed(if (args.isEmpty || args.head == Wildcard) {
          if (distinct) throw new IllegalArgumentException(
            "COUNT(DISTINCT) requires a column") // quirk 2
          count(lit(1))
        }
        else if (distinct) countDistinct(arg0)
        else count(arg0), IntT)
      // DOCUMENTED SUPERSET: the reference's MIN/MAX silently no-op on
      // non-numeric values (modify_same_type_numeric, model.rs:305-319 —
      // a TEXT column yields NULL); Spark orders strings/timestamps/bools
      // natively and we keep that. Covered by SqlEngineSpec.
      case "min" => Typed(min(arg0), x.tpe)
      case "max" => Typed(max(arg0), x.tpe)
      case "sum" => Typed(sum(arg0), signed(x.tpe))
      case "avg" =>
        if (integral(x.tpe)) Typed(Aggregates.avgInt(arg0), x.tpe) // quirk 5
        else Typed(avg(arg0), RealT)
      case "stddev" => Typed(Aggregates.stddev(arg0), RealT) // population (quirk 6)
      case "variance" => Typed(Aggregates.variance(arg0), RealT)
      case "percentile" => Typed(args(1) match {
        case Lit(p: Number) => Aggregates.percentileExact(arg0.cast(DoubleType), p.doubleValue)
        case other => throw new IllegalArgumentException(s"percentile p must be a literal: $other")
      }, RealT)
      case "bool_and" => bool(bool_and(arg0))
      case "bool_or" => bool(bool_or(arg0))
      case "array_agg" => Typed(Aggregates.arrayAggSorted(arg0), ArrayT(x.tpe))
      case "string_agg" => Typed(args(1) match {
        case Lit(d: String) => Aggregates.stringAggSorted(arg0, d)
        case other => throw new IllegalArgumentException(s"string_agg delimiter must be a literal: $other")
      }, TextT)
      case other => throw new IllegalArgumentException(s"unknown aggregate: $other")
    }
  }
}
