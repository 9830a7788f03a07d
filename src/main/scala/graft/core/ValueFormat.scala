package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import ValueType._

/** sqlgrep's value text format, both directions in one place. [[parse]]
  * is reference `ValueType::parse` (`src/model.rs:367-394`), [[display]]
  * is `Value::Display` (`src/model.rs:335-353`); a `::` cast uses the
  * same two rules (SURVEY P10). The Extractor parses every column it
  * reads from text, the Translator every `::` cast of a TEXT value, and
  * the text and CSV sinks and every `::text` of another type display.
  * Both are NULL on NULL.
  */
object ValueFormat {

  /** Reference `i64::from_str`: an optional sign and ASCII digits up to
    * the true end of the text (`\z`; `$` also matches before a final
    * newline), NULL on overflow or outside `inRange`. Non-ANSI `cast`
    * alone would trim whitespace and truncate `3.5` to 3; `try_cast`
    * would throw and catch an exception per rejected value. */
  private def whole(s: Column, inRange: Column => Column = _ => lit(true)): Column = {
    val v = s.cast(LongType)
    when(s.rlike("^[+-]?[0-9]+\\z") && inRange(v), v)
  }

  /** Text to a value of type `t`; NULL when the text is not one. */
  def parse(s: Column, t: ValueType): Column = t match {
    case TextT => s
    case IntT => whole(s)
    // non-ANSI casts: NULL on failure
    case RealT => s.cast(DoubleType)
    case BoolT => s.cast(BooleanType)
    case TimestampT => try_to_timestamp(s, lit("yyyy-MM-dd HH:mm:ss")) // %Y-%m-%d %H:%M:%S
    case IntervalT =>
      // 'H:M:S' to micros, each part whole (src/model.rs:386-392). At
      // most 2e9 per part keeps the worst-case sum (2e9*3.6e9 + 2e9*6e7
      // + 2e9*1e6 ≈ 7.3e18) inside i64, where non-ANSI Spark would wrap
      // silently; the reference fails to build such a Duration. (`abs`
      // would let i64::MIN through: it is its own absolute value.)
      val p = split(s, ":")
      def part(i: Int): Column = whole(p.getItem(i), _.between(-2000000000L, 2000000000L))
      when(size(p) === 3, part(0) * 3600000000L + part(1) * 60000000L + part(2) * 1000000L)
    case ArrayT(_) | NullT => throw new IllegalArgumentException(s"cannot parse text as ${t.name}")
  }

  /** A value of type `t` as text: floats `{:.2}`, strings single-quoted,
    * timestamps `%Y-%m-%d %H:%M:%S.%3f`, intervals (LongType micros)
    * `HH:MM:SS.mmm`, arrays `{e1, e2}` with NULL elements printed `NULL`;
    * INT, BOOLEAN and [[ValueType.NullT]] print as Spark's string. */
  def display(v: Column, t: ValueType): Column = t match {
    // format_string prints a NULL argument as `null`
    case RealT => when(v.isNotNull, format_string("%.2f", v))
    case TextT => concat(lit("'"), v, lit("'"))
    case TimestampT => date_format(v, "yyyy-MM-dd HH:mm:ss.SSS")
    case IntervalT =>
      val ms = (v / 1000L).cast(LongType)
      when(v.isNotNull, format_string("%02d:%02d:%02d.%03d", (ms / 3600000L).cast(LongType),
        ((ms % 3600000L) / 60000L).cast(LongType), ((ms % 60000L) / 1000L).cast(LongType), ms % 1000L))
    // concat_ws reads a NULL array as empty, so the guard keeps it NULL
    case ArrayT(e) => when(v.isNotNull, concat(lit("{"),
      concat_ws(", ", transform(v, x => coalesce(display(x, e), lit("NULL")))), lit("}")))
    case IntT | BoolT | NullT => v.cast(StringType)
  }
}
