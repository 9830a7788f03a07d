package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.NullSemantics

/** The reference's scalar function surface (`Function` enum,
  * reference `src/model.rs:711-738`; impls
  * `src/execution/expression_execution.rs:191-515`) expressed as thin
  * wrappers over Spark built-ins — every one stays codegen'd; nothing here
  * is a UDF. Only semantics that differ from Spark get real code.
  */
object SqlgrepFunctions {

  // -- identical to Spark built-ins (kept as named aliases for the API
  //    surface; reference impl lines cited in SURVEY.md §2.3):
  //    greatest/least (2-arg), abs, sqrt, pow, length (char count),
  //    upper, lower, now() = current_timestamp(), make_timestamp.

  /** `regexp_matches(s, pat)` — substring match; NULL string => false
    * (reference `src/execution/expression_execution.rs:305-317`; the
    * reference recompiles the pattern per row — `rlike` compiles once). */
  def regexpMatches(s: Column, pattern: String): Column =
    NullSemantics.boolOf(s.rlike(pattern))

  /** `array_unique(a)` — dedupe AND sort (BTreeSet semantics,
    * reference `src/execution/expression_execution.rs:642-645`).
    * sort_array, not array_sort: no interpreted comparator lambda, and
    * its nulls-FIRST order matches a Rust BTreeSet of `Value` (Null is
    * the first enum variant) where array_sort's nulls-last would not. */
  def arrayUnique(a: Column): Column = sort_array(array_distinct(a))

  /** 1-based array access, NULL out of range
    * (reference `src/execution/expression_execution.rs:516-532`;
    * `try_element_at` matches exactly regardless of ANSI mode). */
  def arrayIndex(a: Column, i: Int): Column = try_element_at(a, lit(i))

  /** `expr::int` on an interval: whole seconds
    * (reference `src/execution/expression_execution.rs:539-541`,
    * chrono `num_seconds` truncates toward zero). Interval is carried as
    * microseconds. Pure LONG arithmetic (`div` = IntegralDivide,
    * truncation toward zero like Rust `i64 /`) — the previous
    * route-through-double was exact only below 2^53 microseconds. */
  def intervalToIntSeconds(micros: Column): Column =
    call_function("div", micros, lit(1000000L))

  /** `expr::real` on an interval: fractional seconds at MILLISECOND
    * resolution — the reference computes `num_milliseconds() / 1000.0`
    * (`expression_execution.rs:542-544`), so sub-ms micros truncate.
    * Millis computed in long arithmetic (exact past 2^53), then one
    * final exact-by-construction double division. */
  def intervalToRealSeconds(micros: Column): Column =
    call_function("div", micros, lit(1000L)).cast(DoubleType) / 1000.0

  /** `EXTRACT(part FROM ts)` — reference parts: epoch (float secs),
    * year, month, day, hour, minute, second
    * (reference `src/execution/expression_execution.rs:417-458`). */
  def timestampExtract(part: String, ts: Column): Column =
    part.toLowerCase match {
      case "epoch"  => unix_micros(ts).cast(DoubleType) / 1e6
      case "year"   => year(ts).cast(LongType)
      case "month"  => month(ts).cast(LongType)
      case "day"    => dayofmonth(ts).cast(LongType)
      case "hour"   => hour(ts).cast(LongType)
      case "minute" => minute(ts).cast(LongType)
      case "second" => second(ts).cast(LongType)
      case p => throw new IllegalArgumentException(s"unknown extract part: $p")
    }
}
