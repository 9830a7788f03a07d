package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's aggregate surface (`Aggregate` enum, reference
  * `src/model.rs:772-786`; engine `src/execution/aggregate_execution.rs`)
  * — built-ins where Spark's semantics already match, custom `Aggregator`s
  * where the reference's conventions differ.
  */
object Aggregates {

  /** Integer AVG truncates (integer division, reference
    * `src/execution/aggregate_execution.rs:483`): `sum(x) / count(x)`
    * in integer arithmetic, not Spark's `avg` (which returns double).
    * `div` (IntegralDivide) keeps the whole computation in longs with
    * truncation toward zero, exactly like Rust `i64 /` — the previous
    * double-division-then-cast was exact only for |sum| below 2^53. */
  def avgInt(c: Column): Column = call_function("div", sum(c), count(c))

  /** Population variance/stddev (reference formula
    * `(Σx² − (Σx)²/n)/n`, `src/execution/aggregate_execution.rs:519-526`)
    * — Spark's var_pop/stddev_pop match. */
  def variance(c: Column): Column = var_pop(c)
  def stddev(c: Column): Column = stddev_pop(c)

  /** `STRING_AGG(e, delim)` with deterministic (sorted) order; the
    * reference concatenates in single-threaded arrival order
    * (`src/execution/aggregate_execution.rs:225-247`) — under distributed
    * shuffle "arrival order" is undefined, so we pin sorted order. */
  def stringAggSorted(c: Column, delim: String): Column =
    array_join(sort_array(collect_list(c)), delim)

  /** `ARRAY_AGG(e)` with deterministic (sorted) order; see above
    * (reference `src/execution/aggregate_execution.rs:210-224`).
    * sort_array over array_sort in both: collect_list never emits null
    * elements, so the orders coincide — and array_sort's default
    * comparator is an interpreted LambdaFunction. */
  def arrayAggSorted(c: Column): Column = sort_array(collect_list(c))

  /** Exact percentile, reference convention: buffer all values, sort
    * ascending, pick index `floor(p * n)` (0-based; clamped to n-1)
    * (reference `src/execution/aggregate_execution.rs:540-543,578-586`).
    * Differs from Spark's `percentile` (which interpolates) — hence a
    * custom typed [[Aggregator]]. Memory note: exact percentile is
    * inherently buffer-per-group (same as the reference); at 100 TB use
    * `percentile_approx` unless bit-parity with the reference is required.
    */
  /** Column-level exact percentile usable in `df.agg(...)`. */
  def percentileExact(c: Column, p: Double): Column =
    udaf(new PercentileExact(p)).apply(c)

  class PercentileExact(p: Double) extends Aggregator[java.lang.Double, Seq[Double], java.lang.Double] {
    // parse-time clamp, reference src/parsing/parser_tree_converter.rs:703-709
    require(p >= 0.0 && p <= 1.0, "percentile must be in [0,1]")
    // O(1) List prepend per input row (element order is irrelevant — the
    // buffer is sorted at finish); a decoded post-shuffle buffer may be a
    // different Seq impl, converted to List once, not per row.
    private def asList(b: Seq[Double]): List[Double] = b match {
      case l: List[Double] => l
      case other => other.toList
    }
    def zero: Seq[Double] = Nil
    def reduce(b: Seq[Double], a: java.lang.Double): Seq[Double] =
      if (a == null) b else a.doubleValue :: asList(b)
    def merge(b1: Seq[Double], b2: Seq[Double]): Seq[Double] =
      asList(b1) reverse_::: asList(b2)
    def finish(b: Seq[Double]): java.lang.Double =
      if (b.isEmpty) null
      else {
        val sorted = b.sorted.toArray
        val idx = math.min(math.floor(p * sorted.length).toInt, sorted.length - 1)
        sorted(idx)
      }
    def bufferEncoder: Encoder[Seq[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(
        org.apache.spark.sql.catalyst.encoders.AgnosticEncoders.IterableEncoder(
          scala.reflect.classTag[Seq[Double]],
          org.apache.spark.sql.catalyst.encoders.AgnosticEncoders.PrimitiveDoubleEncoder,
          containsNull = false, lenientSerialization = false))
    def outputEncoder: Encoder[java.lang.Double] = Encoders.DOUBLE
    // printed in plans: a stable name instead of the identity hash
    override def toString: String = s"PercentileExact($p)"
  }
}
