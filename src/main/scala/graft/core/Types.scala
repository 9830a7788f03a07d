package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** sqlgrep value-type surface mapped onto Spark SQL types.
  *
  * Reference type system: `ValueType` (reference `src/model.rs:356-364`) —
  * INT (i64), REAL (f64), BOOLEAN, TEXT, TIMESTAMP, INTERVAL, and nested
  * arrays `t[]` (`src/model.rs:396-411`). No decimal/map/struct/date.
  * [[ValueType.NullT]] is the type of the NULL literal only.
  */
sealed trait ValueType { def spark: DataType; def name: String }
object ValueType {
  case object IntT extends ValueType { val spark: DataType = LongType; val name = "int" }
  case object RealT extends ValueType { val spark: DataType = DoubleType; val name = "real" }
  case object BoolT extends ValueType { val spark: DataType = BooleanType; val name = "boolean" }
  case object TextT extends ValueType { val spark: DataType = StringType; val name = "text" }
  case object TimestampT extends ValueType {
    val spark: DataType = TimestampType; val name = "timestamp"
  }
  /** Stored as microseconds (LongType) internally; the reference prints
    * intervals as `HH:MM:SS.mmm` (`src/model.rs:345-350`) — see
    * [[NullSemantics.formatInterval]]. */
  case object IntervalT extends ValueType { val spark: DataType = LongType; val name = "interval" }
  final case class ArrayT(elem: ValueType) extends ValueType {
    def spark: DataType = ArrayType(elem.spark, containsNull = true)
    def name: String = elem.name + "[]"
  }
  /** The NULL literal's type: the bottom of the widening order, never
    * declared by a column or a cast. */
  case object NullT extends ValueType { val spark: DataType = NullType; val name = "null" }

  /** Parse a type name as the reference DDL does (`src/model.rs:367-394`),
    * including nested array suffixes (`real[][]`). */
  def parse(s: String): ValueType = {
    val t = s.trim
    if (t.endsWith("[]")) ArrayT(parse(t.dropRight(2)))
    else Seq(IntT, RealT, BoolT, TextT, TimestampT, IntervalT).find(_.name == t.toLowerCase)
      .getOrElse(throw new IllegalArgumentException(s"unknown type: ${t.toLowerCase}"))
  }

  /** Spark column metadata that marks an output column as INTERVAL, which
    * Spark sees as LongType micros; the text and CSV sinks print tagged
    * columns as `HH:MM:SS.mmm`. */
  private val Key = "sqlgrep_type"
  val IntervalTag: Metadata = new MetadataBuilder().putString(Key, IntervalT.name).build()
  def tagged(f: StructField): Boolean =
    f.metadata.contains(Key) && f.metadata.getString(Key) == IntervalT.name
}

/** Null-semantics and display-format parity helpers.
  *
  * The reference's comparison operators return `false` (never NULL) when
  * either side is NULL (`src/execution/expression_execution.rs:60-70`), and
  * AND/OR coerce NULL operands to false (`src/model.rs:163-168`). Spark uses
  * SQL three-valued logic. At *filter boundaries* the two agree (NULL is
  * dropped either way); when a boolean is *projected* or fed to NOT, wrap it
  * with [[NullSemantics.boolOf]] for exact parity.
  */
object NullSemantics {
  /** Reference bool coercion: non-true (incl. NULL) => false. */
  def boolOf(c: Column): Column = coalesce(c, lit(false))

  /** Comparison that yields false (not NULL) when either side is NULL —
    * reference `src/execution/expression_execution.rs:60-70`. */
  def cmp(l: Column, r: Column, op: (Column, Column) => Column): Column =
    boolOf(op(l, r))

  /** `IS` — total equality where NULL IS NULL is true
    * (`src/execution/expression_execution.rs:73-81`). */
  def is(l: Column, r: Column): Column = l <=> r
  def isNot(l: Column, r: Column): Column = !(l <=> r)

  /** Reference interval display `HH:MM:SS.mmm` (`src/model.rs:345-350`).
    * Input: interval in microseconds. */
  def formatInterval(micros: Column): Column = {
    val totalMs = (micros / 1000L).cast(LongType)
    val h = (totalMs / 3600000L).cast(LongType)
    val m = ((totalMs % 3600000L) / 60000L).cast(LongType)
    val s = ((totalMs % 60000L) / 1000L).cast(LongType)
    val ms = totalMs % 1000L
    format_string("%02d:%02d:%02d.%03d", h, m, s, ms)
  }
}
