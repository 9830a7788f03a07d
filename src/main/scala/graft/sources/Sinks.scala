package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{NullSemantics, ValueType}

/** Output sinks with the reference CLI's formats
  * (`OutputPrinter::print`, reference `src/executor.rs:255-309`).
  * Each returns a single-string-column DataFrame (distributed render —
  * write with `ds.write.text(...)` or collect for console) so the
  * formatting itself is partition-parallel, unlike the reference's
  * driver-side printing.
  *
  * Value rendering follows `Value::Display` (reference
  * `src/model.rs:335-353`) exactly: NULL prints `NULL`, floats `{:.2}`,
  * strings `'single-quoted'`, arrays `{e1, e2}` with elements rendered
  * recursively, timestamps `%Y-%m-%d %H:%M:%S.%3f`. An INTERVAL is
  * LongType micros to Spark: the text and CSV sinks print a column that
  * the SQL layer tagged with [[graft.core.ValueType.IntervalTag]] as
  * `HH:MM:SS.mmm` ([[graft.core.NullSemantics.formatInterval]]); the
  * JSON sink prints its micros.
  */
object Sinks {

  /** `Value::Display` for one column (without the NULL fallback — each
    * sink applies its own: text/CSV print `NULL`). */
  private def display(c: Column, dt: DataType): Column = dt match {
    case _: DoubleType | _: FloatType => format_string("%.2f", c)
    case _: StringType => concat(lit("'"), c, lit("'"))
    // NTZ: naive parquet timestamps read as TimestampNTZType — same
    // Display format (the reference has no zoned timestamps at all)
    case _: TimestampType | _: TimestampNTZType =>
      date_format(c, "yyyy-MM-dd HH:mm:ss.SSS")
    case ArrayType(et, _) =>
      // {a, b}; null elements print NULL. transform() is an interpreted
      // HOF but sinks are a render-at-the-edge stage, not a hot loop.
      // when() guard: concat_ws treats a NULL array as empty, which would
      // render a NULL array as '{}' instead of falling through to 'NULL'
      when(c.isNotNull, concat(lit("{"),
        concat_ws(", ", transform(c, e => coalesce(display(e, et), lit("NULL")))),
        lit("}")))
    case _ => c.cast(StringType) // int, bool print as-is
  }

  private def rendered(f: StructField): Column = {
    val c = col(f.name)
    coalesce(if (ValueType.tagged(f)) when(c.isNotNull, NullSemantics.formatInterval(c))
      else display(c, f.dataType), lit("NULL"))
  }

  /** S5 — text sink: `name: value, name: value` per row; a bare `input`
    * projection prints the raw line (reference `src/executor.rs:258-270`). */
  def text(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.toSeq
    val out =
      if (cols.map(_.name) == Seq("input")) col("input")
      else concat_ws(", ", cols.map(f =>
        format_string(s"${f.name}: %s", rendered(f))): _*)
    df.select(out.as("value"))
  }

  /** S6 — JSON sink: one JSON object per row; null fields are EMITTED as
    * `"key":null` (serde_json Map serialization, reference
    * `src/executor.rs:271-280`); timestamps render as the Display string,
    * not ISO-8601. */
  def json(df: DataFrame): DataFrame = {
    val fields = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: TimestampType | _: TimestampNTZType =>
          date_format(col(f.name), "yyyy-MM-dd HH:mm:ss.SSS").as(f.name)
        case _ => col(f.name)
      }
    }
    df.select(to_json(struct(fields: _*),
      Map("ignoreNullFields" -> "false")).as("value"))
  }

  /** S7 — CSV sink: `;`-delimited, header as the first line, values via
    * `Value::Display` (so strings are quoted and NULL prints `NULL` —
    * reference `src/executor.rs:281-299` formats with `{}` = Display).
    * The header travels as a separate 1-row DataFrame unioned first
    * (order preserved only with coalesce(1) on write — header-position
    * is a driver concern at scale, matching Spark's own
    * csv header-per-file model). */
  def csv(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val header = Seq(df.columns.mkString(";")).toDF("value")
    val rows = df.select(concat_ws(";",
      df.schema.fields.toSeq.map(rendered): _*).as("value"))
    header.union(rows)
  }
}
