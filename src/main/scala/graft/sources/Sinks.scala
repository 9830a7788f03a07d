package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{ValueFormat, ValueType}

/** Output sinks with the reference CLI's formats
  * (`OutputPrinter::print`, reference `src/executor.rs:255-309`).
  * Each returns a single-string-column DataFrame (distributed render —
  * write with `ds.write.text(...)` or collect for console) so the
  * formatting itself is partition-parallel, unlike the reference's
  * driver-side printing.
  *
  * The text and CSV sinks print each field with [[ValueFormat.display]]
  * at the field's sqlgrep type, [[ValueType.of]] it (the SQL layer tags
  * an INTERVAL output, which Spark sees as LongType micros), and NULL as
  * `NULL`. The JSON sink prints an INTERVAL's micros.
  */
object Sinks {

  private def rendered(f: StructField): Column =
    coalesce(ValueFormat.display(col(f.name), ValueType.of(f)), lit("NULL"))

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
      val t = ValueType.of(f)
      if (t == ValueType.TimestampT) ValueFormat.display(col(f.name), t).as(f.name) else col(f.name)
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
