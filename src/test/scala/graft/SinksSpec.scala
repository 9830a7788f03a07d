package graft

import java.sql.Timestamp

import org.apache.spark.sql.types.LongType

import graft.sources.Sinks
import graft.sql.SqlEngine

/** Output sink formats (reference `src/executor.rs:255-309`,
  * `Value::Display` at `src/model.rs:335-353`): strings single-quoted,
  * floats {:.2}, NULL prints NULL in text AND csv, arrays as {a, b},
  * timestamps as `%Y-%m-%d %H:%M:%S.%3f`, JSON keeps null fields. */
class SinksSpec extends SparkSpec {
  import spark.implicits._

  lazy val df = Seq(
    ("a.com", 3L, 1.5, Seq(1, 2)),
    (null.asInstanceOf[String], 7L, 2.0, Seq(3))
  ).toDF("host", "n", "x", "xs")

  test("text sink: name: value pairs, quoted strings, {:.2} floats, {a, b} arrays") {
    val lines = Sinks.text(df).as[String].collect()
    assert(lines(0) === "host: 'a.com', n: 3, x: 1.50, xs: {1, 2}")
    assert(lines(1) === "host: NULL, n: 7, x: 2.00, xs: {3}")
  }

  test("text sink: timestamp Display format %Y-%m-%d %H:%M:%S.%3f") {
    val tdf = Seq(Tuple1(Timestamp.valueOf("2024-03-05 07:08:09.123")))
      .toDF("ts")
    assert(Sinks.text(tdf).as[String].collect()(0) ===
      "ts: 2024-03-05 07:08:09.123")
  }

  test("json sink: one object per row, null fields EMITTED (serde Map parity)") {
    val lines = Sinks.json(df).as[String].collect()
    assert(lines(0) === """{"host":"a.com","n":3,"x":1.5,"xs":[1,2]}""")
    assert(lines(1) === """{"host":null,"n":7,"x":2.0,"xs":[3]}""")
  }

  test("csv sink: semicolon-delimited with header first, Display-rendered values") {
    val lines = Sinks.csv(df.select("host", "n", "x")).as[String].collect()
    assert(lines(0) === "host;n;x")
    assert(lines.toSet.contains("'a.com';3;1.50"))
    assert(lines.toSet.contains("NULL;7;2.00"))
  }

  test("bare input projection prints raw line") {
    val raw = Seq("raw line 1", "raw line 2").toDF("input")
    assert(Sinks.text(raw).as[String].collect().toSeq ===
      Seq("raw line 1", "raw line 2"))
  }

  test("an INTERVAL output prints as HH:MM:SS.mmm in text and csv, micros in json") {
    val e = new SqlEngine(spark)
    e.addTables("CREATE TABLE dur(line = '(\\\\d+:\\\\d+:\\\\d+) (\\\\S+)', " +
      "line[1] => took INTERVAL, line[2] => tag TEXT);")
    // the second line's interval is out of range, so `took` is NULL there
    val out = e.query("SELECT tag, took FROM dur", Seq("01:00:30 a", "9999999999:00:00 b").toDF("value"))
    assert(out.schema("took").dataType === LongType) // API callers keep micros
    assert(Sinks.text(out).as[String].collect().toSeq ===
      Seq("tag: 'a', took: 01:00:30.000", "tag: 'b', took: NULL"))
    assert(Sinks.csv(out).as[String].collect().toSeq ===
      Seq("tag;took", "'a';01:00:30.000", "'b';NULL"))
    assert(Sinks.json(out).as[String].collect().toSeq ===
      Seq("""{"tag":"a","took":3630000000}""", """{"tag":"b","took":null}"""))
  }

  test("a NULL REAL prints NULL; an INTERVAL[] output prints HH:MM:SS.mmm elements") {
    val e = new SqlEngine(spark)
    e.addTables("CREATE TABLE dur(line = '(\\\\S+) (\\\\S+)', " +
      "line[1] => took INTERVAL, line[2] => tag TEXT);")
    val out = e.query("SELECT tag::real AS r, create_array(took, NULL) AS ds FROM dur",
      Seq("01:00:30 a", "9999999999:00:00 2.5").toDF("value"))
    assert(Sinks.text(out).as[String].collect().toSeq ===
      Seq("r: NULL, ds: {01:00:30.000, NULL}", "r: 2.50, ds: {NULL, NULL}"))
    assert(Sinks.csv(out).as[String].collect().toSeq ===
      Seq("r;ds", "NULL;{01:00:30.000, NULL}", "2.50;{NULL, NULL}"))
  }
}
