package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.core._
import graft.parse.Extractor

/** Reference-parity tests for the extraction layer, mirroring the
  * reference's own extraction unit tests (`src/data_model.rs:517-1114`)
  * over synthesized ftpd/ssh/JSON-shaped lines (FIXTURES.md §B).
  */
class ExtractorSpec extends SparkSpec {
  import spark.implicits._

  /** FIXTURES.md B1 — ftpd syslog 'connection from' lines. */
  val ftpdPattern =
    "connection from ([0-9.]+) \\((.+)?\\) at ([a-zA-Z]+) ([a-zA-Z]+) ([0-9]+) ([0-9]+):([0-9]+):([0-9]+) ([0-9]+)"

  def g(i: Int) = ColumnSource.Group("line", i)

  val connections = TableDef("connections",
    Seq(PatternDef("line", ftpdPattern)),
    Seq(
      ColumnDef("ip", ValueType.TextT, g(1)),
      ColumnDef("hostname", ValueType.TextT, g(2)),
      ColumnDef("year", ValueType.IntT, g(9)),
      ColumnDef("month", ValueType.TextT, g(4)),
      ColumnDef("day", ValueType.IntT, g(5)),
      ColumnDef("hour", ValueType.IntT, g(6)),
      ColumnDef("minute", ValueType.IntT, g(7)),
      ColumnDef("second", ValueType.IntT, g(8))))

  val sampleLines = Seq(
    "Jun 17 07:07:00 combo ftpd[29504]: connection from 24.54.76.216 (host-24-54-76-216.example.net) at Fri Jun 17 07:07:00 2005",
    "Jun 17 07:07:02 combo ftpd[29508]: connection from 211.107.232.1 () at Fri Jun 17 07:07:02 2005",
    "Jun 17 07:08:05 combo sshd[29511]: unrelated line that matches nothing",
    "Jul 03 12:30:45 combo ftpd[11111]: connection from 10.0.0.1 (ten.example.org) at Sun Jul 3 12:30:45 2005")

  test("regex capture extraction: typed fields, nullable group, no-match drop") {
    val df = Extractor.parse(sampleLines.toDF("value"), connections)
    val rows = df.collect()
    assert(rows.length === 3) // the sshd line matches nothing -> dropped
    val r0 = rows(0)
    assert(r0.getAs[String]("ip") === "24.54.76.216")
    assert(r0.getAs[String]("hostname") === "host-24-54-76-216.example.net")
    assert(r0.getAs[Long]("year") === 2005L)
    assert(r0.getAs[String]("month") === "Jun")
    assert(r0.getAs[Long]("day") === 17L)
    assert(r0.getAs[Long]("hour") === 7L)
    // empty parens: optional group did not participate -> NULL (not "")
    assert(rows(1).isNullAt(rows(1).fieldIndex("hostname")))
    assert(rows(1).getAs[String]("ip") === "211.107.232.1")
  }

  test("NOT NULL column vetoes the row (reference src/data_model.rs:88-94)") {
    val tdef = connections.copy(columns = connections.columns.map(c =>
      if (c.name == "hostname") c.copy(notNull = true) else c))
    val df = Extractor.parse(sampleLines.toDF("value"), tdef)
    assert(df.count() === 2) // empty-parens row vetoed
  }

  test("DEFAULT fills NULL (reference src/data_model.rs:156-158)") {
    val tdef = connections.copy(columns = connections.columns.map(c =>
      if (c.name == "hostname") c.copy(default = Some("unknown")) else c))
    val df = Extractor.parse(sampleLines.toDF("value"), tdef)
    val hosts = df.select("hostname").as[String].collect().toSet
    assert(hosts.contains("unknown"))
    assert(df.filter(col("hostname").isNull).count() === 0)
  }

  test("BOOLEAN column = group existence on matched lines (src/data_model.rs:339-353)") {
    val tdef = connections.copy(columns =
      connections.columns :+ ColumnDef("has_host", ValueType.BoolT, g(2)))
    val df = Extractor.parse(sampleLines.toDF("value"), tdef)
    val got = df.select("ip", "has_host").collect()
      .map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(got("24.54.76.216") === true)
    assert(got("211.107.232.1") === false)
  }

  test("split mode: full line at index 0, parts 1-based (src/data_model.rs:181-185)") {
    val tdef = TableDef("csv",
      Seq(PatternDef("line", ";", PatternMode.Split)),
      Seq(
        ColumnDef("year", ValueType.IntT, g(1), notNull = true),
        ColumnDef("month", ValueType.TextT, g(2)),
        ColumnDef("raw", ValueType.TextT, g(0))))
    val lines = Seq("YEAR;MONTH", "2005;Jun", "2006;Jul").toDF("value")
    val rows = Extractor.parse(lines, tdef).collect()
    // header row: year 'YEAR' fails int parse -> NOT NULL veto drops it
    assert(rows.length === 2)
    assert(rows(0).getAs[Long]("year") === 2005L)
    assert(rows(0).getAs[String]("raw") === "2005;Jun")
  }

  test("INT column: fractional or padded text is NULL, not truncated or trimmed (i64::from_str)") {
    def ints(tdef: TableDef, lines: Seq[String]): Map[String, Option[Long]] =
      Extractor.parse(lines.toDF("value"), tdef).collect()
        .map(r => r.getString(0) -> Option(r.get(1)).map(_.asInstanceOf[Long])).toMap
    val captured = ints(TableDef("c", Seq(PatternDef("line", "v=(\\S+)")),
      Seq(ColumnDef("s", ValueType.TextT, g(1)), ColumnDef("n", ValueType.IntT, g(1)))),
      Seq("v=3.5", "v=42", "v=-7", "v=+7", "v=99999999999999999999", "v=1e3"))
    assert(captured === Map("3.5" -> None, "42" -> Some(42L), "-7" -> Some(-7L),
      "+7" -> Some(7L), "99999999999999999999" -> None, "1e3" -> None))
    val parts = ints(TableDef("p", Seq(PatternDef("line", ";", PatternMode.Split)),
      Seq(ColumnDef("s", ValueType.TextT, g(1)), ColumnDef("n", ValueType.IntT, g(1)))),
      Seq(" 42;x", "42\n;x", "42 ;x", "42;x"))
    assert(parts === Map(" 42" -> None, "42\n" -> None, "42 " -> None, "42" -> Some(42L)))
  }

  test("multi-group array column; NULL iff all elements null (src/data_model.rs:236-248)") {
    val tdef = TableDef("arr",
      Seq(PatternDef("line", "(\\d+)-(\\d+)(?:-(\\d+))?")),
      Seq(ColumnDef("xs", ValueType.ArrayT(ValueType.IntT),
        ColumnSource.MultiGroup(Seq(g(1), g(2), g(3))))))
    val rows = Extractor.parse(Seq("10-20-30", "7-8", "nope").toDF("value"), tdef).collect()
    assert(rows.length === 2)
    assert(rows(0).getSeq[Long](0) === Seq(10L, 20L, 30L))
    assert(rows(1).getSeq[Any](0) === Seq(7L, 8L, null))
  }

  test("timestamp composition with month names (src/data_model.rs:249-308)") {
    val pat = "([a-zA-Z]+) ([0-9]+) ([0-9]+):([0-9]+):([0-9]+) ([0-9]+)"
    val tdef = TableDef("ts",
      Seq(PatternDef("line", pat)),
      Seq(ColumnDef("t", ValueType.TimestampT, ColumnSource.TimestampGroups(
        // year, month, day, hour, minute, second
        Seq(g(6), g(1), g(2), g(3), g(4), g(5))))))
    // reference src/data_model.rs:281-295: the WHOLE lowercased capture
    // must equal one of the exact tokens (3-letter names + june/july/sept)
    // — full names like "December" hit the catch-all arm -> Value::Null
    val rows = Extractor.parse(
      Seq("Jun 17 07:07:00 2005", "dEc 1 23:59:59 2020", "sEpT 2 03:04:05 2021",
        "December 1 23:59:59 2020", "Xxx 9 1:2:3 2000")
        .toDF("value"), tdef).collect()
    assert(rows.length === 3) // bad month name -> NULL -> row doesn't match
    assert(rows(0).getTimestamp(0).toInstant.toString === "2005-06-17T07:07:00Z")
    assert(rows(1).getTimestamp(0).toInstant.toString === "2020-12-01T23:59:59Z")
    assert(rows(2).getTimestamp(0).toInstant.toString === "2021-09-02T03:04:05Z")
  }

  test("JSON columns: nested paths, CONVERT, array (FIXTURES.md B3)") {
    val tdef = TableDef("clients", Seq.empty, Seq(
      ColumnDef("timestamp", ValueType.IntT, ColumnSource.Json("$.timestamp")),
      ColumnDef("device_id", ValueType.IntT, ColumnSource.Json("$.metadata.device_id"), convert = true),
      ColumnDef("mac", ValueType.TextT, ColumnSource.Json("$.metadata.mac_address")),
      ColumnDef("events", ValueType.ArrayT(ValueType.TextT), ColumnSource.Json("$.events"))))
    val lines = Seq(
      """{"timestamp": 1609459200000, "metadata": {"device_id": "180", "mac_address": "30-29-15-EA-A4-28"}}""",
      """{"timestamp": 1609459260000, "metadata": {"device_id": "7"}, "events": ["a", "b"]}""",
      "not json at all").toDF("value")
    val rows = Extractor.parse(lines, tdef).collect()
    assert(rows.length === 2)
    assert(rows(0).getAs[Long]("timestamp") === 1609459200000L)
    assert(rows(0).getAs[Long]("device_id") === 180L)
    assert(rows(0).getAs[String]("mac") === "30-29-15-EA-A4-28")
    assert(rows(0).isNullAt(rows(0).fieldIndex("events")))
    assert(rows(1).getSeq[String](rows(1).fieldIndex("events")) === Seq("a", "b"))
  }

  test("TRIM modifier (src/parsing/parser.rs:649-656)") {
    val tdef = TableDef("tr",
      Seq(PatternDef("line", "name: (.*)")),
      Seq(ColumnDef("name", ValueType.TextT, g(1), trim = true)))
    val rows = Extractor.parse(Seq("name:   spaced out  ").toDF("value"), tdef).collect()
    assert(rows(0).getString(0) === "spaced out")
  }

  test("INTERVAL column: 'H:M:S' parsed to micros; display format HH:MM:SS.mmm") {
    val tdef = TableDef("iv",
      Seq(PatternDef("line", "elapsed=(\\S+)")),
      Seq(ColumnDef("elapsed", ValueType.IntervalT, g(1))))
    val rows = Extractor.parse(Seq("elapsed=1:02:03", "elapsed=bogus").toDF("value"), tdef)
      .select(col("elapsed"),
        graft.core.ValueFormat.display(col("elapsed"), ValueType.IntervalT).as("disp"))
      .collect()
    assert(rows.length === 1) // 'bogus' -> NULL -> row doesn't match
    assert(rows(0).getLong(0) === (1L * 3600 + 2 * 60 + 3) * 1000000L)
    assert(rows(0).getString(1) === "01:02:03.000")
  }

  test("inline ssh fixture: golden group-by counts (integration_tests.rs:60-75 shape)") {
    // synthesize 20 lines over 3 hosts with known counts 3/5/12
    val hosts = Seq.fill(3)("a.com") ++ Seq.fill(5)("b.net") ++ Seq.fill(12)("c.org")
    val lines = hosts.zipWithIndex.map { case (h, i) =>
      s"Jun 17 07:07:00 combo sshd(pam_unix)[199]: authentication failure; rhost=$h  user=u$i"
    }
    val tdef = TableDef("ssh",
      Seq(PatternDef("line", "rhost=([a-zA-Z0-9_\\.\\-]+)\\s+user=(\\w+)")),
      Seq(
        ColumnDef("hostname", ValueType.TextT, g(1)),
        ColumnDef("username", ValueType.TextT, g(2))))
    val counts = Extractor.parse(lines.toDF("value"), tdef)
      .groupBy("hostname").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts === Map("a.com" -> 3L, "b.net" -> 5L, "c.org" -> 12L))
  }

  test("RegexCaptures: ASCII zero-copy path == non-ASCII String path semantics") {
    import graft.functions.RegexCaptures
    // pattern with: participating, empty-match, and non-participating groups
    val pat = "k=(\\w+)(x?)(?: v=(\\d+))?"
    val lines = Seq(
      "k=abc v=42",        // all groups; group 2 empty
      "k=abcx",            // group 3 non-participating -> NULL element
      "nomatch here",      // no match -> NULL array
      "café k=abc v=7",    // non-ASCII BEFORE the match: String fallback path
      "k=ascii v=9 café")  // non-ASCII AFTER the match: offsets still correct
    val out = lines.toDF("value")
      .select(RegexCaptures(col("value"), pat).as("c"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getSeq[String](0))
    assert(out(0) === Seq("k=abc v=42", "abc", "", "42"))
    assert(out(1) === Seq("k=abcx", "abcx", "", null)) // greedy \w+ eats the x; group 3 non-participating -> null
    assert(out(2) === null)
    assert(out(3) === Seq("k=abc v=7", "abc", "", "7"))
    assert(out(4) === Seq("k=ascii v=9", "ascii", "", "9"))
  }
}
