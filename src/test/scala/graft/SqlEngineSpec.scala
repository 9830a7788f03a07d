package graft

import org.apache.spark.sql.Row

import graft.sql.{RunStats, SqlEngine}

/** SQL front-end golden tests, mirroring the reference's integration
  * suite (`src/integration_tests.rs`) over synthesized corpora with
  * independently-known counts (FIXTURES.md §B). */
class SqlEngineSpec extends SparkSpec {
  import spark.implicits._

  lazy val eng: SqlEngine = {
    val e = new SqlEngine(spark)
    e.addTables(
      """CREATE TABLE connections(
        |    line = 'connection from ([0-9.]+) \\((.+)?\\) at ([a-zA-Z]+) ([a-zA-Z]+) ([0-9]+) ([0-9]+):([0-9]+):([0-9]+) ([0-9]+)',
        |
        |    line[1] => ip TEXT,
        |    line[2] => hostname TEXT,
        |    line[9] => year INT,
        |    line[4] => month TEXT, --test comment
        |    line[5] => day INT,
        |    line[6] => hour INT,
        |    line[7] => minute INT,
        |    line[8] => second INT
        |);
        |CREATE TABLE connections_ts(
        |    line = 'connection from ([0-9.]+) \\((.+)?\\) at ([a-zA-Z]+) ([a-zA-Z]+) ([0-9]+) ([0-9]+):([0-9]+):([0-9]+) ([0-9]+)',
        |    line[1] => ip TEXT,
        |    line[2] => hostname TEXT,
        |    line[9], line[4], line[5], line[6], line[7], line[8] => timestamp TIMESTAMP
        |);
        |CREATE TABLE clients(
        |    { .timestamp } => timestamp INT,
        |    { .metadata.device_id } => device_id INT CONVERT,
        |    { .metadata.mac_address } => mac_address TEXT,
        |    { .events } => events TEXT[]
        |);
        |CREATE TABLE dummy1(
        |    line = 'hostname: (.*), min: (\\d+)',
        |    line[1] => hostname TEXT,
        |    line[2] => min INT
        |);
        |CREATE TABLE dummy2(
        |    line = 'hostname: (.*), max: (\\d+)',
        |    line[1] => hostname TEXT,
        |    line[2] => max INT
        |);""".stripMargin)
    e
  }

  /** ftpd-shaped corpus: hosts with known per-host counts; 2 no-hostname
    * lines; 3 non-matching lines. */
  lazy val ftpdLines = {
    val hostCounts = Seq("alpha.example.net" -> 8, "beta.example.org" -> 23,
      "gamma.example.com" -> 46, "delta.example.io" -> 22)
    val matching = hostCounts.flatMap { case (h, n) =>
      (0 until n).map(i =>
        s"Jun 17 07:07:00 combo ftpd[29504]: connection from 10.0.0.$i ($h) at Fri Jun ${17 + (i % 3)} ${7 + (i % 5)}:07:0$i 2005")
    }
    val noHost = Seq(
      "Jun 17 07:07:02 combo ftpd[29508]: connection from 211.107.232.1 () at Fri Jun 17 07:07:02 2005",
      "Jun 17 07:07:03 combo ftpd[29509]: connection from 211.107.232.2 () at Fri Jun 18 08:07:03 2005")
    val junk = Seq("nothing to see", "Jun 17 sshd: other daemon", "random text")
    spark.createDataset(matching ++ noHost ++ junk).toDF("value")
  }

  test("SELECT * returns all matching lines (integration_tests.rs:26-44 shape)") {
    val df = eng.query("SELECT * FROM connections", ftpdLines)
    assert(df.count() === 99 + 2) // 99 with hostname + 2 without
    assert(df.columns.toSeq === Seq("ip", "hostname", "year", "month", "day", "hour", "minute", "second"))
  }

  test("WHERE hostname IS NOT NULL (rs:82)") {
    val df = eng.query("SELECT * FROM connections WHERE hostname IS NOT NULL", ftpdLines)
    assert(df.count() === 99)
  }

  test("GROUP BY hostname with COUNT() and sorted-by-key output (rs:115)") {
    val rows = eng.query(
      "SELECT hostname, COUNT() AS count FROM connections WHERE hostname IS NOT NULL GROUP BY hostname",
      ftpdLines).collect()
    assert(rows.map(_.getString(0)).toSeq ===
      Seq("alpha.example.net", "beta.example.org", "delta.example.io", "gamma.example.com"))
    assert(rows.map(r => r.getString(0) -> r.getLong(1)).toMap ===
      Map("alpha.example.net" -> 8L, "beta.example.org" -> 23L,
        "gamma.example.com" -> 46L, "delta.example.io" -> 22L))
  }

  test("HAVING before GROUP BY accepted; filters groups (rs:144)") {
    val rows = eng.query(
      "SELECT hostname, COUNT() FROM connections WHERE hostname IS NOT NULL HAVING COUNT() > 22 GROUP BY hostname",
      ftpdLines).collect()
    assert(rows.map(_.getString(0)).toSet === Set("beta.example.org", "gamma.example.com"))
    // default aggregate name: count1 (parser_tree_converter.rs:664)
    assert(rows.head.schema.fieldNames(1) === "count1")
  }

  test("regexp_matches in WHERE (rs:198)") {
    val df = eng.query(
      "SELECT hostname, COUNT(hostname) FROM connections WHERE regexp_matches(hostname, '.*example.org') GROUP BY hostname",
      ftpdLines)
    assert(df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("beta.example.org", 23L)))
  }

  test("timestamp composition + EXTRACT + GROUP BY over expression (rs:241,310)") {
    val df = eng.query(
      "SELECT EXTRACT(hour FROM timestamp) AS h, COUNT(*) AS n FROM connections_ts WHERE hostname IS NOT NULL GROUP BY EXTRACT(hour FROM timestamp)",
      ftpdLines)
    val m = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m.keySet === Set(7L, 8L, 9L, 10L, 11L))
    assert(m.values.sum === 99L)
  }

  test("SELECT DISTINCT (rs:341)") {
    val df = eng.query(
      "SELECT DISTINCT hostname FROM connections WHERE hostname IS NOT NULL", ftpdLines)
    assert(df.count() === 4)
  }

  test("scalar transform around aggregate + agg over expression") {
    val rows = eng.query(
      "SELECT hostname, MAX(day) * 2 AS d2, SUM(hour + 1) AS sh FROM connections WHERE hostname IS NOT NULL GROUP BY hostname",
      ftpdLines).collect()
    val alpha = rows.find(_.getString(0) == "alpha.example.net").get
    // alpha: 8 rows, i=0..7: day 17+(i%3) -> max 19; hour 7+(i%5)
    assert(alpha.getLong(1) === 38L)
  }

  test("avg of INT truncates; percentile exact (quirks 5, A7)") {
    val rows = eng.query(
      "SELECT hostname, AVG(hour) AS ah, PERCENTILE(hour, 0.5) AS ph FROM connections WHERE hostname IS NOT NULL GROUP BY hostname",
      ftpdLines).collect()
    val alpha = rows.find(_.getString(0) == "alpha.example.net").get
    // alpha hours for i=0..7: 7,8,9,10,11,7,8,9 -> sum 69 / 8 = 8 (trunc)
    assert(alpha.getLong(1) === 8L)
    // sorted: 7,7,8,8,9,9,10,11; floor(0.5*8)=4 -> index 4 = 9.0
    assert(alpha.getDouble(2) === 9.0)
  }

  test("LIMIT stops early; IN list; CASE WHEN; cast") {
    val df = eng.query(
      "SELECT ip, CASE WHEN day >= 18 THEN 'late' ELSE 'early' END AS bucket, day::text AS ds FROM connections WHERE day IN (17, 18) LIMIT 10",
      ftpdLines)
    val rows = df.collect()
    assert(rows.length === 10)
    assert(rows.forall(r => Set("late", "early").contains(r.getString(1))))
  }

  test("JSON table: CONVERT device_id, nested path, array column (rs:390-451)") {
    val lines = spark.createDataset(Seq(
      """{"timestamp": 100, "metadata": {"device_id": "200", "mac_address": "aa-bb"}}""",
      """{"timestamp": 101, "metadata": {"device_id": "150", "mac_address": "cc-dd"}}""",
      """{"timestamp": 102, "metadata": {"device_id": "300"}, "events": ["boot", "crash"]}""",
      """not json""")).toDF("value")
    val all = eng.query("SELECT * FROM clients", lines)
    assert(all.count() === 3)
    val big = eng.query("SELECT * FROM clients WHERE device_id >= 180", lines)
    assert(big.count() === 2)
    val ev = eng.query(
      "SELECT timestamp, events[1] AS event FROM clients WHERE events IS NOT NULL", lines)
    val r = ev.collect()
    assert(r.length === 1)
    assert(r(0).getLong(0) === 102L)
    assert(r(0).getString(1) === "boot")
  }

  lazy val dummy1Lines = spark.createDataset(Seq(
    "hostname: test1.com, min: 1", "hostname: test2.com, min: 5",
    "hostname: test2.com, min: 7", "hostname: test3.com, min: 9")).toDF("value")
  lazy val dummy2Lines = spark.createDataset(Seq(
    "hostname: test1.com, max: 10", "hostname: test2.com, max: 20")).toDF("value")

  test("INNER JOIN with GROUP BY (rs:457)") {
    val rows = eng.query(
      "SELECT hostname, COUNT(*) AS n FROM dummy1 INNER JOIN dummy2::'unused' ON dummy1.hostname=dummy2.hostname GROUP BY hostname",
      dummy1Lines, joinLines = Some(dummy2Lines)).collect()
    assert(rows.map(r => r.getString(0) -> r.getLong(1)).toMap ===
      Map("test1.com" -> 1L, "test2.com" -> 2L))
  }

  test("join projection: bare + qualified joined columns (rs:478)") {
    val rows = eng.query(
      "SELECT hostname, min, dummy2.max FROM dummy1 INNER JOIN dummy2::'unused' ON dummy1.hostname=dummy2.hostname",
      dummy1Lines, joinLines = Some(dummy2Lines)).collect()
    assert(rows.length === 3)
    val t2 = rows.filter(_.getString(0) == "test2.com")
    assert(t2.map(_.getLong(1)).sorted.toSeq === Seq(5L, 7L))
    assert(t2.forall(_.getLong(2) === 20L))
  }

  test("OUTER JOIN keeps unmatched rows with NULLs (rs:500)") {
    val rows = eng.query(
      "SELECT hostname, min, dummy2.max FROM dummy1 OUTER JOIN dummy2::'unused' ON dummy1.hostname=dummy2.hostname",
      dummy1Lines, joinLines = Some(dummy2Lines)).collect()
    assert(rows.length === 4)
    val t3 = rows.find(_.getString(0) == "test3.com").get
    assert(t3.isNullAt(2)) // NULL-extended joined side
  }

  test("join build side: small dims broadcast by default, large sides can fall back") {
    // Round-6: the forced broadcast() hint was removed (round-5 verdict
    // finding #3) — Spark's autoBroadcastJoinThreshold decides. A small
    // dimension must STILL plan as a broadcast join (reference-faithful
    // in-memory build side)...
    val q = "SELECT hostname, min, dummy2.max FROM dummy1 INNER JOIN " +
      "dummy2::'unused' ON dummy1.hostname=dummy2.hostname"
    val plan = eng.query(q, dummy1Lines, joinLines = Some(dummy2Lines))
      .queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin"), s"small dim not broadcast:\n$plan")
    // ...while with the threshold off (simulating a build side above it)
    // the SAME query runs as a plain shuffled equi-join with identical
    // results — the documented scale-polite superset.
    val conf = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(conf)
    try {
      spark.conf.set(conf, "-1")
      val df = eng.query(q, dummy1Lines, joinLines = Some(dummy2Lines))
      val planNb = df.queryExecution.executedPlan.toString()
      assert(!planNb.contains("BroadcastHashJoin"), s"threshold ignored:\n$planNb")
      val rows = df.collect()
      assert(rows.length === 3)
      val t2 = rows.filter(_.getString(0) == "test2.com")
      assert(t2.map(_.getLong(1)).sorted.toSeq === Seq(5L, 7L))
      assert(t2.forall(_.getLong(2) === 20L))
    } finally spark.conf.set(conf, prev)
  }

  test("OUTER JOIN under aggregation drops unmatched (quirk 4)") {
    val rows = eng.query(
      "SELECT hostname, COUNT(*) AS n FROM dummy1 OUTER JOIN dummy2::'unused' ON dummy1.hostname=dummy2.hostname GROUP BY hostname",
      dummy1Lines, joinLines = Some(dummy2Lines)).collect()
    assert(rows.map(_.getString(0)).toSet === Set("test1.com", "test2.com"))
  }

  test("split-mode table with NOT NULL veto and DEFAULT") {
    val e2 = new SqlEngine(spark)
    e2.addTables(
      """CREATE TABLE csv(
        |    line = split ';',
        |    line[1] => year INT NOT NULL,
        |    line[2] => name TEXT DEFAULT 'unknown'
        |);""".stripMargin)
    // "2006" has no part 2 at all -> NULL -> DEFAULT fires (an empty
    // string after ';' would be "", not NULL, in the reference as well)
    val lines = spark.createDataset(Seq("YEAR;NAME", "2005;Jun", "2006")).toDF("value")
    val rows = e2.query("SELECT year, name FROM csv", lines).collect()
    assert(rows.length === 2) // header vetoed by NOT NULL int parse
    assert(rows.map(_.getLong(0)).sorted.toSeq === Seq(2005L, 2006L))
    assert(rows.find(_.getLong(0) == 2006L).get.getString(1) === "unknown")
  }

  test("array_agg + array_unique composition (rs:281)") {
    val rows = eng.query(
      "SELECT hostname, array_unique(array_agg(ip)) AS ips FROM connections WHERE hostname IS NOT NULL GROUP BY hostname",
      ftpdLines).collect()
    val alpha = rows.find(_.getString(0) == "alpha.example.net").get
    val ips = alpha.getSeq[String](1)
    assert(ips.length === 8)
    assert(ips === ips.sorted) // array_unique sorts (quirk 7)
  }

  test("bare vs p{i}/count{i} default projection names") {
    val df = eng.query(
      "SELECT hostname, hour + 1, COUNT() FROM connections GROUP BY hostname, hour + 1",
      ftpdLines)
    assert(df.columns.toSeq === Seq("hostname", "p1", "count2"))
  }

  test("NULL comparison semantics: WHERE NULL-compare drops, IS NULL keeps") {
    val cmp = eng.query("SELECT ip FROM connections WHERE hostname != 'x'", ftpdLines)
    assert(cmp.count() === 99) // 2 null-hostname rows dropped by comparison
    val isn = eng.query("SELECT ip FROM connections WHERE hostname IS NULL", ftpdLines)
    assert(isn.count() === 2)
  }

  test("interval semantics: parse, ::int/::real/::text, MAX carry-through, ts - ts") {
    import spark.implicits._
    val e = new SqlEngine(spark)
    e.addTables(
      "CREATE TABLE dur(line = '(\\\\d+:\\\\d+:\\\\d+) (\\\\S+)', " +
        "line[1] => took INTERVAL, line[2] => tag TEXT);")
    val lines = Seq("01:00:30 a", "12:10:05 b").toDF("value")
    // interval::int whole seconds, ::real ms-resolution, ::text Display
    val rows = e.query(
      "SELECT tag, took::int AS s, took::real AS r, took::text AS d FROM dur",
      lines).orderBy("tag").collect()
    assert(rows(0).getLong(1) === 3630L)
    assert(rows(0).getDouble(2) === 3630.0)
    assert(rows(0).getString(3) === "01:00:30.000")
    assert(rows(1).getString(3) === "12:10:05.000")
    // interval-ness carries through MAX (reference Value::Interval at agg)
    val mx = e.query("SELECT MAX(took)::text AS m FROM dur", lines).collect()
    assert(mx(0).getString(0) === "12:10:05.000")
    // ... and through AVG and abs (reference A5 interval avg, §2.3 abs)
    val av = e.query("SELECT AVG(took)::text AS m FROM dur", lines).collect()
    assert(av(0).getString(0) === "06:35:17.500")
    val ab = e.query("SELECT tag, abs(took)::text AS a FROM dur", lines).orderBy("tag").collect()
    assert(ab.map(_.getString(1)).toSeq === Seq("01:00:30.000", "12:10:05.000"))
    // ts - ts is an interval: ::int gives elapsed seconds
    val diff = e.query(
      "SELECT (make_timestamp(2024,1,1,2,0,0,0) - make_timestamp(2024,1,1,0,30,0,0))::int AS d FROM dur LIMIT 1",
      lines).collect()
    assert(diff(0).getLong(0) === 5400L)
    // comparison on intervals (micros carrier): WHERE took > '02:00:00'::interval
    val big = e.query(
      "SELECT tag FROM dur WHERE took > '02:00:00'::interval", lines).collect()
    assert(big.map(_.getString(0)).toSeq === Seq("b"))
  }

  test("pow: INT^INT>=0 -> INT, negative int exponent -> NULL, REAL path stays REAL") {
    import spark.implicits._
    val e = new SqlEngine(spark)
    e.addTables("CREATE TABLE p(line = '(\\\\d+)', line[1] => n INT);")
    val lines = Seq("3").toDF("value")
    val r = e.query(
      "SELECT pow(n, 4) AS p4, n ^ 2 AS sq, pow(n, 0 - 1) AS neg, pow(2.0, 0.5) AS rt FROM p",
      lines).collect()(0)
    assert(r.getLong(0) === 81L) // INT result, not 81.0
    assert(r.getLong(1) === 9L)
    assert(r.isNullAt(2)) // reference errors on negative int exponent; we yield NULL
    assert(math.abs(r.getDouble(3) - math.sqrt(2.0)) < 1e-12)
  }

  test("MIN/MAX over TEXT: documented superset (reference silently no-ops to NULL)") {
    import spark.implicits._
    val e = new SqlEngine(spark)
    e.addTables("CREATE TABLE t(line = '(\\\\w+)', line[1] => w TEXT);")
    val lines = Seq("banana", "apple", "cherry").toDF("value")
    val r = e.query("SELECT MIN(w) AS lo, MAX(w) AS hi FROM t", lines).collect()(0)
    assert(r.getString(0) === "apple")
    assert(r.getString(1) === "cherry")
  }

  test("% modulo: documented superset (reference grammar has no modulo, model.rs:662-667)") {
    import spark.implicits._
    val e = new SqlEngine(spark)
    e.addTables("CREATE TABLE t(line = '(-?\\\\d+)', line[1] => n INT);")
    val lines = Seq("17", "-17", "6").toDF("value")
    val r = e.query("SELECT n % 5 AS m FROM t", lines).collect().map(_.getLong(0)).toSeq
    assert(r === Seq(2L, -2L, 1L)) // C-style remainder: dividend sign
  }

  test("multi-statement execution: CREATE TABLE + SELECT in one input (Statement::Multiple)") {
    import spark.implicits._
    val e = new SqlEngine(spark)
    val lines = Seq("n=5 ok", "n=12 ok", "n=40 bad").toDF("value")
    val out = e.execute(
      "CREATE TABLE m(line = 'n=(\\\\d+) (\\\\w+)', line[1] => n INT, line[2] => st TEXT);\n" +
        "SELECT n, st FROM m WHERE n > 10;", lines)
    assert(out.isDefined)
    val rows = out.get.orderBy("n").collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(12L, 40L))
    // pure DDL yields no result but registers the table
    assert(e.execute("CREATE TABLE m2(line = '(\\\\d+)', line[1] => k INT);", lines).isEmpty)
    assert(e.tableDef("m2").name === "m2")
  }

  test("run stats: lines/bytes ingested and rows matched via observe metrics") {
    import spark.implicits._
    val e = new SqlEngine(spark)
    e.addTables("CREATE TABLE m(line = 'n=(\\\\d+)', line[1] => n INT);")
    val input = Seq("n=5", "n=12", "junk line")
    val df = e.execute("SELECT n FROM m WHERE n > 1;", input.toDF("value"), stats = true).get
    assert(df.collect().length === 2) // the counts are the run's: read them after it
    val st = RunStats.of(df.queryExecution)
    assert(st.linesProcessed === 3)
    assert(st.bytesProcessed === input.map(_.length).sum)
  }

  test("run stats: ::'file' source is the observed plan (no hang) and bytes are octets") {
    import java.nio.charset.StandardCharsets
    import java.nio.file.Files
    val e = new SqlEngine(spark)
    e.addTables("CREATE TABLE m(line = 'n=(\\\\d+)', line[1] => n INT);")
    val f = Files.createTempFile("graft-stats", ".log")
    try {
      val lines = Seq("n=5 é", "n=12", "junk") // é = 2 bytes UTF-8
      Files.write(f, lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
      val df = e.execute(s"SELECT n FROM m::'${f.toAbsolutePath}' WHERE n > 5;",
        spark.emptyDataFrame, stats = true).get // `lines` must be ignored for a ::'file' source
      assert(df.collect().length === 1)
      val st = RunStats.of(df.queryExecution)
      assert(st.linesProcessed === 3)
      assert(st.bytesProcessed ===
        lines.map(_.getBytes(StandardCharsets.UTF_8).length).sum) // 11, not 10 chars
    } finally Files.deleteIfExists(f)
  }

  test("interval parse is strict: fractional or junk parts -> NULL, not truncated") {
    import spark.implicits._
    val e = new SqlEngine(spark)
    e.addTables("CREATE TABLE t(line = '(.+)', line[1] => s TEXT);")
    val lines = Seq("0:0:3.5", "1:2:3", "0:0:", "x:0:0", "-1:0:30").toDF("value")
    val r = e.query("SELECT s, (s::interval)::int AS secs FROM t", lines)
      .collect().map(row => row.getString(0) -> (if (row.isNullAt(1)) None else Some(row.getLong(1)))).toMap
    assert(r("0:0:3.5").isEmpty) // reference i64::from_str fails -> NULL (not 3)
    assert(r("1:2:3") === Some(3723L))
    assert(r("0:0:").isEmpty)
    assert(r("x:0:0").isEmpty)
    assert(r("-1:0:30") === Some(-3570L)) // signed parts parse like i64::from_str
  }

  test("integer AVG is exact past 2^53 (long div, not double round-trip)") {
    import spark.implicits._
    // sum = 2^55 + 6: not double-representable (spacing 4 at 2^55, ties-to-even
    // rounds to 2^55 + 8) — the old double-division path returned ...88 here
    val a = 18014398509481985L // 2^54 + 1
    val b = 18014398509481989L // 2^54 + 5
    val df = Seq(a, b).toDF("v")
    val got = df.agg(graft.functions.Aggregates.avgInt(org.apache.spark.sql.functions.col("v")).as("m"))
      .collect()(0).getLong(0)
    assert(got === 18014398509481987L) // (2^55+6)/2 exactly
    // property: agreement with BigInt truncating division on random large longs
    val rnd = new scala.util.Random(42)
    val groups = (0 until 60).map { g =>
      val n = 1 + rnd.nextInt(3)
      g.toLong -> Seq.fill(n)(rnd.nextLong() >> 2) // |v| < 2^61: no group-sum overflow
    }
    val data = groups.flatMap { case (g, vs) => vs.map(g -> _) }.toDF("g", "v")
    val avgs = data.groupBy("g").agg(graft.functions.Aggregates.avgInt(org.apache.spark.sql.functions.col("v")).as("m"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    groups.foreach { case (g, vs) =>
      val expect = (vs.map(BigInt(_)).sum / vs.length).toLong // BigInt / truncates toward zero
      assert(avgs(g) === expect, s"group $g: ${vs.mkString(",")}")
    }
  }
}
