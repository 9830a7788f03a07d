package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.core._
import graft.streaming.FollowStream

/** Follow-mode behavior: appended lines update the complete-mode
  * aggregate state — the reference's tail -f + reprint loop
  * (`src/executor.rs:175-234`). */
class FollowStreamSpec extends SparkSpec {

  private def g(i: Int) = ColumnSource.Group("line", i)
  private val sshDef = TableDef("ssh",
    Seq(PatternDef("line", "rhost=([a-zA-Z0-9_\\.\\-]+)\\s+user=(\\w+)")),
    Seq(
      ColumnDef("hostname", ValueType.TextT, g(1)),
      ColumnDef("username", ValueType.TextT, g(2))))

  private def sshLine(host: String, user: String): String =
    s"Jun 17 07:07:00 combo sshd(pam_unix)[199]: authentication failure; rhost=$host  user=$user"

  test("complete-mode aggregate updates as files are appended (tail -f analog)") {
    withTempDir("follow") { d =>
      val dir = d.toString

      def writeBatch(name: String, lines: Seq[String]): Unit =
        Files.write(Paths.get(dir, name),
          lines.mkString("\n").getBytes(StandardCharsets.UTF_8))

      writeBatch("b1.log",
        Seq(sshLine("a.com", "u1"), sshLine("a.com", "u2"), sshLine("b.net", "u3"),
          "noise line that matches nothing"))

      val agg = FollowStream.parsed(spark, dir, sshDef)
        .groupBy(col("hostname")).agg(count(lit(1)).as("n"))

      val q1 = FollowStream.aggregateToMemory(agg, "follow_agg")
      q1.awaitTermination()
      val state1 = spark.sql("SELECT * FROM follow_agg").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(state1 === Map("a.com" -> 2L, "b.net" -> 1L))

      // append: a new file shows up (tail -f keeps delivering lines);
      // AvailableNow restart from the same dir re-reads all = the complete
      // re-emitted state.
      writeBatch("b2.log", Seq(sshLine("a.com", "u4"), sshLine("c.org", "u5")))
      val q2 = FollowStream.aggregateToMemory(agg, "follow_agg2")
      q2.awaitTermination()
      val state2 = spark.sql("SELECT * FROM follow_agg2").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(state2 === Map("a.com" -> 3L, "b.net" -> 1L, "c.org" -> 1L))
    }
  }

  test("non-aggregate follow emits parsed rows in append mode") {
    withTempDir("follow2") { d =>
      val dir = d.toString
      Files.write(Paths.get(dir, "b1.log"),
        Seq(sshLine("x.com", "root"), sshLine("y.net", "admin"), "junk")
          .mkString("\n").getBytes(StandardCharsets.UTF_8))
      val sel = FollowStream.parsed(spark, dir, sshDef)
        .filter(col("username") =!= "root")
        .select(col("hostname"), col("username"))
      val q = FollowStream.selectToMemory(sel, "follow_sel")
      q.awaitTermination()
      val rows = spark.sql("SELECT * FROM follow_sel").collect()
      assert(rows.length === 1)
      assert(rows(0).getString(0) === "y.net")
    }
  }

  test("every complete-mode batch of a SQL GROUP BY arrives in group-key order") {
    // the REPL's follow path (SqlEngine.execute over a followed directory,
    // complete mode through foreachBatch), one file per micro-batch; an
    // empty rhost makes a NULL key, which sorts first
    val stmt =
      """CREATE TABLE ssh(
        |    line = 'rhost=([a-zA-Z0-9_\\.\\-]+)?\\s+user=(\\w+)',
        |    line[1] => hostname TEXT,
        |    line[2] => username TEXT
        |);
        |SELECT hostname, COUNT() AS n FROM ssh GROUP BY hostname""".stripMargin
    val files = Seq(
      Seq("zeta.org", "alpha.com", "mu.net", "", "kappa.io", "omega.org", "beta.com"),
      Seq("yankee.net", "bravo.org", "", "xray.com", "delta.io", "alpha.com"),
      Seq("charlie.io", "whiskey.org", "echo.net", "zeta.org", "lima.com"))
    withTempDir("follow_order") { d =>
      val dir = Files.createDirectory(d.resolve("in"))
      files.zipWithIndex.foreach { case (hosts, i) =>
        val f = Files.write(dir.resolve(s"b$i.log"), hosts.zipWithIndex.map { case (h, j) =>
          sshLine(h, s"u$j") }.mkString("\n").getBytes(StandardCharsets.UTF_8))
        // the file source takes files oldest first
        Files.setLastModifiedTime(f, java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 1000L))
      }
      val lines = spark.readStream.option("maxFilesPerTrigger", "1").text(dir.toString)
      val df = new graft.sql.SqlEngine(spark).execute(stmt, lines).get
      val batches = scala.collection.concurrent.TrieMap[Long, Seq[(Option[String], Long)]]()
      val q = df.writeStream.outputMode("complete")
        .option("checkpointLocation", d.resolve("ckpt").toString)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          batches(id) = batch.collect().toSeq.map(r => (Option(r.getString(0)), r.getLong(1)))
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      assert(batches.size === files.size)
      batches.toSeq.sortBy(_._1).zip(files.indices).foreach { case ((id, rows), i) =>
        val keys = rows.map(_._1)
        assert(keys === keys.sorted, s"batch $id out of key order: $keys")
        val want = files.take(i + 1).flatten.groupBy(h => Option(h).filter(_.nonEmpty))
          .map { case (k, hs) => k -> hs.size.toLong }
        assert(rows.toMap === want, s"batch $id")
      }
    }
  }

  private val tsDef = TableDef("tslog",
    Seq(PatternDef("line", "^(\\d+-\\d+-\\d+ \\d+:\\d+:\\d+) (\\w+) n=(\\d+)$")),
    Seq(
      ColumnDef("ts", ValueType.TimestampT, g(1)),
      ColumnDef("src", ValueType.TextT, g(2)),
      ColumnDef("n", ValueType.IntT, g(3))))

  test("watermarked event-time window aggregate over a followed stream") {
    withTempDir("follow_win") { d =>
      val dir = d.toString
      Files.write(Paths.get(dir, "b1.log"), Seq(
        "2024-01-01 00:01:10 web n=5",
        "2024-01-01 00:03:20 web n=7",
        "2024-01-01 00:12:00 books n=2",
        "junk").mkString("\n").getBytes(StandardCharsets.UTF_8))
      val parsed = FollowStream.parsed(spark, dir, tsDef)
      val win = FollowStream.windowedCounts(parsed, "ts", "src",
        windowDur = "10 minutes", lateness = "5 minutes")
      val q = win.writeStream.outputMode("complete").format("memory")
        .queryName("follow_win")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      val rows = spark.sql("SELECT win_start, src, n FROM follow_win ORDER BY win_start, src")
        .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2)))
      assert(rows.toSeq === Seq(
        ("2024-01-01 00:00:00.0", "web", 2L),
        ("2024-01-01 00:10:00.0", "books", 1L)))
    }
  }

  test("mapGroupsWithState running totals accumulate across triggers") {
    withTempDir("follow_state") { d =>
      val dir = Files.createDirectory(d.resolve("in")).toString
      val ckpt = d.resolve("ckpt").toString
      def batch(name: String, lines: Seq[String]): Unit =
        Files.write(Paths.get(dir, name),
          lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
      batch("b1.log", Seq(
        "2024-01-01 00:01:10 web n=5",
        "2024-01-01 00:01:11 web n=7",
        "2024-01-01 00:01:12 books n=2"))
      val parsed = FollowStream.parsed(spark, dir, tsDef)
      // foreachBatch sink: supports checkpoint RECOVERY (memory sink does
      // not), so the second run resumes the keyed state.
      val emitted = scala.collection.concurrent.TrieMap[String, (Long, Long)]()
      def runOnce(): Unit = {
        emitted.clear()
        val q = FollowStream.runningTotals(parsed, "src", "n")
          .writeStream.outputMode("update")
          .option("checkpointLocation", ckpt) // SAME checkpoint: state carries over
          .foreachBatch { (ds: org.apache.spark.sql.Dataset[graft.streaming.KeyTotals], _: Long) =>
            ds.collect().foreach(k => emitted(k.key) = (k.n, k.sumTok))
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      runOnce()
      assert(emitted.toMap === Map("web" -> ((2L, 12L)), "books" -> ((1L, 2L))))
      // second batch arrives; restart from the same checkpoint -> state resumes
      batch("b2.log", Seq("2024-01-01 00:02:00 web n=100"))
      runOnce()
      assert(emitted.toMap === Map("web" -> ((3L, 112L)))) // only keys with new data emit
    }
  }

  test("stream-static join works in follow mode (superset of reference)") {
    withTempDir("follow3") { d =>
      val dir = d.toString
      Files.write(Paths.get(dir, "b1.log"),
        Seq(sshLine("a.com", "u1"), sshLine("b.net", "u2"))
          .mkString("\n").getBytes(StandardCharsets.UTF_8))
      import spark.implicits._
      val dim = Seq(("a.com", "allow"), ("b.net", "deny")).toDF("hostname", "policy")
      val joined = FollowStream.parsed(spark, dir, sshDef)
        .join(broadcast(dim), Seq("hostname"), "left_outer")
        .groupBy(col("policy")).agg(count(lit(1)).as("n"))
      val q = FollowStream.aggregateToMemory(joined, "follow_join")
      q.awaitTermination()
      val m = spark.sql("SELECT * FROM follow_join").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(m === Map("allow" -> 1L, "deny" -> 1L))
    }
  }
}
