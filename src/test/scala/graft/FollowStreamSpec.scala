package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger

import graft.sql.SqlEngine
import graft.streaming.FollowStream

/** Follow-mode behavior over the REPL's path (`SqlEngine.execute` over
  * `FollowStream.lines`): appended lines update the complete-mode
  * aggregate state — the reference's tail -f + reprint loop
  * (`src/executor.rs:175-234`). */
class FollowStreamSpec extends SparkSpec {

  private val sshDdl =
    """CREATE TABLE ssh(
      |    line = 'rhost=([a-zA-Z0-9_\\.\\-]+)\\s+user=(\\w+)',
      |    line[1] => hostname TEXT,
      |    line[2] => username TEXT
      |);
      |""".stripMargin

  private def sshLine(host: String, user: String): String =
    s"Jun 17 07:07:00 combo sshd(pam_unix)[199]: authentication failure; rhost=$host  user=$user"

  private def writeLog(dir: String, name: String, lines: Seq[String]): Unit =
    Files.write(Paths.get(dir, name), lines.mkString("\n").getBytes(StandardCharsets.UTF_8))

  /** Follows `dir` with `sql` into a memory table named `name`, to the end
    * of the data present now; returns the table's rows. */
  private def followToMemory(sql: String, dir: String, name: String, mode: String,
      joinLines: Option[DataFrame] = None): Array[org.apache.spark.sql.Row] = {
    val df = new SqlEngine(spark).execute(sql, FollowStream.lines(spark, dir), joinLines).get
    df.writeStream.outputMode(mode).format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    spark.sql(s"SELECT * FROM $name").collect()
  }

  test("complete-mode aggregate updates as files are appended (tail -f analog)") {
    withTempDir("follow") { d =>
      val dir = d.toString
      val sql = sshDdl + "SELECT hostname, COUNT() AS n FROM ssh GROUP BY hostname;"
      def state(name: String) = followToMemory(sql, dir, name, "complete")
        .map(r => r.getString(0) -> r.getLong(1)).toMap

      writeLog(dir, "b1.log",
        Seq(sshLine("a.com", "u1"), sshLine("a.com", "u2"), sshLine("b.net", "u3"),
          "noise line that matches nothing"))
      assert(state("follow_agg") === Map("a.com" -> 2L, "b.net" -> 1L))

      // append: a new file shows up (tail -f keeps delivering lines);
      // AvailableNow restart from the same dir re-reads all = the complete
      // re-emitted state.
      writeLog(dir, "b2.log", Seq(sshLine("a.com", "u4"), sshLine("c.org", "u5")))
      assert(state("follow_agg2") === Map("a.com" -> 3L, "b.net" -> 1L, "c.org" -> 1L))
    }
  }

  test("non-aggregate follow emits parsed rows in append mode") {
    withTempDir("follow2") { d =>
      val dir = d.toString
      writeLog(dir, "b1.log", Seq(sshLine("x.com", "root"), sshLine("y.net", "admin"), "junk"))
      val rows = followToMemory(
        sshDdl + "SELECT hostname, username FROM ssh WHERE username != 'root';",
        dir, "follow_sel", "append")
      assert(rows.map(r => (r.getString(0), r.getString(1))).toSeq === Seq(("y.net", "admin")))
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

  test("stream-static join works in follow mode (superset of reference)") {
    withTempDir("follow3") { d =>
      val dir = d.toString
      writeLog(dir, "b1.log", Seq(sshLine("a.com", "u1"), sshLine("b.net", "u2")))
      import spark.implicits._
      val policies = Seq("a.com allow", "b.net deny").toDF("value")
      val sql = sshDdl +
        """CREATE TABLE policies(
          |    line = '^(\\S+) (\\w+)$',
          |    line[1] => hostname TEXT,
          |    line[2] => policy TEXT
          |);
          |SELECT policy, COUNT() AS n FROM ssh INNER JOIN policies
          |    ON ssh.hostname = policies.hostname GROUP BY policy;""".stripMargin
      val m = followToMemory(sql, dir, "follow_join", "complete", Some(policies))
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(m === Map("allow" -> 1L, "deny" -> 1L))
    }
  }
}
