package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.functions._

import graft.pipeline.{PipelineJob, TokenSequences}
import graft.table.ManifestTable

/** Crash-point enumeration of the snapshot commit protocol — data files →
  * `_data_done` marker → manifest → `_current` pointer. Each case commits
  * snapshot 1, crashes the run of snapshot 2 at one point, resumes it with
  * a plain [[ManifestTable]], and checks that snapshot 2 is committed
  * once, on top of snapshot 1, with every row routed exactly once. */
class SnapshotCrashSpec extends SparkSpec {

  private val N = 2000L
  private val Parts = 4

  private lazy val seqs = TokenSequences.synthetic(spark, N, partitions = Parts).cache()

  /** A table whose run dies just before it writes the file named `before`. */
  private class CrashingTable(root: String, before: String) extends ManifestTable(root) {
    override protected def atomicWrite(path: Path, content: String): Unit = {
      if (path.getFileName.toString == before) throw new IllegalStateException(s"crash before $before")
      super.atomicWrite(path, content)
    }
  }

  /** Commits snapshot 1, runs `crash` on the root (it must fail the run of
    * snapshot 2 with `cause` and leave `leftBehind` written), resumes
    * snapshot 2 and checks the committed state. */
  private def crashThenResume(cause: String, leftBehind: String*)(crash: String => Unit): Unit =
    withTempDir("crash") { dir =>
      val root = dir.toString
      PipelineJob.run(spark, seqs, root, snapshotId = 1L, partitions = Parts)
      val table = new ManifestTable(root)
      val e = intercept[Exception](crash(root))
      assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .exists(t => Option(t.getMessage).exists(_.contains(cause))), e)
      leftBehind.foreach(f => assert(Files.exists(Paths.get(root, f)), s"$f not written"))
      assert(table.currentSnapshotId === Some(1L), "the crashed run must not be committed")

      val m = PipelineJob.run(spark, seqs, root, snapshotId = 2L, partitions = Parts)
      assert(table.currentSnapshotId === Some(2L))
      assert(table.manifest(2L) === m)
      assert(m.parentId === Some(1L))
      assert(m.sinks.map(_.rows).sum === N)
      val data = spark.read.parquet(table.dataDir(2L).toString)
      assert(data.count() === N)
      assert(data.select(col("doc_id")).distinct().count() === N, "a doc_id is written twice")
      val metrics = PipelineJob.metrics(root, 2L)
      assert(metrics.map(_.rowsIn) === Some(N))
      assert(metrics.map(_.rowsRouted) === Some(N))
      // the parent is committed as an ancestor of `_current`: a rerun is a no-op
      assert(PipelineJob.run(spark, seqs, root, snapshotId = 1L, partitions = Parts) ===
        table.manifest(1L))
      assert(table.currentSnapshotId === Some(2L))
    }

  private def crashBefore(file: String, leftBehind: String*): Unit =
    crashThenResume(s"crash before $file", leftBehind: _*) { root =>
      PipelineJob.run(spark, seqs, new CrashingTable(root, file), snapshotId = 2L,
        partitions = Parts)
    }

  test("crash midway through the data write (a raising input row), then resume") {
    val poisoned = seqs.withColumn("n_tok",
      when(col("doc_id") === "doc-000000001500", raise_error(lit("poisoned row")))
        .otherwise(col("n_tok")))
    crashThenResume("poisoned row") { root =>
      PipelineJob.run(spark, poisoned, root, snapshotId = 2L, partitions = Parts)
    }
  }

  test("crash before the _data_done marker, then resume rewrites the data once") {
    crashBefore("_data_done", "data/snap=2/sink=ingest")
  }

  test("crash before the manifest, then resume") {
    crashBefore("2.json", "_pending/2/_data_done")
  }

  test("crash between the manifest and the _current flip, then resume commits") {
    crashBefore("_current", "_manifests/2.json")
  }

  test("an empty input commits a manifest with no sinks and zero metrics") {
    withTempDir("empty") { dir =>
      val root = dir.toString
      PipelineJob.run(spark, seqs, root, snapshotId = 1L, partitions = Parts)
      val m = PipelineJob.run(spark, seqs.limit(0), root, snapshotId = 2L, partitions = Parts)
      assert(m.sinks === Nil)
      assert(m.parentId === Some(1L))
      assert(new ManifestTable(root).currentSnapshotId === Some(2L))
      assert(PipelineJob.metrics(root, 2L) === Some(PipelineJob.RunMetrics(0L, 0L, 0L)))
    }
  }
}
