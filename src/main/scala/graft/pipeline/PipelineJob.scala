package graft.pipeline

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

import graft.table.{Manifest, ManifestTable, SinkLineage}

/** Resumable end-to-end run of [[LogPipeline]] into a [[ManifestTable]]:
  * ONE pass over the input (the fan-out is a `partitionBy("sink")` write,
  * not N filtered re-reads — at 10^12 sequences re-scanning per sink is
  * the difference between 1x and sink-count x IO), followed by per-sink
  * lineage counted from the parquet footers and an atomic snapshot commit.
  *
  * Resume semantics (north rule: "resumable from checkpoint with
  * per-partition lineage + metrics"); the `_current` flip is the commit:
  *  - committed snapshot (`_current` or its ancestor) → no-op, returns
  *    the manifest;
  *  - crash mid-data-write → data rewritten (idempotent overwrite);
  *  - crash after the `_data_done` marker, before the flip → data reused;
  *    the per-sink counts are re-read from the footers, the manifest is
  *    (re)written with the current pointer as parent, and the pointer
  *    flips.
  */
object PipelineJob {

  final case class RunMetrics(rowsIn: Long, rowsRouted: Long, tokensRouted: Long)

  /** Marker written once the snapshot's data files are complete; it
    * carries the run's observed counts. */
  private val DataDone = "_data_done"

  def run(spark: SparkSession, seqs: DataFrame, tableRoot: String,
      snapshotId: Long, partitions: Int): Manifest =
    run(spark, seqs, new ManifestTable(tableRoot), snapshotId, partitions)

  private[graft] def run(spark: SparkSession, seqs: DataFrame, table: ManifestTable,
      snapshotId: Long, partitions: Int): Manifest = {
    if (table.isCommitted(snapshotId)) return table.manifest(snapshotId)

    if (table.marker(snapshotId, DataDone).isEmpty) {
      val obsIn = Observation(s"pipeline-in-$snapshotId")
      val seqsObs = seqs.observe(obsIn, count(lit(1)).as("rows_in"))
      // packTransport stated explicitly (round-5 advice): the snapshot
      // job's inputs are NOT contractually vocab-bounded — arbitrary
      // int32 token ids must route — so it takes the general unpacked
      // transport deliberately rather than inheriting a default.
      // Callers whose corpus pins the vocab below 2^16 (the TESTDATA
      // tables, the bench generator) should run the packed variant.
      val routed = LogPipeline.parseEnrichRoute(spark, seqsObs, partitions,
        packTransport = false)
      val obs = Observation(s"pipeline-$snapshotId")
      val observed = routed.observe(obs,
        count(lit(1)).as("rows_routed"),
        coalesce(sum(col("n_tok")), lit(0L)).as("tokens_routed"))
      observed.write.mode("overwrite")
        .partitionBy("sink")
        .parquet(table.dataDir(snapshotId).toString)
      val m = obs.get
      val mIn = obsIn.get
      table.writeMarker(snapshotId, DataDone, Manifest.json.writeValueAsString(Map(
        "rows_in" -> mIn("rows_in"), "rows_routed" -> m("rows_routed"),
        "tokens_routed" -> m("tokens_routed")).asJava))
    }

    table.commit(snapshotId, table.dataSinks(snapshotId).map { case (sink, path) =>
      SinkLineage(sink, table.load(spark, path).count(), path) })
  }

  def metrics(tableRoot: String, snapshotId: Long): Option[RunMetrics] =
    new ManifestTable(tableRoot).marker(snapshotId, DataDone).flatMap { s =>
      val o = Manifest.json.readTree(s)
      def f(n: String) = Option(o.get(n)).map(_.longValue)
      for (r <- f("rows_routed"); t <- f("tokens_routed"))
        yield RunMetrics(f("rows_in").getOrElse(r), r, t)
    }
}
