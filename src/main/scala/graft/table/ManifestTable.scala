package graft.table

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** Iceberg-shaped table contract: snapshot ids, a manifest of data files
  * with per-partition lineage, atomic commit, and time-travel-by-snapshot
  * reads — implemented over Parquet + JSON manifests because no
  * `iceberg-spark-runtime` jar exists in this sandbox (SURVEY.md §7.0).
  * Call sites are Iceberg-shaped so the real runtime can slot in via
  * config outside the sandbox.
  *
  * Layout (this class is its only owner):
  * {{{
  *   <root>/data/snap=<id>/sink=<sink>/part-*.parquet — immutable data files
  *   <root>/_pending/<id>/<sink>.json                 — per-sink lineage fragment
  *   <root>/_pending/<id>/<marker>                    — in-progress markers
  *   <root>/_manifests/<id>.json                      — snapshot manifest
  *   <root>/_current                                  — pointer (atomic rename)
  * }}}
  *
  * Commit protocol (crash-safe): data files are fully written under a
  * snapshot-scoped directory first; per-sink fragments next; the
  * manifest after them; the `_current` pointer is the last, atomic step.
  * A crash before the pointer flip leaves the previous snapshot intact
  * and readable. Every file but the data is written by atomic rename.
  */
final case class SinkLineage(sink: String, rows: Long, path: String)

final case class Manifest(
    snapshotId: Long,
    parentId: Option[Long],
    sinks: Seq[SinkLineage]) {
  def toJson: String = {
    def esc(s: String) = s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c => c.toString
    }
    val sinksJson = sinks.map(l =>
      s"""{"sink":"${esc(l.sink)}","rows":${l.rows},"path":"${esc(l.path)}"}""")
      .mkString("[", ",", "]")
    s"""{"snapshotId":$snapshotId,"parentId":${parentId.getOrElse("null")},"sinks":$sinksJson}"""
  }
}

object Manifest {
  /** Minimal JSON reader for manifests we wrote ourselves. */
  def fromJson(s: String): Manifest = {
    def longField(name: String): Option[Long] =
      ("\"" + name + "\":(\\d+)").r.findFirstMatchIn(s).map(_.group(1).toLong)
    val sinkRe = """\{"sink":"([^"]*)","rows":(\d+),"path":"([^"]*)"\}""".r
    Manifest(
      snapshotId = longField("snapshotId").getOrElse(
        throw new IllegalArgumentException(s"bad manifest: $s")),
      parentId = longField("parentId"),
      sinks = sinkRe.findAllMatchIn(s).map(m =>
        SinkLineage(m.group(1), m.group(2).toLong, m.group(3))).toSeq)
  }
}

class ManifestTable(root: String) {
  private def p(parts: String*): Path = Paths.get(root, parts: _*)
  private def manifestPath(snapshotId: Long): Path = p("_manifests", s"$snapshotId.json")
  private def pending(snapshotId: Long, name: String): Path = p("_pending", s"$snapshotId", name)

  def currentSnapshotId: Option[Long] = {
    val cur = p("_current")
    if (Files.exists(cur)) Some(new String(Files.readAllBytes(cur), StandardCharsets.UTF_8).trim.toLong)
    else None
  }

  def manifest(snapshotId: Long): Manifest =
    Manifest.fromJson(new String(
      Files.readAllBytes(manifestPath(snapshotId)), StandardCharsets.UTF_8))

  /** True once `commit(snapshotId)` has written the snapshot's manifest. */
  def isCommitted(snapshotId: Long): Boolean = Files.exists(manifestPath(snapshotId))

  /** Where a snapshot's data files go: one `sink=<name>` directory per
    * sink, as a `partitionBy("sink")` write lays them out. */
  def dataDir(snapshotId: Long): Path = p("data", s"snap=$snapshotId")

  /** The sinks written under [[dataDir]], by name, with their paths. */
  def dataSinks(snapshotId: Long): Seq[(String, String)] =
    Files.list(dataDir(snapshotId)).iterator().asScala.toSeq
      .collect { case d if d.getFileName.toString.startsWith("sink=") =>
        d.getFileName.toString.stripPrefix("sink=") -> d.toString }
      .sorted

  /** Sinks already committed in an *in-progress* snapshot (manifest
    * fragments under `_pending/<id>/`) — the resume unit. */
  def completedSinks(snapshotId: Long): Map[String, SinkLineage] = {
    val dir = p("_pending", s"$snapshotId")
    if (!Files.exists(dir)) Map.empty
    else Files.list(dir).iterator().asScala
      .filter(_.toString.endsWith(".json"))
      .map(f => Manifest.fromJson(new String(Files.readAllBytes(f), StandardCharsets.UTF_8)))
      .flatMap(_.sinks).map(l => l.sink -> l).toMap
  }

  /** Record one sink of an in-progress snapshot; [[commit]] collects it. */
  def addFragment(snapshotId: Long, lineage: SinkLineage): Unit =
    atomicWrite(pending(snapshotId, s"${lineage.sink}.json"),
      Manifest(snapshotId, None, Seq(lineage)).toJson)

  /** A named marker of an in-progress snapshot, if written. */
  def marker(snapshotId: Long, name: String): Option[String] = {
    val f = pending(snapshotId, name)
    if (Files.exists(f)) Some(new String(Files.readAllBytes(f), StandardCharsets.UTF_8))
    else None
  }

  /** `name` must not end in `.json`: [[completedSinks]] reads those as
    * fragments. */
  def writeMarker(snapshotId: Long, name: String, content: String): Unit =
    atomicWrite(pending(snapshotId, name), content)

  /** Seal a snapshot: collect fragments into one manifest, flip the
    * `_current` pointer atomically. */
  def commit(snapshotId: Long): Manifest = {
    val parent = currentSnapshotId
    val m = Manifest(snapshotId, parent, completedSinks(snapshotId).values.toSeq.sortBy(_.sink))
    atomicWrite(manifestPath(snapshotId), m.toJson)
    atomicWrite(p("_current"), snapshotId.toString)
    m
  }

  /** Time-travel read: a sink's rows at a given (default: current) snapshot. */
  def read(spark: SparkSession, sink: String, snapshotId: Option[Long] = None): DataFrame = {
    val id = snapshotId.orElse(currentSnapshotId).getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $root"))
    val lineage = manifest(id).sinks.find(_.sink == sink).getOrElse(
      throw new IllegalArgumentException(s"sink $sink not in snapshot $id"))
    spark.read.parquet(lineage.path)
  }

  private def atomicWrite(path: Path, content: String): Unit = {
    Files.createDirectories(path.getParent)
    val tmp = path.resolveSibling(path.getFileName.toString + ".tmp")
    Files.write(tmp, content.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }
}
