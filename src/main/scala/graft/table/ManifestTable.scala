package graft.table

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import com.fasterxml.jackson.databind.ObjectMapper
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
  *   <root>/_pending/<id>/<marker>                    — in-progress markers
  *   <root>/_manifests/<id>.json                      — snapshot manifest
  *   <root>/_current                                  — pointer (atomic rename)
  * }}}
  *
  * Commit protocol (crash-safe): data files are fully written under a
  * snapshot-scoped directory first; the manifest next; the `_current`
  * pointer last. The pointer flip is the one commit point: a snapshot is
  * committed when it is `_current` or an ancestor of it by `parentId`. A
  * manifest written but never flipped is not committed, and
  * [[commit]] rewrites it with the pointer it then finds as parent. A
  * crash before the flip leaves the previous snapshot intact and
  * readable. Every file but the data is written by atomic rename.
  */
final case class SinkLineage(sink: String, rows: Long, path: String)

final case class Manifest(
    snapshotId: Long,
    parentId: Option[Long],
    sinks: Seq[SinkLineage]) {
  def toJson: String = {
    val o = Manifest.json.createObjectNode().put("snapshotId", snapshotId)
    parentId.fold(o.putNull("parentId"))(id => o.put("parentId", id))
    val arr = o.putArray("sinks")
    sinks.foreach(l => arr.addObject().put("sink", l.sink).put("rows", l.rows).put("path", l.path))
    Manifest.json.writeValueAsString(o)
  }
}

object Manifest {
  /** Jackson (Spark's own): writes and reads back any path or id. */
  private[graft] val json = new ObjectMapper()

  def fromJson(s: String): Manifest = {
    val o = json.readTree(s)
    Manifest(
      snapshotId = o.required("snapshotId").longValue,
      parentId = Option(o.get("parentId")).filterNot(_.isNull).map(_.longValue),
      sinks = o.required("sinks").elements.asScala.map(l => SinkLineage(
        l.required("sink").textValue, l.required("rows").longValue, l.required("path").textValue)).toSeq)
  }
}

class ManifestTable(root: String) {
  private def p(parts: String*): Path = Paths.get(root, parts: _*)
  private def manifestPath(snapshotId: Long): Path = p("_manifests", s"$snapshotId.json")
  private def pending(snapshotId: Long, name: String): Path = p("_pending", s"$snapshotId", name)
  private def readFile(path: Path): Option[String] =
    if (Files.exists(path)) Some(Files.readString(path)) else None

  def currentSnapshotId: Option[Long] = readFile(p("_current")).map(_.trim.toLong)

  def manifest(snapshotId: Long): Manifest =
    Manifest.fromJson(Files.readString(manifestPath(snapshotId)))

  /** True when the snapshot is `_current` or an ancestor of it. */
  def isCommitted(snapshotId: Long): Boolean =
    Iterator.iterate(currentSnapshotId)(_.flatMap(manifest(_).parentId))
      .takeWhile(_.isDefined).contains(Some(snapshotId))

  /** Where a snapshot's data files go: one `sink=<name>` directory per
    * sink, as a `partitionBy("sink")` write lays them out. */
  def dataDir(snapshotId: Long): Path = p("data", s"snap=$snapshotId")

  /** The sinks written under [[dataDir]], by name, with their paths (a
    * zero-row write leaves the directory with no `sink=` entries). */
  def dataSinks(snapshotId: Long): Seq[(String, String)] =
    Files.list(dataDir(snapshotId)).iterator().asScala.toSeq
      .collect { case d if d.getFileName.toString.startsWith("sink=") =>
        d.getFileName.toString.stripPrefix("sink=") -> d.toString }
      .sorted

  /** A named marker of an in-progress snapshot, if written. */
  def marker(snapshotId: Long, name: String): Option[String] = readFile(pending(snapshotId, name))

  def writeMarker(snapshotId: Long, name: String, content: String): Unit =
    atomicWrite(pending(snapshotId, name), content)

  /** Seal a snapshot: (re)write its manifest with the current pointer as
    * parent, then flip `_current` atomically — the commit point. */
  def commit(snapshotId: Long, sinks: Seq[SinkLineage]): Manifest = {
    val m = Manifest(snapshotId, currentSnapshotId, sinks.sortBy(_.sink))
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
    load(spark, lineage.path)
  }

  /** A data directory as written: Spark reads a path as a glob, so its
    * glob characters (a `\` too) are escaped. */
  def load(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path.replaceAll("""([\\{}\[\]*?])""", """\\$1"""))

  /** Every durable write but the data files goes through here. */
  protected def atomicWrite(path: Path, content: String): Unit = {
    Files.createDirectories(path.getParent)
    val tmp = path.resolveSibling(path.getFileName.toString + ".tmp")
    Files.writeString(tmp, content)
    Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }
}
