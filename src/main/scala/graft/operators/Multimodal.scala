package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video payloads as opaque
  * `binary` columns with a typed metadata struct, processed by a
  * batched per-partition decode stage.
  *
  * The actual codec is STUBBED (no image/audio libraries exist in this
  * container — see the builder brief): [[FakeDecoder]] is a
  * deterministic stand-in. Everything Spark-side is real and tested:
  * the schema, the partition-parallel batched execution shape
  * (`mapPartitions` over an iterator — the Scala analog of
  * `mapInPandas` batch processing), size-bucketed repartitioning so one
  * giant video doesn't skew a task, and the feature schema out.
  */
object Multimodal {

  final case class MediaFeatures(
      media_id: Long, kind: String, n_bytes: Int, histogram: Array[Long])

  /** Decoder contract: bytes -> fixed-width feature vector. A real
    * implementation would JNI/FFI into an image or audio codec; the
    * pipeline shape (batch iterator in, features out) is identical. */
  trait Decoder extends Serializable {
    def decode(kind: String, payload: Array[Byte]): Array[Long]
  }

  /** Deterministic fake: an 8-bucket byte histogram — stands in for
    * "decode + feature-extract" with a verifiable output. */
  object FakeDecoder extends Decoder {
    def decode(kind: String, payload: Array[Byte]): Array[Long] = {
      val hist = new Array[Long](8)
      var i = 0
      while (i < payload.length) {
        hist((payload(i) & 0xff) >>> 5) += 1
        i += 1
      }
      hist
    }
  }

  /** Synthesize a deterministic media table from the documents table:
    * payload = UTF-8 bytes of the text (a stand-in blob), kind/meta
    * derived from doc fields. */
  def syntheticMedia(spark: SparkSession, dir: String): DataFrame = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    docs.select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col("doc_id"), lit(3)) + 1).cast(IntegerType)).as("kind"),
      encode(col("text"), "UTF-8").as("payload"),
      struct(
        lit("synthetic").as("format"),
        (pmod(col("doc_id"), lit(640)) + 1).cast(IntegerType).as("width"),
        (pmod(col("doc_id"), lit(480)) + 1).cast(IntegerType).as("height"),
        (col("n_chars") * 10).cast(LongType).as("duration_ms")).as("meta"))
  }

  /** The decode stage: batched per-partition execution behind a
    * uniform hash respray. The hash spreads ROWS uniformly; per-task BYTE
    * totals then even out statistically (law of large numbers over many
    * rows per task) — it is not an explicit byte-balanced packing, which
    * would need a size histogram pass; at real scale pair this with AQE
    * skew handling for pathological single-blob outliers. The decoder
    * runs once per row inside a partition iterator — no per-row
    * task/serialization overhead, same batch shape as an Arrow
    * `mapInPandas` stage. */
  def decodeFeatures(media: DataFrame, decoder: Decoder,
      partitions: Int): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    val bucketed = media
      .withColumn("__respray", pmod(hash(col("media_id")), lit(partitions)))
      .repartition(partitions, col("__respray"))
    bucketed.select(col("media_id"), col("kind"), col("payload"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions(new DecodePartition(decoder))
  }

  /** The per-partition decode step. A named function class rather than a
    * lambda, so the plan prints a stable name instead of an identity hash. */
  final class DecodePartition(decoder: Decoder)
      extends (Iterator[(Long, String, Array[Byte])] => Iterator[MediaFeatures])
      with Serializable {
    def apply(it: Iterator[(Long, String, Array[Byte])]): Iterator[MediaFeatures] =
      it.map { case (id, kind, payload) =>
        val bytes = if (payload == null) Array.emptyByteArray else payload
        MediaFeatures(id, kind, bytes.length, decoder.decode(kind, bytes))
      }
    override def toString: String =
      s"DecodePartition(${decoder.getClass.getName.stripSuffix("$")})"
  }
}
