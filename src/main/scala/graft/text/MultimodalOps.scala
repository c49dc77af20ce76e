package graft.text

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Multimodal-column plumbing: image/audio/video travel as opaque `binary`
 * columns with typed metadata; decode / feature-extract run as batched
 * per-partition transforms over a typed Dataset (the Scala analogue of a
 * pandas-batch UDF: one decoder instantiation per partition, row-batch
 * iteration inside).
 *
 * The actual codec decode is STUBBED (no image/audio libraries in this
 * environment): [[FakeDecoder]] derives deterministic metadata from the
 * payload bytes so the Spark-side plumbing — schema, encoder shapes, batch
 * iteration, partitioning — is real and testable end-to-end.
 */
object MultimodalOps {

  case class MediaRow(media_id: Long, mime: String, payload: Array[Byte])
  case class MediaMeta(
      media_id: Long, mime: String, byte_len: Int,
      width: Int, height: Int, n_frames: Int, checksum: Long)

  /** Batch decoder interface — a real implementation would wrap a JNI codec;
    * instantiated once per partition, never per row. */
  trait MediaDecoder extends Serializable {
    def decode(mime: String, payload: Array[Byte]): (Int, Int, Int) // (w, h, frames)
  }

  /** STUB decode: deterministic fake dimensions from the payload bytes.
    * Replace with a real codec off-sandbox; everything around it stays. */
  object FakeDecoder extends MediaDecoder {
    def decode(mime: String, payload: Array[Byte]): (Int, Int, Int) = {
      val n = payload.length
      val w = 16 + (n % 1920)
      val h = 16 + ((n * 7) % 1080)
      val frames = if (mime.startsWith("video")) 1 + (n % 240) else 1
      (w, h, frames)
    }
  }

  /** Cheap rolling checksum over payload bytes (pure JVM, per-partition). */
  private def checksum(payload: Array[Byte]): Long = {
    var acc = 0L
    var i = 0
    while (i < payload.length) { acc = (acc * 131 + (payload(i) & 0xff)) % 1000000007L; i += 1 }
    acc
  }

  /** Decode metadata for every media row — batched per partition. */
  def decodeMeta(media: Dataset[MediaRow], decoder: MediaDecoder = FakeDecoder): Dataset[MediaMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // decoder init happens here, once per partition (batch shape)
      rows.map { r =>
        val (w, h, f) = decoder.decode(r.mime, r.payload)
        MediaMeta(r.media_id, r.mime, r.payload.length, w, h, f, checksum(r.payload))
      }
    }
  }

  /** Deterministic frame-sample plan: which frame indices to extract, as a
    * column expression (uniform stride over n_frames, max `perVideo`). */
  def frameSamplePlan(nFrames: org.apache.spark.sql.Column, perVideo: Int) =
    transform(sequence(lit(0), least(nFrames - 1, lit(perVideo - 1))),
      i => (i * greatest(floor(nFrames / lit(perVideo)).cast("int"), lit(1))).cast("int"))

  /** Resize plan: target (w, h) preserving aspect ratio with the long edge
    * clamped to `maxEdge` — pure integer column algebra; the actual pixel
    * resample is the stubbed codec step. */
  def resizePlan(w: org.apache.spark.sql.Column, h: org.apache.spark.sql.Column, maxEdge: Int) = {
    val longEdge = greatest(w, h)
    val scaleNum = least(longEdge, lit(maxEdge))
    struct(
      greatest((w * scaleNum / longEdge).cast("int"), lit(1)).as("w"),
      greatest((h * scaleNum / longEdge).cast("int"), lit(1)).as("h"))
  }

  /** Build a media table from any (id, text) source: payload = utf8 bytes,
    * mime rotated deterministically. Used by tests/queries in this sandbox. */
  def mediaFromDocs(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): Dataset[MediaRow] = {
    import docs.sparkSession.implicits._
    docs.select(
      col(idCol).cast("long").as("media_id"),
      element_at(typedLit(Seq("image/png", "audio/wav", "video/mp4")),
        (pmod(col(idCol).cast("long"), lit(3)) + 1).cast("int")).as("mime"),
      encode(col(textCol), "UTF-8").as("payload"))
      .as[MediaRow]
  }
}
