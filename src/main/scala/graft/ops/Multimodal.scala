package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** Multimodal column handling: media payloads are opaque binary columns
  * with typed metadata; decode/feature-extract runs as a batched
  * per-partition transform (the Scala analog of mapInPandas batching —
  * one reusable decoder per partition, rows streamed through it).
  *
  * Since round 4 the CONTAINER-HEADER decode is REAL: PNG / JPEG / GIF
  * headers are parsed byte-for-byte (format, width, height, bit depth —
  * graft.spark.MediaUdfs, also exposed as the native SQL expression
  * `graft_image_header` and oracled by q_multimodal_real). Only the
  * pixel/feature EMBEDDING remains a clearly-marked deterministic fake
  * (`decodeStub`): the actual image/audio codecs are not in this
  * container, and a production embedder drops in by replacing that one
  * function — the schema, partitioning, batch shape, and null handling
  * around it are real and tested.
  */
object Multimodal {

  /** Real container-header decode over a typed media dataset — one
    * header struct per row, malformed payloads become row verdicts
    * (format "unknown"), never task failures. Prefer the native
    * expression `graft_image_header` in DataFrame code (codegen'd); this
    * typed path exists for Dataset pipelines that already carry
    * MediaRow. */
  final case class MediaHeaderRow(
      media_id: String, format: String, width: Int, height: Int,
      depth: Int, ok: Boolean)

  def decodeHeaders(ds: Dataset[MediaRow]): Dataset[MediaHeaderRow] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.map { row =>
      val (fmt, w, h, d) = graft.spark.MediaUdfs.decodeHeader(row.payload)
      MediaHeaderRow(row.media_id, fmt, w, h, d, fmt != "unknown")
    })
  }

  final case class MediaRow(
      media_id: String,
      media_type: String, // image | audio | video
      payload: Array[Byte],
      width: Int,
      height: Int,
      duration_ms: Long)

  final case class MediaFeatures(
      media_id: String,
      media_type: String,
      feature: Array[Float], // embedding-shaped output
      frames_sampled: Int,
      ok: Boolean)

  /** STUB decoder — deterministic fake features derived from payload
    * bytes (replace with a real codec in production; the signature and
    * batching are the contract). */
  def decodeStub(row: MediaRow, dim: Int): MediaFeatures = {
    if (row.payload == null || row.payload.isEmpty)
      return MediaFeatures(row.media_id, row.media_type, Array.empty, 0, ok = false)
    val out = new Array[Float](dim)
    var h = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < row.payload.length) {
      h = (h ^ row.payload(i)) * 0x100000001B3L
      out(i % dim) += ((h >>> 40) & 0xFF).toFloat / 255f
      i += 1
    }
    val frames = row.media_type match {
      case "video" => math.max(1, (row.duration_ms / 1000L).toInt)
      case "audio" => math.max(1, (row.duration_ms / 5000L).toInt)
      case _ => 1
    }
    MediaFeatures(row.media_id, row.media_type, out, frames, ok = true)
  }

  /** Batched feature extraction: one decoder context per partition
    * (expensive init amortized — the mapInPandas batch-shape contract),
    * rows streamed, failures isolated per row. */
  def extractFeatures(ds: Dataset[MediaRow], dim: Int = 64): Dataset[MediaFeatures] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      // per-partition decoder init would go here (native lib handle etc.)
      it.map { row =>
        try decodeStub(row, dim)
        catch { case NonFatal(_) =>
          MediaFeatures(row.media_id, row.media_type, Array.empty, 0, ok = false)
        }
      }
    }
  }

  /** Partitioning for media tables: payloads are large — repartition by
    * size-aware bucket exactly like documents (reuses the pipeline's
    * giant-doc strategy) so a 4 GB video never straggles a task of
    * thumbnails. */
  def sizeBucketed(df: DataFrame, partitions: Int, giantBuckets: Int,
                   giantBytes: Long): DataFrame = {
    val bucket = when(length(col("payload")) > giantBytes,
        pmod(xxhash64(col("media_id")), lit(giantBuckets)) + partitions)
      .otherwise(pmod(xxhash64(col("media_id")), lit(partitions)))
    df.repartition(partitions + giantBuckets, bucket)
  }
}
