package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** A media asset as it flows through the pipeline: opaque bytes + typed
  * metadata. At 100 TB the bytes column dominates storage — everything here
  * is written so Parquet column pruning can drop `bytes` whenever a stage
  * only touches metadata.
  */
final case class MediaAsset(
    asset_id: Long,
    kind: String, // image | audio | video
    bytes: Array[Byte],
    width: Int,
    height: Int,
    duration_ms: Long)

/** Features extracted by the (stubbed) decoder. */
final case class MediaFeatures(
    asset_id: Long,
    kind: String,
    n_bytes: Long,
    checksum: Long,
    brightness: Double, // stub: mean byte value of the sampled frames
    n_frames_sampled: Int)

/** Multimodal column support: image/audio/video as opaque `binary` columns
  * with typed metadata, plus decode / feature-extract / frame-sample stages.
  *
  * The decode step is STUBBED (no image/audio codecs ship in this
  * container): [[StubCodec]] is a deterministic fake that treats the byte
  * stream itself as "pixels". Everything around it — the schema, the
  * per-partition batching, column pruning, the `Dataset` plumbing — is real
  * and is what a production deployment would keep while swapping StubCodec
  * for an actual codec (JNI/FFI) inside the same `mapPartitions`.
  *
  * Why `mapPartitions` and not a per-row UDF: a real decoder amortizes
  * per-batch setup (codec context, scratch buffers) across a partition; the
  * iterator shape below is exactly that contract.
  */
object Multimodal {

  /** STUB decoder — deterministic fake standing in for libjpeg/ffmpeg.
    * Real and tested: the batch iteration contract, sampling arithmetic,
    * and feature schema. Fake: the "pixels" are the raw bytes.
    */
  object StubCodec {
    /** "Decode" a frame: every `stride`-th 16-byte block is a frame. */
    def sampleFrames(bytes: Array[Byte], stride: Int): Seq[Array[Byte]] = {
      if (bytes.isEmpty) return Seq.empty
      (0 until bytes.length by (16 * stride)).map { off =>
        bytes.slice(off, math.min(off + 16, bytes.length))
      }
    }

    def checksum(bytes: Array[Byte]): Long =
      bytes.foldLeft(1125899906842597L)((h, b) => 31 * h + b)

    /** "Resize" to a target byte budget: nearest-neighbor downsampling over
      * the byte stream (stride = ceil(len/target)). Deterministic; a real
      * codec would do pixel-space interpolation with identical plumbing.
      */
    def resize(bytes: Array[Byte], targetLen: Int): Array[Byte] = {
      if (bytes.length <= targetLen || targetLen <= 0) return bytes
      val stride = math.ceil(bytes.length.toDouble / targetLen).toInt
      (0 until bytes.length by stride).map(bytes).toArray
    }

    def brightness(frames: Seq[Array[Byte]]): Double = {
      val all = frames.flatten
      if (all.isEmpty) 0.0 else all.map(b => (b & 0xff).toDouble).sum / all.length
    }
  }

  /** Build a deterministic MediaAsset table from the documents fixture (the
    * container has no real media, so assets are derived from text bytes —
    * sizes/dims vary with the document, which is what the partitioning and
    * pruning behavior cares about).
    */
  def syntheticAssets(s: SparkSession, dir: String): Dataset[MediaAsset] = {
    import s.implicits._
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("n_chars"))
      .as[(Long, String, Long)]
      .map { case (id, text, nChars) =>
        val bytes = text.getBytes("UTF-8")
        val kind = (id % 3) match {
          case 0 => "image"; case 1 => "audio"; case _ => "video"
        }
        MediaAsset(id, kind, bytes,
          width = (nChars % 640).toInt + 1,
          height = (nChars % 480).toInt + 1,
          duration_ms = nChars * 10)
      }
  }

  /** Resize stage: cap every asset's payload at `targetBytes` via the stub
    * codec's downsampler, preserving metadata. A map-only stage — no
    * shuffle; at 100 TB this is the bandwidth-reduction step that runs
    * before any join or collect touches the bytes column.
    */
  def resizeAssets(assets: Dataset[MediaAsset], targetBytes: Int): Dataset[MediaAsset] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      it.map(a => a.copy(bytes = StubCodec.resize(a.bytes, targetBytes)))
    }
  }

  /** The decode/feature-extract stage: per-partition batched, pruning-
    * friendly (only `bytes` + keys are read). Frame stride: video samples
    * every 4th frame, audio every 2nd, images take all blocks.
    */
  def extractFeatures(assets: Dataset[MediaAsset]): Dataset[MediaFeatures] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      // per-partition setup would open the real codec context here
      it.map { a =>
        val stride = a.kind match {
          case "video" => 4; case "audio" => 2; case _ => 1
        }
        val frames = StubCodec.sampleFrames(a.bytes, stride)
        MediaFeatures(a.asset_id, a.kind, a.bytes.length.toLong,
          StubCodec.checksum(a.bytes),
          math.rint(StubCodec.brightness(frames) * 10000) / 10000,
          frames.length)
      }
    }
  }

  /** x11 query: metadata-only profile of the binary column — expressible in
    * both engines via utf8-byte functions, so the binary plumbing gets an
    * oracle even though the codec is stubbed. Reads NO media bytes beyond
    * what the expressions need (octet_length/md5 operate on the value, but
    * the scan prunes every other column).
    */
  def x11MultimodalMeta(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .select(
        col("doc_id"),
        length(col("text").cast("binary")).as("n_bytes"),
        md5(col("text").cast("binary")).as("digest"),
        ascii(substring(col("text"), 1, 1)).as("first_byte"),
        (col("doc_id") % 3).as("kind_code"))

  val entries: Seq[Entry] = Seq(
    Entry("x11_multimodal_meta", x11MultimodalMeta _, """
      SELECT doc_id,
             octet_length(encode(text)) AS n_bytes,
             md5(text) AS digest,
             ascii(substring(text, 1, 1)) AS first_byte,
             doc_id % 3 AS kind_code
      FROM documents
      ORDER BY doc_id"""))
}
