package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

case class MediaBlob(media_id: Long, media_type: String,
                     content: Array[Byte])

case class DecodedMeta(media_id: Long, media_type: String,
                       width: Int, height: Int, payload_bytes: Long,
                       decode_ok: Boolean)

/** Multimodal columns: image/audio/video as opaque `BinaryType` content
  * plus typed metadata, with the compute split the way a 100 TB media
  * pipeline needs it —
  *
  *  - metadata-only planning (frame sampling, resize targets) stays
  *    relational: pure column math over (id, meta), prunable and
  *    codegen'd, never touching the blob column;
  *  - blob work (decode) runs partition-wise over the binary column
  *    with one decoder instance per partition — the Scala analogue of
  *    a batched `mapInPandas` decode UDF.
  *
  * The codec itself is STUBBED (no image/audio libraries in this
  * environment): content carries a deterministic 12-byte header
  * (magic, width, height) that [[decodeStub]] parses. The Spark-side
  * plumbing — schema, binary encoders, partition batching, null-safe
  * failure routing — is real and tested; swapping the stub for a JNI
  * or library decoder changes one function.
  */
object Multimodal extends Serializable
    with WavCodec with PngCodec with Y4mCodec with JpegCodec with WebImageCodec with Vp8lCodec with Vp8Codec with BrotliCodec with CompressionCodec with TextCharsetCodec with Mp4Codec with AudioCodec with FlacPcmCodec with PdfCodec with MpegTsCodec with DispatchCodec {


  val Magic: Int = 0x47524d4d // "GRMM"

  /** Deterministic fake blob: 12-byte header (magic, width, height big-
    * endian) + pseudo-random payload derived from the id. Stands in for
    * reading real media files; layout is what [[decodeStub]] parses.
    */
  def syntheticBlob(id: Long, mediaType: String, width: Int, height: Int,
                    payloadLen: Int): MediaBlob = {
    val bb = java.nio.ByteBuffer.allocate(12 + payloadLen)
    bb.putInt(Magic).putInt(width).putInt(height)
    var x = id * 6364136223846793005L + 1442695040888963407L
    (0 until payloadLen).foreach { _ =>
      x = x * 6364136223846793005L + 1442695040888963407L
      bb.put((x >>> 56).toByte)
    }
    MediaBlob(id, mediaType, bb.array())
  }

  /** STUB decode (the `???` seam for a real codec): parse the header,
    * route malformed blobs to `decode_ok = false` instead of failing
    * the task. One "decoder" per partition via mapPartitions — blobs
    * never shuffle, the lineage stays columnar.
    */
  def decodeStub(blobs: Dataset[MediaBlob]): Dataset[DecodedMeta] = {
    import blobs.sparkSession.implicits._
    blobs.mapPartitions { it =>
      // per-partition decoder setup would go here (model / codec init)
      it.map { b =>
        val buf = java.nio.ByteBuffer.wrap(b.content)
        if (b.content.length >= 12 && buf.getInt(0) == Magic)
          DecodedMeta(b.media_id, b.media_type,
            buf.getInt(4), buf.getInt(8), b.content.length - 12L, true)
        else
          DecodedMeta(b.media_id, b.media_type, -1, -1, -1L, false)
      }
    }
  }
}
