package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Decompressed-text row: `n_chars` of the UTF-8 payload, plus its
  * lowercase-hex MD5 (the cross-engine checksum — compressed BYTES
  * are encoder-dependent, decompressed CONTENT is the contract).
  */
case class GzipText(media_id: Long, n_chars: Long, digest: String,
                    decode_ok: Boolean)

/** One decompressed-text metadata row per blob: sniffed codec,
  * decoded length + md5 (content is the contract — compressed bytes
  * are encoder-dependent).
  */
case class DecompressedText(media_id: Long, codec: String,
                            n_chars: Long, digest: String,
                            decode_ok: Boolean)

/** Compressed-text envelopes: gzip/zlib/zstd/LZ4 with bomb caps, magic-byte sniff, mixed-codec auto route.
  *
  * One slice of [[Multimodal]] (mixed in there; call sites use
  * `Multimodal.*`) — split per codec for reviewability, no behavior
  * change.
  */
private[multimodal] trait CompressionCodec extends Serializable {
  this: BrotliCodec => // declared-encoding brotli routing
  // ------------------------------------------------------------------
  // GZIP: the compressed-text leg. Crawl text arrives gzip-framed
  // (CommonCrawl WET/WARC payloads, .json.gz dumps); a 100 TB text
  // pipeline decompresses blob columns partition-locally before any
  // text operator runs. java.util.zip is in every JVM — no new deps.
  // ------------------------------------------------------------------


  /** GZIP-deflate `data` (deterministic: fixed level, no OS/mtime
    * header fields beyond the writer's defaults). Fixture writer for
    * the decompression path.
    */
  def gzipBytes(data: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(data); gz.close()
    bos.toByteArray
  }

  /** Inflate a gzip member; None on bad magic, truncation, or a
    * corrupt stream — the row-property contract. `maxBytes` bounds
    * decompression-bomb blowup (a 100 TB crawl column WILL contain
    * hostile frames): inflation stops past the cap and the blob
    * reports undecodable rather than OOMing the executor.
    */
  def gunzip(bytes: Array[Byte],
             maxBytes: Int = 1 << 26): Option[Array[Byte]] =
    if (bytes.length < 18 || (bytes(0) & 0xff) != 0x1f ||
      (bytes(1) & 0xff) != 0x8b) None
    else drainCapped(() => new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(bytes)), maxBytes)

  /** Partition-wise gzip text decode — the [[decodeWav]] contract:
    * one inflater pass per partition, blobs never shuffle; output is
    * (length, md5) METADATA, so downstream exchanges move hashes,
    * never payloads.
    */
  def decodeGzipText(blobs: Dataset[MediaBlob]): Dataset[GzipText] = {
    import blobs.sparkSession.implicits._
    blobs.mapPartitions(_.map { b =>
      gunzip(b.content) match {
        case Some(data) =>
          val md = java.security.MessageDigest.getInstance("MD5")
          val hex = md.digest(data).map("%02x".format(_)).mkString
          GzipText(b.media_id,
            new String(data, "UTF-8").length.toLong, hex,
            decode_ok = true)
        case None =>
          GzipText(b.media_id, -1L, "", decode_ok = false)
      }
    })
  }

  /** Bounded copy of a decompression stream — the [[gunzip]]
    * bomb-cap contract shared by every codec leg below. Takes the
    * stream as a THUNK so constructor-time validation failures (XZ
    * stream-flags CRC, bzip2 first block magic, zstd/LZ4 frame
    * headers — all eagerly checked past the sniffed magic) land in
    * the same catch as drain-time corruption: a blob with a valid
    * magic but garbage right after must be decode_ok=false, never a
    * task-killing IOException (the dispatchDecode never-fail
    * contract).
    */
  private def drainCapped(mkIn: () => java.io.InputStream,
                          maxBytes: Int): Option[Array[Byte]] = {
    // the stream is closed on EVERY exit (bomb-cap early return,
    // corruption exception): zstd/xz streams hold native/off-heap
    // buffers until finalization, and the bomb/corruption paths are
    // exactly where many such streams would otherwise pile up per task
    var in: java.io.InputStream = null
    try {
      in = mkIn()
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) {
        out.write(buf, 0, n)
        if (out.size() > maxBytes) return None
        n = in.read(buf)
      }
      Some(out.toByteArray)
    } catch { case _: java.io.IOException => None
      case _: RuntimeException => None
    } finally if (in != null) {
      try in.close() catch { case _: Throwable => () }
    }
  }

  /** Bounded `Inflater` loop over `bytes[off, off + len)`: raw
    * deflate when `nowrap` (ZIP members), zlib-framed otherwise (PDF
    * FlateDecode). None on a stall (truncation, or a stream that asks
    * for a preset dictionary), past `maxBytes`, or on corruption; the
    * inflater's native memory is freed on every exit.
    */
  def inflateBounded(bytes: Array[Byte], off: Int, len: Int,
                     maxBytes: Int, nowrap: Boolean): Option[Array[Byte]] = {
    val inf = new java.util.zip.Inflater(nowrap)
    try {
      inf.setInput(bytes, off, len)
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      while (!inf.finished()) {
        val n = inf.inflate(buf)
        if (n == 0 && !inf.finished()) return None // truncated/stuck
        out.write(buf, 0, n)
        if (out.size() > maxBytes) return None     // bomb cap
      }
      Some(out.toByteArray)
    } catch {
      case _: java.util.zip.DataFormatException => None
    } finally inf.end()
  }

  /** Inflate a raw zlib stream (0x78 CMF — html/http payloads show up
    * deflate-framed); None on corruption or past the bomb cap.
    */
  def inflateZlib(bytes: Array[Byte],
                  maxBytes: Int = 1 << 26): Option[Array[Byte]] =
    if (bytes.length < 3 || (bytes(0) & 0xff) != 0x78) None
    else drainCapped(() => new java.util.zip.InflaterInputStream(
      new java.io.ByteArrayInputStream(bytes)), maxBytes)

  /** Decompress a zstandard frame (magic 28 B5 2F FD — the codec
    * CommonCrawl is migrating to). Streamed through zstd-jni's
    * ZstdInputStream, same bomb cap.
    */
  def unzstd(bytes: Array[Byte],
             maxBytes: Int = 1 << 26): Option[Array[Byte]] =
    if (bytes.length < 5 || (bytes(0) & 0xff) != 0x28 ||
      (bytes(1) & 0xff) != 0xb5 || (bytes(2) & 0xff) != 0x2f ||
      (bytes(3) & 0xff) != 0xfd) None
    else drainCapped(() => new com.github.luben.zstd.ZstdInputStream(
      new java.io.ByteArrayInputStream(bytes)), maxBytes)

  /** Decompress an LZ4 FRAME (magic 04 22 4D 18). */
  def unlz4(bytes: Array[Byte],
            maxBytes: Int = 1 << 26): Option[Array[Byte]] =
    if (bytes.length < 7 || (bytes(0) & 0xff) != 0x04 ||
      (bytes(1) & 0xff) != 0x22 || (bytes(2) & 0xff) != 0x4d ||
      (bytes(3) & 0xff) != 0x18) None
    else drainCapped(() => new net.jpountz.lz4.LZ4FrameInputStream(
      new java.io.ByteArrayInputStream(bytes)), maxBytes)

  /** Decompress an XZ stream (magic FD '7zXZ' 00 — how .tar.xz
    * corpus and model-data drops ship). Streamed through the tukaani
    * XZ library on Spark's classpath, same bomb cap.
    */
  def unxz(bytes: Array[Byte],
           maxBytes: Int = 1 << 26): Option[Array[Byte]] =
    if (bytes.length < 12 || (bytes(0) & 0xff) != 0xfd ||
      bytes(1) != '7' || bytes(2) != 'z' || bytes(3) != 'X' ||
      bytes(4) != 'Z' || bytes(5) != 0) None
    else drainCapped(() => new org.tukaani.xz.XZInputStream(
      // decoder-memory cap (KiB): xz -9 needs a 64 MiB dictionary;
      // 256 MiB admits every standard preset while keeping a header
      // that lies about a multi-GiB dictionary a row property
      new java.io.ByteArrayInputStream(bytes), 256 * 1024),
      maxBytes)

  def xzBytes(data: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val opts = new org.tukaani.xz.LZMA2Options(6)
    // preset 6's 8 MiB dictionary allocates ~90 MB of encoder state
    // per call — size it to the payload (fixtures are KBs), floor
    // 64 KiB (the format minimum)
    opts.setDictSize(math.max(1 << 16,
      Integer.highestOneBit(math.max(1, data.length - 1)) * 2))
    val out = new org.tukaani.xz.XZOutputStream(bos, opts)
    out.write(data); out.finish(); out.close()
    bos.toByteArray
  }

  /** Decompress a bzip2 stream ('BZh' + level digit — the other
    * classic dump codec, e.g. Wikipedia exports). Streamed through
    * commons-compress on Spark's classpath, same bomb cap.
    */
  def unbzip2(bytes: Array[Byte],
              maxBytes: Int = 1 << 26): Option[Array[Byte]] =
    if (bytes.length < 10 || bytes(0) != 'B' || bytes(1) != 'Z' ||
      bytes(2) != 'h' || bytes(3) < '1' || bytes(3) > '9') None
    else drainCapped(
      () => new org.apache.commons.compress.compressors.bzip2
        .BZip2CompressorInputStream(
          new java.io.ByteArrayInputStream(bytes), true),
      maxBytes)

  def bzip2Bytes(data: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new org.apache.commons.compress.compressors.bzip2
      .BZip2CompressorOutputStream(bos)
    out.write(data); out.close()
    bos.toByteArray
  }

  /** Framed-snappy (the cross-tool framing format Hadoop-land text
    * ships in; snappy-java rides Spark's classpath like zstd/lz4)
    */
  def unsnappy(bytes: Array[Byte],
               maxBytes: Int = 1 << 26): Option[Array[Byte]] =
    if (bytes.length < 10 || (bytes(0) & 0xff) != 0xff ||
      bytes(1) != 0x06 || bytes(2) != 0x00 || bytes(3) != 0x00 ||
      new String(bytes, 4, 6, "US-ASCII") != "sNaPpY") None
    else drainCapped(() => new org.xerial.snappy.SnappyFramedInputStream(
      new java.io.ByteArrayInputStream(bytes)), maxBytes)

  def snappyBytes(data: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new org.xerial.snappy.SnappyFramedOutputStream(bos)
    out.write(data); out.close()
    bos.toByteArray
  }

  /** Compression sniff by magic bytes (the [[sniffFormat]] doctrine:
    * never trust an extension column). "none" = no known frame.
    */
  def sniffCompression(bytes: Array[Byte]): String = {
    def u(i: Int): Int = bytes(i) & 0xff
    if (bytes.length >= 18 && u(0) == 0x1f && u(1) == 0x8b) "gzip"
    else if (bytes.length >= 5 && u(0) == 0x28 && u(1) == 0xb5 &&
      u(2) == 0x2f && u(3) == 0xfd) "zstd"
    else if (bytes.length >= 7 && u(0) == 0x04 && u(1) == 0x22 &&
      u(2) == 0x4d && u(3) == 0x18) "lz4"
    else if (bytes.length >= 10 && u(0) == 0xff && u(1) == 0x06 &&
      u(2) == 0x00 && u(3) == 0x00 &&
      new String(bytes, 4, 6, "US-ASCII") == "sNaPpY") "snappy"
    else if (bytes.length >= 3 && u(0) == 0x78 &&
      (u(1) == 0x01 || u(1) == 0x5e || u(1) == 0x9c || u(1) == 0xda))
      "zlib"
    else "none"
  }

  /** Route a blob through its sniffed codec; "none" passes the bytes
    * through unchanged (an uncompressed member in a mixed column is
    * data, not an error). Returns (codec, bytes) or None when a
    * recognized frame fails to decompress.
    */
  def decompressAuto(bytes: Array[Byte],
                     maxBytes: Int = 1 << 26)
      : Option[(String, Array[Byte])] =
    sniffCompression(bytes) match {
      case "gzip"   => gunzip(bytes, maxBytes).map("gzip" -> _)
      case "zstd"   => unzstd(bytes, maxBytes).map("zstd" -> _)
      case "lz4"    => unlz4(bytes, maxBytes).map("lz4" -> _)
      case "snappy" => unsnappy(bytes, maxBytes).map("snappy" -> _)
      case "zlib"   => inflateZlib(bytes, maxBytes).map("zlib" -> _)
      case _        => Some("none" -> bytes)
    }


  /** Partition-wise mixed-codec text decompression — the
    * [[decodeGzipText]] contract over gzip/zstd/lz4/zlib/brotli/plain
    * columns. Brotli is HEADERLESS (no magic bytes exist to sniff —
    * `Content-Encoding: br` is declared, never detectable), so rows
    * whose `media_type` carries the HTTP token `"br"` route to
    * [[unbrotli]]; everything else goes through the magic sniff.
    */
  def decompressText(blobs: Dataset[MediaBlob])
      : Dataset[DecompressedText] = {
    import blobs.sparkSession.implicits._
    blobs.mapPartitions(_.map { b =>
      (if (b.media_type == "br") unbrotli(b.content).map("br" -> _)
       else decompressAuto(b.content)) match {
        case Some((codec, data)) =>
          val md = java.security.MessageDigest.getInstance("MD5")
          val hex = md.digest(data).map("%02x".format(_)).mkString
          DecompressedText(b.media_id, codec,
            new String(data, "UTF-8").length.toLong, hex,
            decode_ok = true)
        case None =>
          DecompressedText(b.media_id,
            if (b.media_type == "br") "br"
            else sniffCompression(b.content), -1L, "",
            decode_ok = false)
      }
    })
  }

  /** Fixture writers for the zstd/lz4/zlib legs (gzip:
    * [[gzipBytes]]).
    */
  def zstdBytes(data: Array[Byte]): Array[Byte] =
    com.github.luben.zstd.Zstd.compress(data, 3)

  def lz4Bytes(data: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new net.jpountz.lz4.LZ4FrameOutputStream(bos)
    out.write(data); out.close()
    bos.toByteArray
  }

  def zlibBytes(data: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.util.zip.DeflaterOutputStream(bos)
    out.write(data); out.close()
    bos.toByteArray
  }

}
