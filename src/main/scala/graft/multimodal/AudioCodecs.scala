package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** `version` ∈ {"1","2","2.5"}; `layer` ∈ 1..3; `bitrate_kbps` from
  * the header index (free-format and the reserved index reject).
  * `vbr_frames` is the frame count a Xing/Info/VBRI header declares
  * (-1 when absent) — most web MP3 is VBR, where the first frame's
  * bitrate says nothing about length, so when the tag is present
  * `duration_ms` = frames × samples-per-frame × 1000 / rate (exact
  * integers); without one it falls back to audio bytes (total minus
  * ID3v2 tag and any trailing ID3v1 block) × 8 / bitrate — exact for
  * CBR, the honest first-frame estimate otherwise.
  */
case class Mp3Meta(media_id: Long, version: String, layer: Int,
                   bitrate_kbps: Int, sample_rate: Int, channels: Int,
                   id3_size: Int, vbr_frames: Int, duration_ms: Long,
                   decode_ok: Boolean)

/** ID3v2 text tags — the metadata a speech/music curation pipeline
  * actually keys on (dedup by (artist, title), language/topic
  * routing by album). `id3_version` ∈ {"2.3","2.4"}; absent frames
  * are empty strings; a missing or malformed tag is
  * decode_ok=false.
  */
case class Id3Tags(media_id: Long, id3_version: String, title: String,
                   artist: String, album: String, decode_ok: Boolean)

/** `total_samples` = 0 means "unknown" per spec and reports
  * `duration_ms` = -1; all other fields exact from STREAMINFO.
  */
case class FlacMeta(media_id: Long, sample_rate: Int, channels: Int,
                    bits_per_sample: Int, total_samples: Long,
                    duration_ms: Long, decode_ok: Boolean)

/** `codec` ∈ {"opus","vorbis","unknown"}; for Opus `sample_rate` is
  * the ORIGINAL input rate the header records (Opus itself always
  * decodes at 48 kHz) and `pre_skip` the startup samples to drop;
  * Vorbis reports -1 pre-skip. A well-formed page wrapping an
  * unrecognized first packet keeps decode_ok=false with
  * codec="unknown" — container and codec are separate facts.
  * `duration_ms` comes from the LAST complete page's granule
  * position — Opus granules tick at 48 kHz regardless of input rate
  * (minus pre-skip per RFC 7845 §4.1), Vorbis at the id header's
  * rate; -1 when the stream has no data page past the id header or
  * the final granule is the -1 "no packet ends here" sentinel.
  */
/** ADTS (AAC) stream facts: frames/duration from the header chain —
  * `duration_ms` counts 1024 samples per raw data block;
  * `crc_frames` = frames carrying the optional CRC.
  */
case class AacMeta(media_id: Long, profile: Int, sample_rate: Int,
                   channels: Int, frames: Long, duration_ms: Long,
                   crc_frames: Long, decode_ok: Boolean)

case class OggMeta(media_id: Long, codec: String, channels: Int,
                   sample_rate: Int, pre_skip: Int, duration_ms: Long,
                   decode_ok: Boolean)

/** Comment-header tags from a PACKET-reassembled Ogg stream (the
  * second logical packet: VorbisComment per Vorbis I §5 /
  * `OpusTags` per RFC 7845 §5.2 — same vendor + length-prefixed
  * `KEY=value` layout). `title`/`artist` are the first TITLE=/ARTIST=
  * comments (keys case-insensitive), "" when absent; `n_comments`
  * the declared comment count. decode_ok=false when the stream has
  * no parseable second packet.
  */
case class OggTags(media_id: Long, codec: String, vendor: String,
                   title: String, artist: String, n_comments: Int,
                   decode_ok: Boolean)

/** Container-agnostic audio tag identity: (artist, title) from ID3v2
  * for MP3 blobs or the VorbisComment/OpusTags packet for Ogg blobs —
  * the ONE key audio dedup groups on across a mixed crawl column.
  */
case class AudioTagKey(media_id: Long, container: String, title: String,
                       artist: String, decode_ok: Boolean)

/** Compressed audio: MP3 header/ID3v2 tags, FLAC STREAMINFO, Ogg (Opus/Vorbis) identification headers.
  *
  * One slice of [[Multimodal]] (mixed in there; call sites use
  * `Multimodal.*`) — split per codec for reviewability, no behavior
  * change.
  */
private[multimodal] trait AudioCodec extends Serializable {
  // MP3: the dominant crawl audio format (WAV is the interchange
  // format; podcast/speech crawls are MPEG audio). Metadata needs NO
  // codec decode — skip the ID3v2 tag (syncsafe size), read the FIRST
  // frame header's version/layer/bitrate/samplerate/mode bits, and
  // estimate CBR duration from the audio byte span. The parseJpeg
  // contract: every bound checked before use, any truncation or
  // reserved bit pattern is a row property, never a task failure.
  // ------------------------------------------------------------------


  private val BadMp3 =
    Mp3Meta(0L, "", -1, -1, -1, -1, -1, -1, -1L, decode_ok = false)

  /** Bitrate (kbps) by [mpeg1?][layer 1..3][index 1..14] and sample
    * rate by [version][index 0..2] — the ISO 11172-3 / 13818-3 header
    * tables, public in every MP3 header reference.
    */
  private val Mp3BitrateV1 = Array(
    Array(32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448),
    Array(32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384),
    Array(32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320))
  private val Mp3BitrateV2 = Array(
    Array(32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256),
    Array(8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
    Array(8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160))
  private val Mp3SampleRate = Map(
    "1" -> Array(44100, 48000, 32000),
    "2" -> Array(22050, 24000, 16000),
    "2.5" -> Array(11025, 12000, 8000))

  /** ID3v2 tag length at the head of `bytes` (0 if none): 10-byte
    * header + 28-bit syncsafe size + optional 10-byte footer. -1 when
    * a declared tag overruns the buffer.
    */
  def id3v2Size(bytes: Array[Byte]): Int = {
    if (bytes.length < 10 || bytes(0) != 'I' || bytes(1) != 'D' ||
      bytes(2) != '3') return 0
    def u(i: Int): Int = bytes(i) & 0xff
    // syncsafe: 4×7 bits, high bit of each byte must be clear
    if ((u(6) | u(7) | u(8) | u(9)) >= 0x80) return -1
    val body = (u(6) << 21) | (u(7) << 14) | (u(8) << 7) | u(9)
    val footer = if ((u(5) & 0x10) != 0) 10 else 0
    val total = 10 + body + footer
    if (total > bytes.length) -1 else total
  }

  /** First-frame MPEG audio header parse, ID3-aware. The frame must
    * start exactly where the ID3v2 tag ends (offset 0 without one) —
    * crawl triage wants "is this a clean MP3", not a resync scan that
    * would bless any file containing two 0xFF bytes.
    */
  def parseMp3(id: Long, bytes: Array[Byte]): Mp3Meta = {
    val id3 = id3v2Size(bytes)
    if (id3 < 0 || bytes.length < id3 + 4) return BadMp3.copy(media_id = id)
    def u(i: Int): Int = bytes(i) & 0xff
    val h = id3
    if (u(h) != 0xff || (u(h + 1) & 0xe0) != 0xe0)
      return BadMp3.copy(media_id = id)
    val version = ((u(h + 1) >> 3) & 0x3) match {
      case 0 => "2.5"
      case 2 => "2"
      case 3 => "1"
      case _ => return BadMp3.copy(media_id = id) // reserved
    }
    val layer = ((u(h + 1) >> 1) & 0x3) match {
      case 1 => 3
      case 2 => 2
      case 3 => 1
      case _ => return BadMp3.copy(media_id = id) // reserved
    }
    val brIdx = (u(h + 2) >> 4) & 0xf
    val srIdx = (u(h + 2) >> 2) & 0x3
    // free-format (0) and the all-ones index (15) both reject: no
    // table entry exists, so no duration can be stated honestly
    if (brIdx == 0 || brIdx == 15 || srIdx == 3)
      return BadMp3.copy(media_id = id)
    val table = if (version == "1") Mp3BitrateV1 else Mp3BitrateV2
    val bitrate = table(layer - 1)(brIdx - 1)
    val rate = Mp3SampleRate(version)(srIdx)
    val channels = if (((u(h + 3) >> 6) & 0x3) == 3) 1 else 2
    // trailing ID3v1 block is metadata, not audio
    val id3v1 = if (bytes.length >= id3 + 4 + 128 &&
      bytes(bytes.length - 128) == 'T' && bytes(bytes.length - 127) == 'A' &&
      bytes(bytes.length - 126) == 'G') 128 else 0
    // VBR headers live in the FIRST frame's payload: Xing/Info right
    // after the layer-III side info (whose size depends on version ×
    // channel mode), VBRI at a fixed 32 bytes past the header (the
    // Fraunhofer layout). Either carries the TOTAL frame count, which
    // turns the duration exact where the CBR byte estimate is
    // systematically wrong on variable-bitrate streams.
    def be32(i: Int): Long =
      ((u(i).toLong << 24) | (u(i + 1) << 16) | (u(i + 2) << 8) |
        u(i + 3)) & 0xffffffffL
    def tagAt(i: Int, t: String): Boolean =
      bytes.length >= i + 4 &&
        new String(bytes, i, 4, "US-ASCII") == t
    val sideInfo =
      if (layer != 3) -1 // Xing/VBRI are layer-III structures
      else if (version == "1") { if (channels == 1) 17 else 32 }
      else { if (channels == 1) 9 else 17 }
    val xingOff = h + 4 + sideInfo
    val vbrFrames: Int =
      if (sideInfo >= 0 &&
        (tagAt(xingOff, "Xing") || tagAt(xingOff, "Info")) &&
        bytes.length >= xingOff + 12 && (be32(xingOff + 4) & 1L) == 1L)
        be32(xingOff + 8).toInt
      else if (sideInfo >= 0 && tagAt(h + 36, "VBRI") &&
        bytes.length >= h + 36 + 18)
        be32(h + 36 + 14).toInt
      else -1
    val samplesPerFrame =
      if (layer == 1) 384
      else if (layer == 2) 1152
      else if (version == "1") 1152
      else 576
    val durMs =
      if (vbrFrames >= 0)
        vbrFrames.toLong * samplesPerFrame * 1000L / rate
      else {
        val audioBytes = (bytes.length - id3 - id3v1).toLong
        audioBytes * 8L / bitrate
      }
    Mp3Meta(id, version, layer, bitrate, rate, channels, id3, vbrFrames,
      durMs, decode_ok = true)
  }

  /** Partition-wise MP3 metadata decode — the [[decodeWav]] contract. */
  def decodeMp3(blobs: Dataset[MediaBlob]): Dataset[Mp3Meta] = {
    import blobs.sparkSession.implicits._
    blobs.mapPartitions(_.map(b => parseMp3(b.media_id, b.content)))
  }

  /** Genuine minimal MP3 stream: optional ID3v2 tag (zero-padded body
    * of `id3Body` bytes), `nFrames` correctly-sized frames of the
    * requested version/layer/bitrate/samplerate (frame length by the
    * standard formula, deterministic junk payload), optional trailing
    * ID3v1 block. Any header-table tool reads it back.
    */
  def syntheticMp3(id: Long, version: String, layer: Int,
                   bitrateKbps: Int, sampleRate: Int, mono: Boolean,
                   nFrames: Int, id3Body: Int = 0,
                   id3v1: Boolean = false,
                   vbrTag: String = ""): MediaBlob = {
    require(vbrTag.isEmpty || layer == 3,
      "Xing/Info/VBRI are layer-III structures")
    require(Set("", "Xing", "Info", "VBRI")(vbrTag),
      s"unknown VBR tag $vbrTag")
    val table = if (version == "1") Mp3BitrateV1 else Mp3BitrateV2
    val brIdx = table(layer - 1).indexOf(bitrateKbps) + 1
    val srIdx = Mp3SampleRate(version).indexOf(sampleRate)
    require(brIdx >= 1 && srIdx >= 0,
      s"syntheticMp3: no header index for ${bitrateKbps}kbps/$sampleRate" +
        s"Hz in MPEG-$version layer $layer")
    val verBits = version match {
      case "1" => 3; case "2" => 2; case _ => 0
    }
    val layerBits = 4 - layer
    val frameLen =
      if (layer == 1)
        (12 * bitrateKbps * 1000 / sampleRate) * 4
      else {
        val coef = if (layer == 3 && version != "1") 72 else 144
        coef * bitrateKbps * 1000 / sampleRate
      }
    val out = new java.io.ByteArrayOutputStream()
    if (id3Body > 0) {
      out.write('I'); out.write('D'); out.write('3')
      out.write(4); out.write(0); out.write(0) // v2.4, no flags
      out.write((id3Body >> 21) & 0x7f); out.write((id3Body >> 14) & 0x7f)
      out.write((id3Body >> 7) & 0x7f); out.write(id3Body & 0x7f)
      out.write(new Array[Byte](id3Body))
    }
    val hdr = Array[Int](0xff,
      0xe0 | (verBits << 3) | (layerBits << 1) | 1,
      (brIdx << 4) | (srIdx << 2),
      (if (mono) 0xc0 else 0x00))
    for (f <- 0 until nFrames) {
      hdr.foreach(out.write)
      val payload = new Array[Byte](frameLen - 4)
      for (i <- 4 until frameLen)
        payload(i - 4) = ((id * 131 + f * 17 + i) & 0xff).toByte
      if (f == 0 && vbrTag.nonEmpty) {
        // the tag sits where parseMp3 looks: Xing/Info after the
        // side info (zeroed here, as real encoders leave it in the
        // tag frame), VBRI at the fixed 32-byte Fraunhofer offset
        val sideInfo =
          if (version == "1") { if (mono) 17 else 32 }
          else { if (mono) 9 else 17 }
        val at = if (vbrTag == "VBRI") 32 else sideInfo
        def be32(v: Long, off: Int): Unit = {
          payload(off) = ((v >> 24) & 0xff).toByte
          payload(off + 1) = ((v >> 16) & 0xff).toByte
          payload(off + 2) = ((v >> 8) & 0xff).toByte
          payload(off + 3) = (v & 0xff).toByte
        }
        val need = at + (if (vbrTag == "VBRI") 18 else 12)
        require(need <= payload.length,
          s"frame too small ($frameLen B) for a $vbrTag header")
        java.util.Arrays.fill(payload, 0, at, 0.toByte)
        vbrTag.getBytes("US-ASCII").copyToArray(payload, at)
        if (vbrTag == "VBRI") be32(nFrames.toLong, at + 14)
        else { be32(1L, at + 4); be32(nFrames.toLong, at + 8) }
      }
      out.write(payload)
    }
    if (id3v1) {
      out.write('T'); out.write('A'); out.write('G')
      out.write(new Array[Byte](125))
    }
    MediaBlob(id, "audio/mpeg", out.toByteArray)
  }


  private val BadId3 = Id3Tags(0L, "", "", "", "", decode_ok = false)

  /** Parse the leading ID3v2.3/2.4 tag's TIT2/TPE1/TALB text frames.
    * Frame sizes are plain big-endian in 2.3 and syncsafe in 2.4 (THE
    * classic cross-version parsing bug — a 2.4 size read as plain
    * overruns into the next frame); text decodes by the frame's
    * encoding byte (0 ISO-8859-1, 1 UTF-16 with BOM, 2 UTF-16BE,
    * 3 UTF-8), trailing NUL terminators stripped. Padding (a zero
    * byte where a frame id should start) ends the walk. Any frame
    * overrunning the tag bound rejects the whole blob — row property,
    * never a task failure.
    */
  def parseId3(id: Long, bytes: Array[Byte]): Id3Tags = {
    def u(i: Int): Int = bytes(i) & 0xff
    if (bytes.length < 10 || bytes(0) != 'I' || bytes(1) != 'D' ||
      bytes(2) != '3') return BadId3.copy(media_id = id)
    val major = u(3)
    if (major != 3 && major != 4) return BadId3.copy(media_id = id)
    if ((u(6) | u(7) | u(8) | u(9)) >= 0x80)
      return BadId3.copy(media_id = id)
    val body = (u(6) << 21) | (u(7) << 14) | (u(8) << 7) | u(9)
    val tagEnd = 10 + body
    if (tagEnd > bytes.length) return BadId3.copy(media_id = id)
    var title = ""; var artist = ""; var album = ""
    var off = 10
    var bad = false
    var done = false
    while (!done && !bad && off + 10 <= tagEnd) {
      if (bytes(off) == 0) done = true
      else {
        val fid = new String(bytes, off, 4, "US-ASCII")
        val size =
          if (major == 4) {
            if ((u(off + 4) | u(off + 5) | u(off + 6) | u(off + 7))
              >= 0x80) { bad = true; 0 }
            else (u(off + 4) << 21) | (u(off + 5) << 14) |
              (u(off + 6) << 7) | u(off + 7)
          } else (u(off + 4) << 24) | (u(off + 5) << 16) |
            (u(off + 6) << 8) | u(off + 7)
        if (!bad && (size < 1 || off + 10 + size > tagEnd)) bad = true
        if (!bad && Set("TIT2", "TPE1", "TALB").contains(fid)) {
          val cs = u(off + 10) match {
            case 0 => "ISO-8859-1"
            case 1 => "UTF-16"   // BOM-led, per spec
            case 2 => "UTF-16BE"
            case 3 => "UTF-8"
            case _ => ""
          }
          if (cs.isEmpty) bad = true
          else {
            val txt = new String(bytes, off + 11, size - 1, cs)
              .replaceAll("\u0000+$", "")
            fid match {
              case "TIT2" => title = txt
              case "TPE1" => artist = txt
              case _      => album = txt
            }
          }
        }
        off += 10 + size
      }
    }
    if (bad) BadId3.copy(media_id = id)
    else Id3Tags(id, if (major == 4) "2.4" else "2.3", title, artist,
      album, decode_ok = true)
  }

  /** Partition-wise ID3 tag decode — the [[decodeWav]] contract. */
  def decodeId3(blobs: Dataset[MediaBlob]): Dataset[Id3Tags] = {
    import blobs.sparkSession.implicits._
    blobs.mapPartitions(_.map(b => parseId3(b.media_id, b.content)))
  }

  /** Genuine tagged MP3: an ID3v2.3 or 2.4 tag carrying TIT2/TPE1/
    * TALB in the requested encoding (correct per-version frame-size
    * form, NUL terminators, 16 bytes of padding) prepended to a valid
    * [[syntheticMp3]] frame stream — both parsers read their half
    * back ([[parseMp3]] skips the tag by its syncsafe size).
    */
  def syntheticTaggedMp3(id: Long, title: String, artist: String,
                         album: String, v4: Boolean,
                         enc: Int): MediaBlob = {
    require(Set(0, 1, 3).contains(enc),
      "syntheticTaggedMp3: generator emits encodings 0/1/3")
    val cs = enc match {
      case 0 => "ISO-8859-1"
      case 1 => "UTF-16"   // Java writes a BOM + UTF-16BE payload
      case _ => "UTF-8"
    }
    val term = if (enc == 1) Array[Byte](0, 0) else Array[Byte](0)
    def frame(fid: String, text: String): Array[Byte] = {
      val payload = Array(enc.toByte) ++ text.getBytes(cs) ++ term
      val n = payload.length
      val sz =
        if (v4) Array(((n >> 21) & 0x7f).toByte, ((n >> 14) & 0x7f).toByte,
          ((n >> 7) & 0x7f).toByte, (n & 0x7f).toByte)
        else Array((n >>> 24).toByte, ((n >> 16) & 0xff).toByte,
          ((n >> 8) & 0xff).toByte, (n & 0xff).toByte)
      fid.getBytes("US-ASCII") ++ sz ++ Array[Byte](0, 0) ++ payload
    }
    val bodyArr = frame("TIT2", title) ++ frame("TPE1", artist) ++
      frame("TALB", album) ++ new Array[Byte](16)
    val n = bodyArr.length
    val header = Array[Byte]('I', 'D', '3',
      (if (v4) 4 else 3).toByte, 0, 0,
      ((n >> 21) & 0x7f).toByte, ((n >> 14) & 0x7f).toByte,
      ((n >> 7) & 0x7f).toByte, (n & 0x7f).toByte)
    val audio = syntheticMp3(id, "1", 3, 128, 44100, mono = true,
      nFrames = 2).content
    MediaBlob(id, "audio/mpeg", header ++ bodyArr ++ audio)
  }

  // ------------------------------------------------------------------
  // FLAC: the lossless audio leg. STREAMINFO (the mandatory first
  // metadata block) carries everything triage needs in 34 fixed-layout
  // bytes — sample rate, channels, bit depth, total samples.
  // ------------------------------------------------------------------


  private val BadFlac =
    FlacMeta(0L, -1, -1, -1, -1L, -1L, decode_ok = false)

  /** fLaC magic + STREAMINFO parse. The spec REQUIRES STREAMINFO to be
    * the first metadata block — a stream leading with anything else is
    * malformed and rejects, as does a declared block overrunning the
    * buffer or a zero sample rate.
    */
  def parseFlac(id: Long, bytes: Array[Byte]): FlacMeta = {
    def u(i: Int): Int = bytes(i) & 0xff
    if (bytes.length < 4 + 4 + 34 || bytes(0) != 'f' || bytes(1) != 'L' ||
      bytes(2) != 'a' || bytes(3) != 'C') return BadFlac.copy(media_id = id)
    val blockType = u(4) & 0x7f
    val blockLen = (u(5) << 16) | (u(6) << 8) | u(7)
    if (blockType != 0 || blockLen < 34 ||
      8L + blockLen > bytes.length) return BadFlac.copy(media_id = id)
    val s = 8 + 10 // skip min/max blocksize (4) + min/max framesize (6)
    // 64 bits: 20 samplerate | 3 channels-1 | 5 bps-1 | 36 totalSamples
    var acc = 0L
    for (i <- 0 until 8) acc = (acc << 8) | u(s + i)
    val rate = (acc >>> 44).toInt
    val channels = ((acc >>> 41) & 0x7).toInt + 1
    val bps = ((acc >>> 36) & 0x1f).toInt + 1
    val total = acc & 0xfffffffffL
    if (rate <= 0) return BadFlac.copy(media_id = id)
    val durMs = if (total == 0L) -1L else total * 1000L / rate
    FlacMeta(id, rate, channels, bps, total, durMs, decode_ok = true)
  }

  /** Genuine minimal FLAC header: magic + last-block STREAMINFO with
    * the given parameters (zero min/max frame sizes, deterministic
    * MD5-field junk) + a few payload bytes. Any STREAMINFO reader
    * parses it back.
    */
  def syntheticFlac(id: Long, sampleRate: Int, channels: Int,
                    bitsPerSample: Int, totalSamples: Long): MediaBlob = {
    require(sampleRate > 0 && sampleRate < (1 << 20))
    require(channels >= 1 && channels <= 8)
    require(bitsPerSample >= 4 && bitsPerSample <= 32)
    require(totalSamples >= 0L && totalSamples < (1L << 36))
    val out = new java.io.ByteArrayOutputStream()
    out.write('f'); out.write('L'); out.write('a'); out.write('C')
    out.write(0x80) // last-metadata-block flag + type 0 (STREAMINFO)
    out.write(0); out.write(0); out.write(34)
    val blockSize = 4096
    out.write(blockSize >> 8); out.write(blockSize & 0xff)
    out.write(blockSize >> 8); out.write(blockSize & 0xff)
    for (_ <- 0 until 6) out.write(0) // min/max frame size unknown
    var acc = (sampleRate.toLong << 44) |
      ((channels - 1).toLong << 41) |
      ((bitsPerSample - 1).toLong << 36) | totalSamples
    for (i <- 7 to 0 by -1) out.write(((acc >>> (8 * i)) & 0xff).toInt)
    for (i <- 0 until 16) out.write(((id * 37 + i) & 0xff).toInt)
    for (i <- 0 until 8) out.write(((id * 53 + i) & 0xff).toInt)
    MediaBlob(id, "audio/flac", out.toByteArray)
  }

  // ------------------------------------------------------------------
  // OGG: the streaming-audio container (Opus is the web-voice codec;
  // Vorbis the legacy one). The first page's payload is the codec's
  // identification header — channels/rate without any codec decode.
  // ------------------------------------------------------------------


  private val BadOgg =
    OggMeta(0L, "", -1, -1, -1, -1L, decode_ok = false)

  /** Ogg parse: capture pattern, stream-structure version 0, segment
    * table bounds, then the first page's payload against the OpusHead
    * (LE fields) and 0x01+"vorbis" (LE fields) identification
    * layouts. Duration comes from walking the page headers to the
    * LAST complete page's granule position (RFC 3533 §6) — the
    * standard trick for length without decoding a single packet:
    * Opus granules tick at 48 kHz minus the pre-skip (RFC 7845),
    * Vorbis at the id header's rate. A truncated trailing page is
    * skipped (its granule never counted); truncation of the FIRST
    * page is a row property.
    */
  def parseOgg(id: Long, bytes: Array[Byte]): OggMeta = {
    def u(i: Int): Int = bytes(i) & 0xff
    def le16(i: Int): Int = u(i) | (u(i + 1) << 8)
    def le32(i: Int): Long = le16(i).toLong | (le16(i + 2).toLong << 16)
    def le64(i: Int): Long = le32(i) | (le32(i + 4) << 32)
    if (bytes.length < 28 || bytes(0) != 'O' || bytes(1) != 'g' ||
      bytes(2) != 'g' || bytes(3) != 'S' || u(4) != 0)
      return BadOgg.copy(media_id = id)
    val nsegs = u(26)
    if (bytes.length < 27 + nsegs) return BadOgg.copy(media_id = id)
    var payloadLen = 0
    var i = 0
    while (i < nsegs) { payloadLen += u(27 + i); i += 1 }
    val p = 27 + nsegs
    if (bytes.length < p + payloadLen) return BadOgg.copy(media_id = id)
    // page walk: last COMPLETE page's granule; bounded by byte length
    var off = 0
    var lastGranule = -1L
    var nPages = 0
    var walking = true
    while (walking && off + 27 <= bytes.length &&
      bytes(off) == 'O' && bytes(off + 1) == 'g' &&
      bytes(off + 2) == 'g' && bytes(off + 3) == 'S' &&
      u(off + 4) == 0) {
      val ns = u(off + 26)
      if (off + 27 + ns > bytes.length) walking = false
      else {
        var pl = 0
        var k = 0
        while (k < ns) { pl += u(off + 27 + k); k += 1 }
        if (off + 27 + ns + pl > bytes.length) walking = false
        else {
          lastGranule = le64(off + 6)
          nPages += 1
          off += 27 + ns + pl
        }
      }
    }
    def ascii(o: Int, n: Int): String =
      new String(bytes, o, n, "US-ASCII")
    // duration is only claimable with a data page past the id header
    // and a non-sentinel granule (-1 = "no packet ends on this page")
    def durMs(samplesPerMs: Long => Long): Long =
      if (nPages <= 1 || lastGranule < 0) -1L
      else samplesPerMs(lastGranule)
    if (payloadLen >= 19 && ascii(p, 8) == "OpusHead") {
      val channels = u(p + 9)
      val preSkip = le16(p + 10)
      val rate = le32(p + 12)
      if (channels < 1 || rate <= 0 || rate > Int.MaxValue)
        BadOgg.copy(media_id = id)
      else OggMeta(id, "opus", channels, rate.toInt, preSkip,
        durMs(g => math.max(0L, g - preSkip) * 1000L / 48000L),
        decode_ok = true)
    } else if (payloadLen >= 16 && u(p) == 1 &&
      ascii(p + 1, 6) == "vorbis") {
      val channels = u(p + 11)
      val rate = le32(p + 12)
      if (channels < 1 || rate <= 0 || rate > Int.MaxValue)
        BadOgg.copy(media_id = id)
      else OggMeta(id, "vorbis", channels, rate.toInt, -1,
        durMs(g => g * 1000L / rate),
        decode_ok = true)
    } else OggMeta(id, "unknown", -1, -1, -1, -1L, decode_ok = false)
  }

  /** Partition-wise Ogg metadata decode — the [[decodeWav]] contract. */
  def decodeOgg(blobs: Dataset[MediaBlob]): Dataset[OggMeta] = {
    import blobs.sparkSession.implicits._
    blobs.mapPartitions(_.map(b => parseOgg(b.media_id, b.content)))
  }

  /** Reassemble the first `maxPackets` LOGICAL packets of an Ogg
    * stream — the RFC 3533 §5 lacing walk the identification-header
    * parse skips: each page's segment table partitions its payload
    * into segments; a lacing value < 255 ENDS a packet, 255 continues
    * it (possibly onto the next page, whose header sets the
    * continued-packet flag 0x01). A page that claims no continuation
    * while a partial packet is open (or vice versa) aborts the walk —
    * packets reassembled across a desync would be garbage.
    */
  /** RFC 3533 §6 page-CRC table: CRC-32, generator 0x04c11db7,
    * unreflected, init 0, no final xor (NOT the zlib CRC and NOT
    * MpegTs's init-0xFFFFFFFF PSI variant).
    */
  private[multimodal] val OggCrcTable: Array[Int] = {
    val t = new Array[Int](256)
    var n = 0
    while (n < 256) {
      var c = n << 24
      var k = 0
      while (k < 8) {
        c = if ((c & 0x80000000) != 0) (c << 1) ^ 0x04c11db7 else c << 1
        k += 1
      }
      t(n) = c
      n += 1
    }
    t
  }

  /** CRC of one assembled page (bytes 22-25 treated as zero). */
  private def oggPageCrc(page: Array[Byte], off: Int, len: Int): Int = {
    var crc = 0
    var i = 0
    while (i < len) {
      val byt = if (i >= 22 && i < 26) 0 else page(off + i) & 0xff
      crc = (crc << 8) ^ OggCrcTable(((crc >>> 24) ^ byt) & 0xff)
      i += 1
    }
    crc
  }

  def oggPackets(bytes: Array[Byte],
                 maxPackets: Int = 8): Seq[Array[Byte]] = {
    def u(i: Int): Int = bytes(i) & 0xff
    val out = mutable.ListBuffer.empty[Array[Byte]]
    var cur = new java.io.ByteArrayOutputStream()
    var open = false
    var off = 0
    while (out.size < maxPackets && off + 27 <= bytes.length &&
      bytes(off) == 'O' && bytes(off + 1) == 'g' &&
      bytes(off + 2) == 'g' && bytes(off + 3) == 'S' &&
      u(off + 4) == 0) {
      val continued = (u(off + 5) & 0x01) != 0
      if (continued != open) return out.toList
      val ns = u(off + 26)
      if (off + 27 + ns > bytes.length) return out.toList
      var pl = 0
      var k = 0
      while (k < ns) { pl += u(off + 27 + k); k += 1 }
      if (off + 27 + ns + pl > bytes.length) return out.toList
      // RFC 3533 §6: page CRC (offset 22, LE). Gate the lacing on
      // it, mirroring MpegTs's CRC-gated PSI: a bit-flipped page
      // must abort (decode_ok false upstream), never garbage tags.
      val storedCrc = u(off + 22) | (u(off + 23) << 8) |
        (u(off + 24) << 16) | (u(off + 25) << 24)
      if (oggPageCrc(bytes, off, 27 + ns + pl) != storedCrc)
        return out.toList
      var p = off + 27 + ns
      k = 0
      while (k < ns) {
        val seg = u(off + 27 + k)
        cur.write(bytes, p, seg)
        p += seg
        if (seg < 255) {
          if (out.size < maxPackets) out += cur.toByteArray
          cur = new java.io.ByteArrayOutputStream()
          open = false
        } else open = true
        k += 1
      }
      off += 27 + ns + pl
    }
    out.toList
  }

  private val BadOggTags = OggTags(0L, "", "", "", "", -1,
    decode_ok = false)

  /** VorbisComment / OpusTags from the reassembled SECOND packet —
    * the tag-identity read ([[parseOgg]] stops at the first packet;
    * this is the one-packet-deeper walk dedup needs). Layout (both
    * codecs, after their magic): vendor_len u32le + vendor, then
    * count u32le × (len u32le + UTF-8 `KEY=value`). First
    * TITLE=/ARTIST= (case-insensitive keys) win; malformed lengths
    * or a wrong second-packet magic → sentinel.
    */
  def parseOggTags(id: Long, bytes: Array[Byte]): OggTags = {
    val pkts = oggPackets(bytes, 2)
    if (pkts.size < 2) return BadOggTags.copy(media_id = id)
    val p0 = pkts.head
    val p1 = pkts(1)
    def ascii(a: Array[Byte], o: Int, n: Int): String =
      if (o + n <= a.length) new String(a, o, n, "US-ASCII") else ""
    val (codec, tagAt) =
      if (ascii(p0, 0, 8) == "OpusHead" && ascii(p1, 0, 8) == "OpusTags")
        ("opus", 8)
      else if (p0.length > 7 && p0(0) == 1 &&
        ascii(p0, 1, 6) == "vorbis" && p1.length > 7 && p1(0) == 3 &&
        ascii(p1, 1, 6) == "vorbis")
        ("vorbis", 7)
      else return BadOggTags.copy(media_id = id)
    def le32(a: Array[Byte], i: Int): Long =
      (a(i) & 0xff).toLong | ((a(i + 1) & 0xff).toLong << 8) |
        ((a(i + 2) & 0xff).toLong << 16) |
        ((a(i + 3) & 0xff).toLong << 24)
    if (p1.length < tagAt + 4) return BadOggTags.copy(media_id = id)
    val vlen = le32(p1, tagAt)
    if (vlen < 0 || tagAt + 4 + vlen + 4 > p1.length)
      return BadOggTags.copy(media_id = id)
    val vendor = new String(p1, tagAt + 4, vlen.toInt, "UTF-8")
    var at = tagAt + 4 + vlen.toInt
    val n = le32(p1, at)
    at += 4
    if (n < 0 || n > 10000) return BadOggTags.copy(media_id = id)
    var title = ""; var artist = ""
    var i = 0L
    while (i < n) {
      if (at + 4 > p1.length) return BadOggTags.copy(media_id = id)
      val len = le32(p1, at)
      at += 4
      if (len < 0 || at + len > p1.length)
        return BadOggTags.copy(media_id = id)
      val c = new String(p1, at, len.toInt, "UTF-8")
      at += len.toInt
      val eq = c.indexOf('=')
      if (eq > 0) {
        val key = c.substring(0, eq).toUpperCase(java.util.Locale.ROOT)
        val v = c.substring(eq + 1)
        if (key == "TITLE" && title.isEmpty) title = v
        else if (key == "ARTIST" && artist.isEmpty) artist = v
      }
      i += 1
    }
    OggTags(id, codec, vendor, title, artist, n.toInt,
      decode_ok = true)
  }

  /** Container-agnostic tag identity over a MIXED audio column: MP3
    * blobs (ID3v2 tag or MPEG sync first) read ID3 TIT2/TPE1, Ogg
    * blobs the reassembled VorbisComment/OpusTags — one partition-wise
    * pass, one (artist, title) key space, so cross-container copies of
    * the same recording dedup together.
    */
  def audioTagKeys(blobs: Dataset[MediaBlob]): Dataset[AudioTagKey] = {
    import blobs.sparkSession.implicits._
    blobs.mapPartitions(_.map { b =>
      val bs = b.content
      if (bs.length >= 4 && bs(0) == 'O' && bs(1) == 'g' &&
        bs(2) == 'g' && bs(3) == 'S') {
        val t = parseOggTags(b.media_id, bs)
        AudioTagKey(b.media_id, "ogg", t.title, t.artist, t.decode_ok)
      } else {
        val t = parseId3(b.media_id, bs)
        AudioTagKey(b.media_id, "mp3", t.title, t.artist, t.decode_ok)
      }
    })
  }

  /** Genuine Ogg stream wrapping an Opus or Vorbis identification
    * header (codec = "opus" | "vorbis" | anything else for an
    * unknown-first-packet page), optionally followed by `dataPages`
    * audio pages of deterministic junk packets whose granule
    * positions rise monotonically to `lastGranule` on the final
    * (EOS-flagged) page — the field [[parseOgg]]'s duration reads.
    * CRC left zero — readers of identification metadata do not
    * verify page checksums.
    */
  def syntheticOgg(id: Long, codec: String, channels: Int, rate: Int,
                   preSkip: Int = 312, dataPages: Int = 0,
                   lastGranule: Long = 0L,
                   tags: Seq[(String, String)] = null,
                   vendor: String = "graft",
                   splitTags: Boolean = false): MediaBlob = {
    val payload: Array[Byte] = codec match {
      case "opus" =>
        "OpusHead".getBytes("US-ASCII") ++ Array[Byte](1.toByte,
          channels.toByte, (preSkip & 0xff).toByte,
          ((preSkip >> 8) & 0xff).toByte,
          (rate & 0xff).toByte, ((rate >> 8) & 0xff).toByte,
          ((rate >> 16) & 0xff).toByte, ((rate >> 24) & 0xff).toByte,
          0, 0, 0)
      case "vorbis" =>
        Array(1.toByte) ++ "vorbis".getBytes("US-ASCII") ++
          Array[Byte](0, 0, 0, 0, channels.toByte,
            (rate & 0xff).toByte, ((rate >> 8) & 0xff).toByte,
            ((rate >> 16) & 0xff).toByte, ((rate >> 24) & 0xff).toByte,
            0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 1)
      case _ => ("JUNK" + codec).getBytes("US-ASCII")
    }
    val out = new java.io.ByteArrayOutputStream()
    def rawPage(flags: Int, granule: Long, seq: Int,
                lacing: Seq[Int], body: Array[Byte]): Unit = {
      val pg = new java.io.ByteArrayOutputStream()
      pg.write('O'); pg.write('g'); pg.write('g'); pg.write('S')
      pg.write(0); pg.write(flags) // version, header-type flags
      for (i <- 0 until 8) pg.write(((granule >> (8 * i)) & 0xff).toInt)
      for (i <- 0 until 4) pg.write(((id >> (8 * i)) & 0xff).toInt)
      for (i <- 0 until 4) pg.write((seq >> (8 * i)) & 0xff)
      for (_ <- 0 until 4) pg.write(0) // crc, patched below
      pg.write(lacing.length)
      lacing.foreach(pg.write)
      pg.write(body)
      val page = pg.toByteArray
      val crc = oggPageCrc(page, 0, page.length)
      page(22) = (crc & 0xff).toByte
      page(23) = ((crc >> 8) & 0xff).toByte
      page(24) = ((crc >> 16) & 0xff).toByte
      page(25) = ((crc >> 24) & 0xff).toByte
      out.write(page, 0, page.length)
    }
    // segment lacing: 255-byte segments + remainder (ends the packet)
    def page(flags: Int, granule: Long, seq: Int,
             body: Array[Byte]): Unit =
      rawPage(flags, granule, seq,
        Seq.fill(body.length / 255)(255) :+ body.length % 255, body)
    page(0x02, 0L, 0, payload) // BOS identification page
    var seq = 1
    if (tags != null) {
      // comment-header packet (VorbisComment / OpusTags), its own
      // page(s) per both specs; splitTags lays it across TWO pages
      // (an all-255 open page + a continued-flag closer) to exercise
      // the packet-reassembly walk
      val cb = new java.io.ByteArrayOutputStream()
      if (codec == "opus") cb.write("OpusTags".getBytes("US-ASCII"))
      else { cb.write(3); cb.write("vorbis".getBytes("US-ASCII")) }
      def w32(v: Int): Unit =
        for (i <- 0 until 4) cb.write((v >> (8 * i)) & 0xff)
      val vend = vendor.getBytes("UTF-8")
      w32(vend.length); cb.write(vend)
      w32(tags.size)
      tags.foreach { case (k, v) =>
        val c = (k + "=" + v).getBytes("UTF-8")
        w32(c.length); cb.write(c)
      }
      if (codec == "vorbis") cb.write(1) // framing bit
      val body = cb.toByteArray
      if (splitTags && body.length > 255) {
        rawPage(0x00, -1L, seq, Seq(255), body.take(255))
        seq += 1
        page(0x01, 0L, seq, body.drop(255))
      } else page(0x00, 0L, seq, body)
      seq += 1
    }
    for (k <- 0 until dataPages) {
      val body = Array.tabulate(20 + (k % 7))(i =>
        ((id * 131 + k * 17 + i) & 0xff).toByte)
      val granule =
        if (k == dataPages - 1) lastGranule
        else lastGranule * (k + 1) / dataPages
      page(if (k == dataPages - 1) 0x04 else 0x00, granule, seq + k,
        body)
    }
    MediaBlob(id, "audio/ogg", out.toByteArray)
  }

  // ------------------------------------------------------------ ADTS

  /** ISO 14496-3 Table 1.16 sampling-frequency indices (shared with
    * the MP4 esds/AudioSpecificConfig read — same table, same spec)
    */
  private[multimodal] val AdtsRates = Array(96000, 88200, 64000,
    48000, 44100, 32000, 24000, 22050, 16000, 12000, 11025, 8000, 7350)

  private val BadAac =
    AacMeta(0L, -1, -1, -1, -1L, -1L, -1L, decode_ok = false)

  /** ADTS (AAC) frame walk — the streaming-audio sibling of the MP3
    * frame walk: HLS/podcast audio ships AAC in self-framing ADTS,
    * and the header chain alone yields exact duration (1024 PCM
    * samples per frame per raw-data-block), profile, rate and channel
    * facts with no decoder. The walk requires every frame: 0xFFF
    * sync, layer 00, a defined sampling index, and a frame length
    * covering its own header (7 bytes, 9 with CRC); any violation or
    * a truncated tail frame routes the BLOB to the sentinel (ADTS has
    * no container-level recovery point worth trusting for counting).
    */
  def parseAdts(id: Long, bytes: Array[Byte]): AacMeta = {
    def u(i: Int): Int = bytes(i) & 0xff
    var off = 0
    var frames = 0L
    var blocks = 0L
    var crcFrames = 0L
    var profile = -1
    var rateIdx = -1
    var channels = -1
    while (off + 7 <= bytes.length) {
      if (u(off) != 0xff || (u(off + 1) & 0xf6) != 0xf0)
        return BadAac.copy(media_id = id)
      val protAbsent = u(off + 1) & 1
      val pf = (u(off + 2) >> 6) & 3
      val ri = (u(off + 2) >> 2) & 0xf
      val ch = ((u(off + 2) & 1) << 2) | ((u(off + 3) >> 6) & 3)
      val frameLen = ((u(off + 3) & 3) << 11) | (u(off + 4) << 3) |
        ((u(off + 5) >> 5) & 7)
      val rdb = (u(off + 6) & 3) + 1
      val hdr = if (protAbsent == 1) 7 else 9
      if (ri >= AdtsRates.length || frameLen < hdr ||
        off + frameLen > bytes.length) return BadAac.copy(media_id = id)
      if (frames == 0L) { profile = pf; rateIdx = ri; channels = ch }
      else if (pf != profile || ri != rateIdx || ch != channels)
        return BadAac.copy(media_id = id) // mid-stream param change
      if (protAbsent == 0) crcFrames += 1
      frames += 1
      blocks += rdb
      off += frameLen
    }
    if (frames == 0L || off != bytes.length)
      return BadAac.copy(media_id = id)
    val rate = AdtsRates(rateIdx)
    AacMeta(id, profile, rate, channels, frames,
      blocks * 1024L * 1000L / rate, crcFrames, decode_ok = true)
  }

  /** Partition-wise ADTS walk over the blob column */
  def decodeAdts(blobs: Dataset[MediaBlob]): Dataset[AacMeta] = {
    import blobs.sparkSession.implicits._
    blobs.mapPartitions(_.map(b => parseAdts(b.media_id, b.content)))
  }

  /** Genuine ADTS stream: `frames` headers (profile/rate/channels
    * encoded exactly as [[parseAdts]] reads them, every third frame
    * CRC-protected with a placeholder CRC — the 16 bits are not
    * checked, only counted) each carrying an id-derived payload.
    */
  def syntheticAdts(id: Long, frames: Int, profile: Int, rateIdx: Int,
                    channels: Int): MediaBlob = {
    require(profile >= 0 && profile <= 3 &&
      rateIdx >= 0 && rateIdx < AdtsRates.length &&
      channels >= 1 && channels <= 7)
    val out = new java.io.ByteArrayOutputStream()
    var k = 0
    while (k < frames) {
      val crc = k % 3 == 0
      val hdr = if (crc) 9 else 7
      val payloadLen = 30 + ((id + k) % 11).toInt
      val frameLen = hdr + payloadLen
      out.write(0xff)
      out.write(0xf0 | (if (crc) 0 else 1))
      out.write((profile << 6) | (rateIdx << 2) | ((channels >> 2) & 1))
      out.write(((channels & 3) << 6) | ((frameLen >> 11) & 3))
      out.write((frameLen >> 3) & 0xff)
      out.write(((frameLen & 7) << 5) | 0x1f)
      out.write(0xfc) // fullness low bits + rdb count 0 (= 1 block)
      if (crc) { out.write(0); out.write(0) }
      var i = 0
      while (i < payloadLen) {
        out.write(((id * 31 + k * 7 + i) & 0xff).toInt)
        i += 1
      }
      k += 1
    }
    MediaBlob(id, "audio/aac", out.toByteArray)
  }
}
