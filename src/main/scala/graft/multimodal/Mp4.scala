package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** `brand` = ftyp major brand; `duration_ms` from mvhd
  * duration/timescale (floor); `width`/`height` from the FIRST tkhd
  * with nonzero 16.16 dims (the video track — audio tkhd carries
  * zeros); `codec` = the first stsd sample-entry 4CC in track order.
  */
case class Mp4Meta(media_id: Long, brand: String, timescale: Int,
                   duration_ms: Long, n_tracks: Int, width: Int,
                   height: Int, codec: String, decode_ok: Boolean)

/** One media sample located in the file: `offset`/`size` in bytes
  * (the stsc×stsz×stco/co64 expansion), `keyframe` from stss (all
  * true when the track carries no stss, per spec).
  */
case class Mp4Sample(media_id: Long, track_id: Int, sample_no: Int,
                     chunk_no: Int, offset: Long, size: Long,
                     keyframe: Boolean)

/** Codec-layer audio facts for an `mp4a` track: the esds
  * AudioSpecificConfig (object type / rate / channels) plus the
  * sample table composed down to sliced access-unit payloads
  * (`payload_sum` over the actual mdat bytes; one AU = 1024 PCM
  * samples → exact duration).
  */
case class Mp4Aac(media_id: Long, object_type: Int, sample_rate: Int,
                  channels: Int, n_frames: Long, payload_sum: Long,
                  duration_ms: Long, decode_ok: Boolean)

/** AVIF/HEIF image facts from the ISO-BMFF metadata layer — the
  * modern-web image format whose payload is AV1 (out of decode
  * scope, like MP4's H.264); brand, ispe dims, pixi bit depth,
  * av1C presence, iinf item count and still/animated discrimination
  * are what a crawl inventory needs without a codec.
  */
case class AvifMeta(media_id: Long, brand: String, width: Int,
                    height: Int, depth: Int, n_items: Int,
                    has_av1c: Boolean, animated: Boolean,
                    decode_ok: Boolean)

/** MP4 / ISO-BMFF: box walk (ftyp/mvhd/tkhd/stsd) and a genuine minimal writer.
  *
  * One slice of [[Multimodal]] (mixed in there; call sites use
  * `Multimodal.*`) — split per codec for reviewability, no behavior
  * change.
  */
private[multimodal] trait Mp4Codec extends Serializable {
  this: AudioCodec => // esds AudioSpecificConfig shares the ISO
  //                     14496-3 rate table with the ADTS walk
  // MP4 / ISO-BMFF: the metadata video leg. Y4M is an interchange
  // format; 100 TB crawl video is MP4/MOV. A box walk (ftyp brand,
  // moov/mvhd timescale+duration, trak/tkhd dims, stsd sample-entry
  // 4CC) needs NO codec decode and makes dispatch honest on real
  // video columns — the parseJpeg pattern: Long-checked bounds, any
  // truncation or impossible size is a row property.
  // ------------------------------------------------------------------


  private val BadMp4 =
    Mp4Meta(0L, "", -1, -1L, -1, -1, -1, "", decode_ok = false)

  /** ISO-BMFF box walk, metadata only. Box sizes are read as unsigned
    * (64-bit `largesize` honored, `size = 0` extends to the enclosing
    * end) and every bound is validated BEFORE use: a header past the
    * parent, a size smaller than its own header, or a payload past the
    * buffer routes the whole blob to decode_ok=false — truncated
    * crawl video must be a row property, never an
    * ArrayIndexOutOfBounds in a task.
    */
  def parseMp4(id: Long, bytes: Array[Byte]): Mp4Meta = {
    val n = bytes.length.toLong
    def u32(i: Int): Long =
      ((bytes(i) & 0xffL) << 24) | ((bytes(i + 1) & 0xffL) << 16) |
        ((bytes(i + 2) & 0xffL) << 8) | (bytes(i + 3) & 0xffL)
    def u64(i: Int): Long = (u32(i) << 32) | u32(i + 4)
    def ascii(i: Int, len: Int): String =
      new String(bytes, i, len, "US-ASCII")

    var brand = ""; var timescale = -1; var durMs = -1L
    var tracks = 0; var w = -1; var h = -1; var codec = ""
    var bad = false

    def walk(start: Long, end: Long)(
        f: (String, Long, Long) => Unit): Unit = {
      var off = start
      while (off < end && !bad) {
        if (off + 8 > end) { bad = true; return }
        var size = u32(off.toInt)
        val typ = ascii(off.toInt + 4, 4)
        var hdr = 8L
        if (size == 1L) {
          if (off + 16 > end) { bad = true; return }
          size = u64(off.toInt + 8); hdr = 16L
        } else if (size == 0L) size = end - off
        if (size < hdr || size > end - off) { bad = true; return }
        f(typ, off + hdr, off + size)
        off += size
      }
    }

    if (n < 8) return BadMp4.copy(media_id = id)
    walk(0L, n) { (t, s, e) =>
      t match {
        case "ftyp" =>
          if (e - s >= 4) brand = ascii(s.toInt, 4) else bad = true
        case "moov" => walk(s, e) { (t2, s2, e2) =>
          t2 match {
            case "mvhd" =>
              val ver = if (e2 - s2 >= 1) bytes(s2.toInt) & 0xff else -1
              if (ver == 1 && e2 - s2 >= 32) {
                val ts = u32(s2.toInt + 20)
                if (ts > 0 && ts <= Int.MaxValue) {
                  timescale = ts.toInt
                  durMs = u64(s2.toInt + 24) * 1000L / ts
                } else bad = true
              } else if (ver == 0 && e2 - s2 >= 20) {
                val ts = u32(s2.toInt + 12)
                if (ts > 0 && ts <= Int.MaxValue) {
                  timescale = ts.toInt
                  durMs = u32(s2.toInt + 16) * 1000L / ts
                } else bad = true
              } else bad = true
            case "trak" =>
              tracks += 1
              walk(s2, e2) { (t3, s3, e3) =>
                t3 match {
                  case "tkhd" =>
                    if (e3 - s3 >= 8) {
                      val tw = (u32((e3 - 8).toInt) >> 16).toInt
                      val th = (u32((e3 - 4).toInt) >> 16).toInt
                      if (tw > 0 && th > 0 && w < 0) { w = tw; h = th }
                    } else bad = true
                  case "mdia" => walk(s3, e3) { (t4, s4, e4) =>
                    if (t4 == "minf") walk(s4, e4) { (t5, s5, e5) =>
                      if (t5 == "stbl") walk(s5, e5) { (t6, s6, e6) =>
                        if (t6 == "stsd") {
                          if (e6 - s6 >= 16) {
                            if (codec.isEmpty)
                              codec = ascii(s6.toInt + 12, 4)
                          } else bad = true
                        }
                      }
                    }
                  }
                  case _ =>
                }
              }
            case _ =>
          }
        }
        case _ => // mdat, free, skip...
      }
    }
    if (bad || brand.isEmpty || timescale <= 0)
      BadMp4.copy(media_id = id)
    else Mp4Meta(id, brand, timescale, durMs, tracks, w, h, codec,
      decode_ok = true)
  }

  /** Partition-wise MP4 metadata decode — the [[decodeWav]] contract:
    * one parser pass per partition, blobs never shuffle.
    */
  def decodeMp4(blobs: Dataset[MediaBlob]): Dataset[Mp4Meta] = {
    import blobs.sparkSession.implicits._
    blobs.mapPartitions(_.map(b => parseMp4(b.media_id, b.content)))
  }

  /** SAMPLE-TABLE walk: every frame's byte location without touching
    * a codec. Per track, `stsc` (sample-to-chunk runs) × `stsz`
    * (sizes, uniform or per-sample) × `stco`/`co64` (chunk offsets)
    * expand to one (track, sample, chunk, offset, size) row each —
    * offsets accumulate within a chunk — and `stss` marks sync
    * samples (absent ⇒ every sample is a keyframe, per spec). This is
    * what turns "an MP4 column" into "a frame-extraction work list"
    * at 100 TB: the expansion is partition-local, blobs never
    * shuffle, and downstream range-reads fetch exactly the keyframe
    * bytes it selects. Exact integer arithmetic throughout — q195's
    * oracle replays offsets and sizes from the generator formula.
    * Malformed tables (runs out of order, counts past the table,
    * offsets past 2^63, truncation) yield ZERO rows for the blob —
    * the row-property contract; blob-level validity stays with
    * [[parseMp4]].
    */
  def parseMp4Samples(id: Long, bytes: Array[Byte]): Seq[Mp4Sample] = {
    val n = bytes.length.toLong
    def u32(i: Int): Long =
      ((bytes(i) & 0xffL) << 24) | ((bytes(i + 1) & 0xffL) << 16) |
        ((bytes(i + 2) & 0xffL) << 8) | (bytes(i + 3) & 0xffL)
    def u64(i: Int): Long = (u32(i) << 32) | u32(i + 4)
    def ascii(i: Int, len: Int): String =
      new String(bytes, i, len, "US-ASCII")
    var bad = false
    def walk(start: Long, end: Long)(
        f: (String, Long, Long) => Unit): Unit = {
      var off = start
      while (off < end && !bad) {
        if (off + 8 > end) { bad = true; return }
        var size = u32(off.toInt)
        val typ = ascii(off.toInt + 4, 4)
        var hdr = 8L
        if (size == 1L) {
          if (off + 16 > end) { bad = true; return }
          size = u64(off.toInt + 8); hdr = 16L
        } else if (size == 0L) size = end - off
        if (size < hdr || size > end - off) { bad = true; return }
        f(typ, off + hdr, off + size)
        off += size
      }
    }
    val out = mutable.ArrayBuffer.empty[Mp4Sample]
    if (n < 8) return Seq.empty
    walk(0L, n) { (t, s, e) =>
      if (t == "moov") walk(s, e) { (t2, s2, e2) =>
        if (t2 == "trak") {
          var trackId = -1
          var stsc: Array[(Long, Long)] = null   // (firstChunk, spc)
          var sizes: Array[Long] = null
          var chunkOffs: Array[Long] = null
          var sync: Set[Int] = null
          walk(s2, e2) { (t3, s3, e3) =>
            t3 match {
              case "tkhd" =>
                if (e3 - s3 >= 24) {
                  val ver = bytes(s3.toInt) & 0xff
                  val at = if (ver == 1) s3 + 20 else s3 + 12
                  if (at + 4 <= e3) trackId = u32(at.toInt).toInt
                  else bad = true
                } else bad = true
              case "mdia" => walk(s3, e3) { (t4, s4, e4) =>
                if (t4 == "minf") walk(s4, e4) { (t5, s5, e5) =>
                  if (t5 == "stbl") walk(s5, e5) { (t6, s6, e6) =>
                    t6 match {
                      case "stsc" =>
                        if (e6 - s6 >= 8) {
                          val cnt = u32(s6.toInt + 4)
                          if (s6 + 8 + cnt * 12 <= e6 && cnt <= (1 << 20))
                            stsc = Array.tabulate(cnt.toInt) { i =>
                              val b = (s6 + 8 + i * 12).toInt
                              (u32(b), u32(b + 4)) // (first, spc) — sdi ignored
                            }
                          else bad = true
                        } else bad = true
                      case "stsz" =>
                        if (e6 - s6 >= 12) {
                          val uniform = u32(s6.toInt + 4)
                          val cnt = u32(s6.toInt + 8)
                          if (cnt > (1 << 22)) bad = true
                          else if (uniform != 0L)
                            sizes = Array.fill(cnt.toInt)(uniform)
                          else if (s6 + 12 + cnt * 4 <= e6)
                            sizes = Array.tabulate(cnt.toInt)(i =>
                              u32((s6 + 12 + i * 4).toInt))
                          else bad = true
                        } else bad = true
                      case "stco" =>
                        if (e6 - s6 >= 8) {
                          val cnt = u32(s6.toInt + 4)
                          if (s6 + 8 + cnt * 4 <= e6 && cnt <= (1 << 20))
                            chunkOffs = Array.tabulate(cnt.toInt)(i =>
                              u32((s6 + 8 + i * 4).toInt))
                          else bad = true
                        } else bad = true
                      case "co64" =>
                        if (e6 - s6 >= 8) {
                          val cnt = u32(s6.toInt + 4)
                          if (s6 + 8 + cnt * 8 <= e6 && cnt <= (1 << 20))
                            chunkOffs = Array.tabulate(cnt.toInt)(i =>
                              u64((s6 + 8 + i * 8).toInt))
                          else bad = true
                        } else bad = true
                      case "stss" =>
                        if (e6 - s6 >= 8) {
                          val cnt = u32(s6.toInt + 4)
                          if (s6 + 8 + cnt * 4 <= e6 && cnt <= (1 << 20))
                            sync = Array.tabulate(cnt.toInt)(i =>
                              u32((s6 + 8 + i * 4).toInt).toInt).toSet
                          else bad = true
                        } else bad = true
                      case _ =>
                    }
                  }
                }
              }
              case _ =>
            }
          }
          if (!bad && trackId >= 0 && stsc != null && sizes != null &&
            chunkOffs != null && stsc.nonEmpty) {
            // stsc runs must start at chunk 1 and ascend
            val ascending = stsc.head._1 == 1L &&
              stsc.sliding(2).forall {
                case Array((a, _), (b, _)) => b > a
                case _ => true
              }
            if (ascending) {
              var sampleNo = 1
              var run = 0
              var chunk = 1
              while (chunk <= chunkOffs.length &&
                sampleNo <= sizes.length) {
                while (run + 1 < stsc.length &&
                  stsc(run + 1)._1 <= chunk) run += 1
                val spc = stsc(run)._2
                var within = 0L
                var off = chunkOffs(chunk - 1)
                while (within < spc && sampleNo <= sizes.length) {
                  val sz = sizes(sampleNo - 1)
                  out += Mp4Sample(id, trackId, sampleNo, chunk, off,
                    sz,
                    keyframe = sync == null || sync.contains(sampleNo))
                  off += sz
                  within += 1
                  sampleNo += 1
                }
                chunk += 1
              }
            }
          }
        }
      }
    }
    if (bad) Seq.empty else out.toSeq
  }

  /** Partition-wise sample-table expansion — one walk per blob, rows
    * out, blobs never shuffle.
    */
  def mp4SampleTable(blobs: Dataset[MediaBlob]): Dataset[Mp4Sample] = {
    import blobs.sparkSession.implicits._
    blobs.flatMap(b => parseMp4Samples(b.media_id, b.content))
  }

  /** Genuine minimal ISO-BMFF file: ftyp + moov(mvhd + video trak
    * (tkhd dims + mdia/minf/stbl/stsd sample entry) [+ audio trak]) +
    * a small mdat. `v1` emits the 64-bit mvhd form. Deterministic per
    * id; any box-walking tool reads it back.
    */
  def syntheticMp4(id: Long, brand: String, timescale: Int,
                   duration: Long, width: Int, height: Int,
                   codec: String, v1: Boolean = false,
                   audioTrack: Boolean = false): MediaBlob = {
    require(timescale > 0 && duration >= 0 && width > 0 && height > 0)
    require(brand.length == 4 && codec.length == 4)
    def box(typ: String, parts: Array[Byte]*): Array[Byte] = {
      val len = 8 + parts.map(_.length).sum
      val bb = java.nio.ByteBuffer.allocate(len)
      bb.putInt(len).put(typ.getBytes("US-ASCII"))
      parts.foreach(bb.put)
      bb.array()
    }
    val ftyp = box("ftyp", java.nio.ByteBuffer.allocate(12)
      .put(brand.getBytes("US-ASCII")).putInt(0)
      .put(brand.getBytes("US-ASCII")).array())
    val mvhdBody =
      if (v1) {
        val bb = java.nio.ByteBuffer.allocate(4 + 16 + 12 + 80)
        bb.put(1.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
        bb.putLong(0L).putLong(0L)           // creation, modification
        bb.putInt(timescale).putLong(duration)
        bb.putInt(0x00010000).putShort(0x0100.toShort) // rate, volume
        bb.array()                            // rest zeros (matrix...)
      } else {
        val bb = java.nio.ByteBuffer.allocate(4 + 8 + 8 + 80)
        bb.put(0.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
        bb.putInt(0).putInt(0)
        bb.putInt(timescale).putInt(duration.toInt)
        bb.putInt(0x00010000).putShort(0x0100.toShort)
        bb.array()
      }
    def tkhd(trackId: Int, tw: Int, th: Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(84)
      bb.put(0.toByte).put(0.toByte).put(0.toByte).put(7.toByte)
      bb.putInt(0).putInt(0).putInt(trackId).putInt(0)
      bb.putInt(duration.toInt)
      bb.position(bb.position() + 52)        // reserved/layer/matrix
      bb.putInt(tw << 16).putInt(th << 16)   // 16.16 fixed
      box("tkhd", bb.array())
    }
    def stsdTrak(trackId: Int, tw: Int, th: Int,
                 fmt: String): Array[Byte] = {
      val entry = java.nio.ByteBuffer.allocate(16)
        .putInt(16).put(fmt.getBytes("US-ASCII"))
        .putInt(0).putInt(0).array()
      val stsd = box("stsd", java.nio.ByteBuffer.allocate(8)
        .putInt(0).putInt(1).array(), entry)
      box("trak", tkhd(trackId, tw, th),
        box("mdia", box("minf", box("stbl", stsd))))
    }
    val traks =
      if (audioTrack)
        // audio tkhd carries zero 16.16 dims by spec — the parser's
        // "first NONZERO dims win" rule is what this exercises
        Seq(stsdTrak(1, width, height, codec),
          stsdTrak(2, 0, 0, "mp4a"))
      else Seq(stsdTrak(1, width, height, codec))
    val moov = box("moov", box("mvhd", mvhdBody) +: traks: _*)
    val mdat = box("mdat", Array.tabulate[Byte](16)(i =>
      ((id * 31 + i) & 0xff).toByte))
    val all = ftyp ++ moov ++ mdat
    MediaBlob(id, "video/mp4", all)
  }

  /** [[syntheticMp4]] with a COMPLETE sample table whose mdat really
    * contains the samples at the advertised offsets: 12 samples in
    * stsc runs (chunks 1-2 carry 3 samples, chunks 3-5 carry 2),
    * per-sample sizes `20 + (id·7 + k·13) mod 40`, chunk offsets into
    * the contiguous mdat payload, and stss sync samples at
    * `1, 1+g, 1+2g` with `g = 2 + id mod 3`. The stss entry count is
    * fixed at 3, so the moov size — and with it the mdat payload
    * base — is one constant for every id (Mp4SampleSpec pins it),
    * which lets q195's oracle replay absolute file offsets from the
    * formula alone. `co64` writes 64-bit chunk offsets instead of
    * stco (same values).
    */
  def syntheticMp4WithSamples(id: Long,
                              co64: Boolean = false): MediaBlob = {
    def box(typ: String, parts: Array[Byte]*): Array[Byte] = {
      val len = 8 + parts.map(_.length).sum
      val bb = java.nio.ByteBuffer.allocate(len)
      bb.putInt(len).put(typ.getBytes("US-ASCII"))
      parts.foreach(bb.put)
      bb.array()
    }
    val nSamples = 12
    val sizes = Array.tabulate(nSamples)(k =>
      20 + ((id * 7 + k * 13) % 40).toInt)
    val g = 2 + (id % 3).toInt
    val syncs = Array(1, 1 + g, 1 + 2 * g)
    val chunkSamples = Array(3, 3, 2, 2, 2)
    val ftyp = box("ftyp", java.nio.ByteBuffer.allocate(12)
      .put("isom".getBytes("US-ASCII")).putInt(0)
      .put("isom".getBytes("US-ASCII")).array())
    val mvhd = {
      val bb = java.nio.ByteBuffer.allocate(4 + 8 + 8 + 80)
      bb.putInt(0).putInt(0).putInt(0)
      bb.putInt(1000).putInt(1200)          // timescale, duration
      bb.putInt(0x00010000).putShort(0x0100.toShort)
      bb.array()
    }
    val tkhd = {
      val bb = java.nio.ByteBuffer.allocate(84)
      bb.put(0.toByte).put(0.toByte).put(0.toByte).put(7.toByte)
      bb.putInt(0).putInt(0).putInt(1).putInt(0)
      bb.putInt(1200)
      bb.position(bb.position() + 52)
      bb.putInt(64 << 16).putInt(48 << 16)
      box("tkhd", bb.array())
    }
    val stsd = box("stsd", java.nio.ByteBuffer.allocate(8)
      .putInt(0).putInt(1).array(),
      java.nio.ByteBuffer.allocate(16).putInt(16)
        .put("avc1".getBytes("US-ASCII")).putInt(0).putInt(0).array())
    val stts = box("stts", java.nio.ByteBuffer.allocate(16)
      .putInt(0).putInt(1).putInt(nSamples).putInt(100).array())
    val stsc = box("stsc", {
      val bb = java.nio.ByteBuffer.allocate(8 + 2 * 12)
      bb.putInt(0).putInt(2)
      bb.putInt(1).putInt(3).putInt(1)      // chunks 1.. : 3 samples
      bb.putInt(3).putInt(2).putInt(1)      // chunks 3.. : 2 samples
      bb.array()
    })
    val stsz = box("stsz", {
      val bb = java.nio.ByteBuffer.allocate(12 + 4 * nSamples)
      bb.putInt(0).putInt(0).putInt(nSamples)
      sizes.foreach(bb.putInt)
      bb.array()
    })
    val stss = box("stss", {
      val bb = java.nio.ByteBuffer.allocate(8 + 4 * syncs.length)
      bb.putInt(0).putInt(syncs.length)
      syncs.foreach(bb.putInt)
      bb.array()
    })
    // chunk offsets into the contiguous payload, patched below once
    // the moov size (stco-value-independent) is known
    val chunkFirst = chunkSamples.scanLeft(0)(_ + _) // sample index base
    def chunkOffsets(base: Long): Array[Long] =
      chunkFirst.take(chunkSamples.length).map(f =>
        base + sizes.take(f).map(_.toLong).sum)
    def stcoBox(base: Long): Array[Byte] =
      if (co64) box("co64", {
        val bb = java.nio.ByteBuffer.allocate(8 + 8 * chunkSamples.length)
        bb.putInt(0).putInt(chunkSamples.length)
        chunkOffsets(base).foreach(bb.putLong)
        bb.array()
      })
      else box("stco", {
        val bb = java.nio.ByteBuffer.allocate(8 + 4 * chunkSamples.length)
        bb.putInt(0).putInt(chunkSamples.length)
        chunkOffsets(base).foreach(o => bb.putInt(o.toInt))
        bb.array()
      })
    def moovOf(base: Long): Array[Byte] =
      box("moov", box("mvhd", mvhd),
        box("trak", tkhd, box("mdia", box("minf", box("stbl",
          stsd, stts, stsc, stsz, stcoBox(base), stss)))))
    val mdatBase = ftyp.length + moovOf(0L).length + 8L
    val payload = new Array[Byte](sizes.sum)
    var p = 0
    sizes.indices.foreach { k =>
      (0 until sizes(k)).foreach { i =>
        payload(p) = ((id * 31 + k * 7 + i) & 0xff).toByte; p += 1
      }
    }
    val all = ftyp ++ moovOf(mdatBase) ++ box("mdat", payload)
    MediaBlob(id, "video/mp4", all)
  }

  // ------------------------------------------------- mp4a composition

  /** MP4 audio facts composed DOWN TO THE CODEC LAYER: the stsd
    * `mp4a` AudioSampleEntry + its `esds` AudioSpecificConfig
    * (ISO 14496-1 descriptor walk: base-128 expandable lengths,
    * ES_Descriptor 0x03 → DecoderConfig 0x04 → DecSpecificInfo 0x05;
    * the 2-byte ASC carries object type / rate index / channels —
    * raw MP4 AAC samples are headerless, so this config IS the codec
    * header ADTS would otherwise repeat per frame), joined with the
    * [[parseMp4Samples]] sample table: each stsz/stsc/stco sample is
    * one AAC access unit (1024 PCM samples), its payload SLICED from
    * mdat and byte-summed so the oracle pins that the (offset, size)
    * table reaches the actual bytes. duration = frames·1024/rate.
    * Any malformation (no mp4a track, bad descriptor, sample past
    * the buffer, rate index ≥ 13) → the sentinel row property.
    */
  def parseMp4Aac(id: Long, bytes: Array[Byte]): Mp4Aac = {
    val n = bytes.length.toLong
    val sentinel = Mp4Aac(id, -1, -1, -1, -1L, -1L, -1L,
      decode_ok = false)
    if (n < 8) return sentinel
    def u32(i: Int): Long =
      ((bytes(i) & 0xffL) << 24) | ((bytes(i + 1) & 0xffL) << 16) |
        ((bytes(i + 2) & 0xffL) << 8) | (bytes(i + 3) & 0xffL)
    def u64(i: Int): Long = (u32(i) << 32) | u32(i + 4)
    def u16(i: Int): Int =
      ((bytes(i) & 0xff) << 8) | (bytes(i + 1) & 0xff)
    def ascii(i: Int, len: Int): String =
      new String(bytes, i, len, "US-ASCII")
    var bad = false
    def walk(start: Long, end: Long)(
        f: (String, Long, Long) => Unit): Unit = {
      var off = start
      while (off < end && !bad) {
        if (off + 8 > end) { bad = true; return }
        var size = u32(off.toInt)
        val typ = ascii(off.toInt + 4, 4)
        var hdr = 8L
        if (size == 1L) {
          if (off + 16 > end) { bad = true; return }
          size = u64(off.toInt + 8); hdr = 16L
        } else if (size == 0L) size = end - off
        if (size < hdr || size > end - off) { bad = true; return }
        f(typ, off + hdr, off + size)
        off += size
      }
    }
    // stsd → first mp4a entry → esds → AudioSpecificConfig; the
    // owning trak's tkhd id scopes the sample table to the AUDIO
    // track (a real capture carries a video trak in the same moov)
    var ascAot = -1; var ascRateIdx = -1; var ascChannels = -1
    var audioTrackId = -1
    def parseEsds(s: Long, e: Long): Unit = {
      // full box: version/flags, then the descriptor chain
      var p = s + 4
      def tagLen(): (Int, Long) = { // (tag, payload length)
        if (p + 2 > e) { bad = true; return (-1, 0L) }
        val tag = bytes(p.toInt) & 0xff
        p += 1
        var len = 0L
        var more = true
        var k = 0
        while (more && k < 4 && p < e) {
          val b = bytes(p.toInt) & 0xff
          len = (len << 7) | (b & 0x7f)
          more = (b & 0x80) != 0
          p += 1; k += 1
        }
        (tag, len)
      }
      val (t3, _) = tagLen()
      if (bad || t3 != 0x03 || p + 3 > e) { bad = true; return }
      val esFlags = bytes(p.toInt + 2) & 0xff
      p += 3 // ES_ID + streamDependence/URL/OCR flags
      if ((esFlags & 0x80) != 0) p += 2 // dependsOn_ES_ID
      if ((esFlags & 0x40) != 0) {
        if (p >= e) { bad = true; return }
        p += 1 + (bytes(p.toInt) & 0xff) // URL
      }
      if ((esFlags & 0x20) != 0) p += 2 // OCR_ES_ID
      val (t4, _) = tagLen()
      if (bad || t4 != 0x04 || p + 13 > e) { bad = true; return }
      p += 13 // objectTypeIndication..avgBitrate
      val (t5, l5) = tagLen()
      if (bad || t5 != 0x05 || l5 < 2 || p + 2 > e) { bad = true; return }
      val b0 = bytes(p.toInt) & 0xff
      val b1 = bytes(p.toInt + 1) & 0xff
      ascAot = b0 >> 3
      ascRateIdx = ((b0 & 7) << 1) | (b1 >> 7)
      ascChannels = (b1 >> 3) & 0xf
    }
    walk(0L, n) { (t, s, e) =>
      if (t == "moov") walk(s, e) { (t2, s2, e2) =>
        if (t2 == "trak" && ascAot < 0) {
          var trakId = -1
          var sawMp4a = false
          walk(s2, e2) { (t3, s3, e3) =>
            t3 match {
              case "tkhd" if e3 - s3 >= 24 =>
                val ver = bytes(s3.toInt) & 0xff
                val at = if (ver == 1) s3 + 20 else s3 + 12
                if (at + 4 <= e3) trakId = u32(at.toInt).toInt
              case "mdia" => walk(s3, e3) { (t4, s4, e4) =>
                if (t4 == "minf") walk(s4, e4) { (t5, s5, e5) =>
                  if (t5 == "stbl") walk(s5, e5) { (t6, s6, e6) =>
                    if (t6 == "stsd" && e6 - s6 >= 8 &&
                      u32(s6.toInt + 4) >= 1L) {
                      // first sample entry
                      val entAt = s6 + 8
                      if (entAt + 8 <= e6 &&
                        ascii(entAt.toInt + 4, 4) == "mp4a") {
                        sawMp4a = true
                        val entEnd = entAt + u32(entAt.toInt)
                        // AudioSampleEntry: 8 hdr + 28 fixed fields
                        if (entEnd <= e6 && entAt + 36 <= entEnd) {
                          walk(entAt + 36, entEnd) { (t7, s7, e7) =>
                            if (t7 == "esds" && ascAot < 0)
                              parseEsds(s7, e7)
                          }
                        } else bad = true
                      }
                    }
                  }
                }
              }
              case _ =>
            }
          }
          if (sawMp4a && ascAot >= 0) audioTrackId = trakId
        }
      }
    }
    if (bad || ascAot < 0 || ascRateIdx < 0 ||
      ascRateIdx >= AdtsRates.length || ascChannels <= 0 ||
      audioTrackId < 0)
      return sentinel
    val samples = parseMp4Samples(id, bytes)
      .filter(_.track_id == audioTrackId)
    if (samples.isEmpty) return sentinel
    var paySum = 0L
    var frames = 0L
    samples.foreach { sm =>
      if (sm.offset < 0 || sm.size < 0 || sm.offset + sm.size > n)
        return sentinel
      var i = sm.offset.toInt
      val end = (sm.offset + sm.size).toInt
      while (i < end) { paySum += bytes(i) & 0xff; i += 1 }
      frames += 1
    }
    val rate = AdtsRates(ascRateIdx)
    Mp4Aac(id, ascAot, rate, ascChannels, frames, paySum,
      frames * 1024L * 1000L / rate, decode_ok = true)
  }

  /** Minimal but real MP4/AAC: an `mp4a` track whose esds carries the
    * 2-byte AudioSpecificConfig and whose stsz/stsc/stco table lays
    * `nFrames` id-derived raw AAC access units into mdat (4 samples
    * per chunk). With `withVideoTrack` a second avc1 trak (id 2) and
    * its own sample table share the mdat — the real-capture shape
    * whose video samples [[parseMp4Aac]] must NOT count as AAC
    * frames. Same self-consistency contract as
    * [[syntheticMp4WithSamples]].
    */
  def syntheticMp4Aac(id: Long, nFrames: Int, aot: Int, rateIdx: Int,
                      channels: Int,
                      withVideoTrack: Boolean = false): MediaBlob = {
    require(nFrames >= 1 && aot >= 1 && aot <= 31 &&
      rateIdx >= 0 && rateIdx < AdtsRates.length &&
      channels >= 1 && channels <= 7)
    def box(typ: String, parts: Array[Byte]*): Array[Byte] = {
      val len = 8 + parts.map(_.length).sum
      val bb = java.nio.ByteBuffer.allocate(len)
      bb.putInt(len).put(typ.getBytes("US-ASCII"))
      parts.foreach(bb.put)
      bb.array()
    }
    val sizes = Array.tabulate(nFrames)(k =>
      24 + ((id * 11 + k * 17) % 48).toInt)
    val spc = 4
    val nChunks = (nFrames + spc - 1) / spc
    val ftyp = box("ftyp", java.nio.ByteBuffer.allocate(12)
      .put("isom".getBytes("US-ASCII")).putInt(0)
      .put("M4A ".getBytes("US-ASCII")).array())
    val mvhd = {
      val bb = java.nio.ByteBuffer.allocate(4 + 8 + 8 + 80)
      bb.putInt(0).putInt(0).putInt(0)
      bb.putInt(1000).putInt(
        (nFrames * 1024L * 1000L / AdtsRates(rateIdx)).toInt)
      bb.putInt(0x00010000).putShort(0x0100.toShort)
      bb.array()
    }
    val tkhd = {
      val bb = java.nio.ByteBuffer.allocate(84)
      bb.put(0.toByte).put(0.toByte).put(0.toByte).put(7.toByte)
      bb.putInt(0).putInt(0).putInt(1).putInt(0)
      bb.putInt(0)
      box("tkhd", bb.array())
    }
    val esds = box("esds", {
      val asc0 = ((aot << 3) | (rateIdx >> 1)) & 0xff
      val asc1 = (((rateIdx & 1) << 7) | (channels << 3)) & 0xff
      java.nio.ByteBuffer.allocate(4 + 24)
        .putInt(0) // version/flags
        .put(0x03.toByte).put(22.toByte)          // ES_Descriptor
        .putShort(1).put(0.toByte)                // ES_ID, flags
        .put(0x04.toByte).put(17.toByte)          // DecoderConfig
        //   (covers the nested DecSpecificInfo per 14496-1)
        .put(0x40.toByte)                         // MPEG-4 Audio
        .put(0x15.toByte)                         // audio stream
        .put(0.toByte).put(0.toByte).put(0.toByte) // bufferSizeDB
        .putInt(0).putInt(0)                      // max/avg bitrate
        .put(0x05.toByte).put(2.toByte)           // DecSpecificInfo
        .put(asc0.toByte).put(asc1.toByte)
        .array()
    })
    val mp4aEntry = {
      val bb = java.nio.ByteBuffer.allocate(8 + 28 + esds.length)
      bb.putInt(8 + 28 + esds.length)
      bb.put("mp4a".getBytes("US-ASCII"))
      bb.putInt(0).putShort(0)          // 6 reserved bytes
      bb.putShort(1)                    // data_ref_index
      bb.putLong(0L)                    // version/revision/vendor
      bb.putShort(channels.toShort).putShort(16)
      bb.putInt(0)                      // pre_defined + reserved
      bb.putInt(AdtsRates(rateIdx) << 16)
      bb.put(esds)
      bb.array()
    }
    val stsd = box("stsd", java.nio.ByteBuffer.allocate(8)
      .putInt(0).putInt(1).array(), mp4aEntry)
    val stts = box("stts", java.nio.ByteBuffer.allocate(16)
      .putInt(0).putInt(1).putInt(nFrames).putInt(1024).array())
    val stsc = box("stsc", java.nio.ByteBuffer.allocate(8 + 12)
      .putInt(0).putInt(1).putInt(1).putInt(spc).putInt(1).array())
    val stsz = box("stsz", {
      val bb = java.nio.ByteBuffer.allocate(12 + 4 * nFrames)
      bb.putInt(0).putInt(0).putInt(nFrames)
      sizes.foreach(bb.putInt)
      bb.array()
    })
    def chunkOffsets(base: Long): Array[Long] =
      Array.tabulate(nChunks)(c =>
        base + sizes.take(c * spc).map(_.toLong).sum)
    def stcoBox(base: Long): Array[Byte] = box("stco", {
      val bb = java.nio.ByteBuffer.allocate(8 + 4 * nChunks)
      bb.putInt(0).putInt(nChunks)
      chunkOffsets(base).foreach(o => bb.putInt(o.toInt))
      bb.array()
    })
    // optional avc1 trak (id 2): its samples land AFTER the audio
    // payload in the shared mdat
    val vSizes = Array.tabulate(6)(k => 10 + ((id + k) % 9).toInt)
    def videoTrak(base: Long): Array[Byte] = {
      val vtkhd = {
        val bb = java.nio.ByteBuffer.allocate(84)
        bb.put(0.toByte).put(0.toByte).put(0.toByte).put(7.toByte)
        bb.putInt(0).putInt(0).putInt(2).putInt(0)
        bb.putInt(0)
        bb.position(bb.position() + 48)
        bb.putInt(32 << 16).putInt(16 << 16)
        box("tkhd", bb.array())
      }
      val vstsd = box("stsd", java.nio.ByteBuffer.allocate(8)
        .putInt(0).putInt(1).array(),
        java.nio.ByteBuffer.allocate(16).putInt(16)
          .put("avc1".getBytes("US-ASCII")).putInt(0).putInt(0)
          .array())
      val vstts = box("stts", java.nio.ByteBuffer.allocate(16)
        .putInt(0).putInt(1).putInt(vSizes.length).putInt(100).array())
      val vstsc = box("stsc", java.nio.ByteBuffer.allocate(8 + 12)
        .putInt(0).putInt(1).putInt(1).putInt(3).putInt(1).array())
      val vstsz = box("stsz", {
        val bb = java.nio.ByteBuffer.allocate(12 + 4 * vSizes.length)
        bb.putInt(0).putInt(0).putInt(vSizes.length)
        vSizes.foreach(bb.putInt)
        bb.array()
      })
      val vChunks = (vSizes.length + 2) / 3
      val vstco = box("stco", {
        val bb = java.nio.ByteBuffer.allocate(8 + 4 * vChunks)
        bb.putInt(0).putInt(vChunks)
        (0 until vChunks).foreach(c => bb.putInt(
          (base + vSizes.take(c * 3).map(_.toLong).sum).toInt))
        bb.array()
      })
      box("trak", vtkhd, box("mdia", box("minf", box("stbl",
        vstsd, vstts, vstsc, vstsz, vstco))))
    }
    def moovOf(base: Long): Array[Byte] = {
      val audioTrak =
        box("trak", tkhd, box("mdia", box("minf", box("stbl",
          stsd, stts, stsc, stsz, stcoBox(base)))))
      if (withVideoTrack)
        box("moov", box("mvhd", mvhd), audioTrak,
          videoTrak(base + sizes.map(_.toLong).sum))
      else box("moov", box("mvhd", mvhd), audioTrak)
    }
    val mdatBase = ftyp.length + moovOf(0L).length + 8L
    val vTotal = if (withVideoTrack) vSizes.sum else 0
    val payload = new Array[Byte](sizes.sum + vTotal)
    var p = 0
    sizes.indices.foreach { k =>
      (0 until sizes(k)).foreach { i =>
        payload(p) = ((id * 37 + k * 13 + i) & 0xff).toByte; p += 1
      }
    }
    while (p < payload.length) {
      payload(p) = ((id * 5 + p) & 0xff).toByte; p += 1
    }
    val all = ftyp ++ moovOf(mdatBase) ++ box("mdat", payload)
    MediaBlob(id, "audio/mp4", all)
  }

  // ------------------------------------------------------- AVIF/HEIF

  private val BadAvif =
    AvifMeta(0L, "", -1, -1, -1, -1, has_av1c = false,
      animated = false, decode_ok = false)

  /** AVIF/HEIF metadata walk (ISO-BMFF + HEIF item layer): ftyp major
    * brand (avif still / avis sequence / heic), `meta` is a FULL box
    * (4 version/flags bytes after the header, unlike moov), then
    * iinf's entry count (16-bit in version 0, 32-bit after) and the
    * iprp→ipco property walk for ispe dims, pixi plane bit depths
    * and the av1C codec-config presence. Bounds-checked like
    * [[parseMp4]]: truncation or impossible sizes route the row to
    * the sentinel, never a task failure. Payload (AV1) decode is out
    * of scope, exactly like MP4's H.264 leg — the inventory facts
    * are the dispatch-honesty contract.
    */
  def parseAvif(id: Long, bytes: Array[Byte]): AvifMeta = {
    val n = bytes.length.toLong
    if (n < 16) return BadAvif.copy(media_id = id)
    def u32(i: Int): Long =
      ((bytes(i) & 0xffL) << 24) | ((bytes(i + 1) & 0xffL) << 16) |
        ((bytes(i + 2) & 0xffL) << 8) | (bytes(i + 3) & 0xffL)
    def u64(i: Int): Long = (u32(i) << 32) | u32(i + 4)
    def u16(i: Int): Int =
      ((bytes(i) & 0xff) << 8) | (bytes(i + 1) & 0xff)
    def ascii(i: Int, len: Int): String =
      new String(bytes, i, len, "US-ASCII")
    var bad = false
    def walk(start: Long, end: Long)(
        f: (String, Long, Long) => Unit): Unit = {
      var off = start
      while (off < end && !bad) {
        if (off + 8 > end) { bad = true; return }
        var size = u32(off.toInt)
        val typ = ascii(off.toInt + 4, 4)
        var hdr = 8L
        if (size == 1L) {
          if (off + 16 > end) { bad = true; return }
          size = u64(off.toInt + 8); hdr = 16L
        } else if (size == 0L) size = end - off
        if (size < hdr || size > end - off) { bad = true; return }
        f(typ, off + hdr, off + size)
        off += size
      }
    }
    var brand = ""
    var width = -1; var height = -1; var depth = -1
    var nItems = -1
    var av1c = false
    var animated = false
    walk(0L, n) { (t, s, e) =>
      t match {
        case "ftyp" =>
          if (e - s >= 4) brand = ascii(s.toInt, 4) else bad = true
        case "moov" => animated = true
        case "meta" if e - s >= 4 =>
          // FULL box: skip version/flags
          walk(s + 4, e) { (t2, s2, e2) =>
            t2 match {
              case "iinf" if e2 - s2 >= 6 =>
                val ver = bytes(s2.toInt) & 0xff
                nItems =
                  if (ver == 0) u16(s2.toInt + 4)
                  else if (s2 + 8 <= e2) u32(s2.toInt + 4).toInt
                  else { bad = true; -1 }
              case "iprp" => walk(s2, e2) { (t3, s3, e3) =>
                if (t3 == "ipco") walk(s3, e3) { (t4, s4, e4) =>
                  t4 match {
                    case "ispe" if e4 - s4 >= 12 =>
                      width = u32(s4.toInt + 4).toInt
                      height = u32(s4.toInt + 8).toInt
                    case "pixi" if e4 - s4 >= 6 =>
                      depth = bytes(s4.toInt + 5) & 0xff
                    case "av1C" => av1c = true
                    case _ =>
                  }
                }
              }
              case _ =>
            }
          }
        case _ =>
      }
    }
    if (bad || brand.isEmpty || width <= 0 || height <= 0)
      return BadAvif.copy(media_id = id)
    if (brand == "avis") animated = true
    AvifMeta(id, brand, width, height, depth, nItems, av1c, animated,
      decode_ok = true)
  }

}
