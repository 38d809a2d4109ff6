package graft.multimodal

import org.apache.spark.sql.Dataset

/** One elementary stream of an MPEG transport stream: `stream_type`
  * from the PMT (0x1b H.264, 0x0f AAC-ADTS, ...), packet/PES counts,
  * first/last PTS in 90 kHz ticks, and the continuity-counter error
  * count (the broadcast-capture health signal). A structurally
  * unusable capture (no sync, no PAT/PMT, bad PSI CRC) collapses to
  * ONE all-sentinel row.
  */
case class TsStream(media_id: Long, pid: Int, stream_type: Int,
                    ts_packets: Long, pes_packets: Long,
                    first_pts: Long, last_pts: Long, cc_errors: Long,
                    ok: Boolean)

/** MPEG transport-stream inventory — the broadcast/HLS capture
  * envelope next to MP4: segment dumps from TV capture and HLS crawls
  * arrive as .ts, and a video pipeline wants per-stream packet/PES
  * counts, PTS spans (duration, gaps) and continuity errors WITHOUT a
  * video decoder. The walk is the spec's (ISO 13818-1): 188-byte
  * 0x47-sync packets; PAT (PID 0) → program→PMT mapping; PMT →
  * stream_type + elementary PID list (PSI sections CRC-32/MPEG
  * verified — a corrupt table must not silently misroute PIDs); PES
  * start codes on unit-start packets with the 33-bit marker-bit PTS
  * field; adaptation fields skipped by their length; per-PID
  * continuity counters checked on payload-carrying packets.
  * Partition-wise over the blob column — blobs never shuffle.
  */
private[multimodal] trait MpegTsCodec extends Serializable {
  this: AudioCodec => // TS→ADTS composition reuses the parseAdts walk

  private val TsBad =
    TsStream(0L, -1, -1, -1L, -1L, -1L, -1L, -1L, ok = false)

  /** CRC-32/MPEG-2: poly 0x04C11DB7, init 0xFFFFFFFF, no reflection,
    * no final xor — the PSI section checksum
    */
  def crc32Mpeg(bytes: Array[Byte], off: Int, len: Int): Long = {
    var crc = 0xffffffffL
    var i = off
    while (i < off + len) {
      crc ^= (bytes(i) & 0xffL) << 24
      var b = 0
      while (b < 8) {
        crc = if ((crc & 0x80000000L) != 0L)
          ((crc << 1) ^ 0x04c11db7L) & 0xffffffffL
        else (crc << 1) & 0xffffffffL
        b += 1
      }
      i += 1
    }
    crc
  }

  /** PSI pass shared by the inventory and the codec composition:
    * PAT (PID 0) → PMT → (elementary PID → stream_type), CRC-gated.
    * Empty map = structurally unusable.
    */
  private def tsEsTypes(bytes: Array[Byte])
      : scala.collection.mutable.LinkedHashMap[Int, Int] = {
    val nPackets = bytes.length / 188
    var pmtPid = -1
    val esType = scala.collection.mutable.LinkedHashMap.empty[Int, Int]
    def section(pkt: Int): Option[(Int, Int, Int)] = {
      // returns (table_id, section start, section length incl. hdr)
      val base = pkt * 188
      if (bytes(base) != 0x47) return None
      val afc = (bytes(base + 3) >> 4) & 3
      var p = base + 4
      if (afc == 2 || afc == 0) return None
      if (afc == 3) p += 1 + (bytes(p) & 0xff)
      val pointer = bytes(p) & 0xff
      p += 1 + pointer
      if (p + 3 > base + 188) return None
      val tableId = bytes(p) & 0xff
      val secLen = ((bytes(p + 1) & 0x0f) << 8) | (bytes(p + 2) & 0xff)
      if (p + 3 + secLen > base + 188) return None
      // CRC over the whole section must leave zero remainder
      if (crc32Mpeg(bytes, p, 3 + secLen) != 0L) return None
      Some((tableId, p, 3 + secLen))
    }
    var k = 0
    while (k < nPackets && esType.isEmpty) {
      val base = k * 188
      if (bytes(base) == 0x47) {
        val pusi = (bytes(base + 1) & 0x40) != 0
        val pid = ((bytes(base + 1) & 0x1f) << 8) | (bytes(base + 2) & 0xff)
        if (pusi && pid == 0 && pmtPid < 0) {
          section(k).foreach { case (tid, p, len) =>
            if (tid == 0) {
              // entries: [transport_stream_id.. 5 bytes] then 4-byte
              // (program_number, pid) pairs up to the CRC
              var e = p + 8
              val end = p + len - 4
              while (e + 4 <= end && pmtPid < 0) {
                val prog = ((bytes(e) & 0xff) << 8) | (bytes(e + 1) & 0xff)
                val ppid = ((bytes(e + 2) & 0x1f) << 8) | (bytes(e + 3) & 0xff)
                if (prog != 0) pmtPid = ppid
                e += 4
              }
            }
          }
        } else if (pusi && pid == pmtPid) {
          section(k).foreach { case (tid, p, len) =>
            if (tid == 2) {
              val piLen = ((bytes(p + 10) & 0x0f) << 8) |
                (bytes(p + 11) & 0xff)
              var e = p + 12 + piLen
              val end = p + len - 4
              while (e + 5 <= end) {
                val st = bytes(e) & 0xff
                val epid = ((bytes(e + 1) & 0x1f) << 8) | (bytes(e + 2) & 0xff)
                val esLen = ((bytes(e + 3) & 0x0f) << 8) | (bytes(e + 4) & 0xff)
                esType(epid) = st
                e += 5 + esLen
              }
            }
          }
        }
      }
      k += 1
    }
    esType
  }

  def parseMpegTs(id: Long, bytes: Array[Byte]): Seq[TsStream] = {
    def bad = Seq(TsBad.copy(media_id = id))
    if (bytes.length < 188 || bytes(0) != 0x47) return bad
    val nPackets = bytes.length / 188
    val esType = tsEsTypes(bytes)
    if (esType.isEmpty) return bad

    // pass 2: per-ES packet/PES/PTS/continuity sweep
    final case class Acc(var pkts: Long = 0L, var pes: Long = 0L,
        var firstPts: Long = -1L, var lastPts: Long = -1L,
        var ccErr: Long = 0L, var lastCc: Int = -1)
    val acc = esType.map { case (pid, _) => pid -> new Acc() }
    var k = 0
    while (k < nPackets) {
      val base = k * 188
      if (bytes(base) == 0x47) {
        val pid = ((bytes(base + 1) & 0x1f) << 8) | (bytes(base + 2) & 0xff)
        acc.get(pid).foreach { a =>
          val pusi = (bytes(base + 1) & 0x40) != 0
          val afc = (bytes(base + 3) >> 4) & 3
          val cc = bytes(base + 3) & 0x0f
          a.pkts += 1
          if (afc == 1 || afc == 3) { // payload-carrying: check cc
            if (a.lastCc >= 0 && ((a.lastCc + 1) & 0x0f) != cc)
              a.ccErr += 1
            a.lastCc = cc
          }
          if (pusi && (afc == 1 || afc == 3)) {
            var p = base + 4
            if (afc == 3) p += 1 + (bytes(p) & 0xff)
            if (p + 14 <= base + 188 && bytes(p) == 0 &&
              bytes(p + 1) == 0 && bytes(p + 2) == 1) {
              a.pes += 1
              val flags2 = bytes(p + 7) & 0xff
              if ((flags2 & 0x80) != 0) { // PTS present
                val q = p + 9
                val pts = (((bytes(q) >> 1) & 0x07).toLong << 30) |
                  ((bytes(q + 1) & 0xff).toLong << 22) |
                  (((bytes(q + 2) >> 1) & 0x7f).toLong << 15) |
                  ((bytes(q + 3) & 0xff).toLong << 7) |
                  ((bytes(q + 4) >> 1) & 0x7f).toLong
                if (a.firstPts < 0) a.firstPts = pts
                a.lastPts = pts
              }
            }
          }
        }
      }
      k += 1
    }
    esType.toSeq.map { case (pid, st) =>
      val a = acc(pid)
      TsStream(id, pid, st, a.pkts, a.pes, a.firstPts, a.lastPts,
        a.ccErr, ok = true)
    }
  }

  /** Partition-wise stream inventory over the blob column */
  def tsStreams(blobs: Dataset[MediaBlob]): Dataset[TsStream] = {
    import blobs.sparkSession.implicits._
    blobs.mapPartitions(_.flatMap(b => parseMpegTs(b.media_id, b.content)))
  }

  /** Genuine single-program transport stream: PAT (program 1 → PMT
    * 0x100), a CRC-correct PMT declaring H.264 video on 0x101
    * (+ AAC audio on 0x102 when `audioPes > 0`), then one PES packet
    * per TS packet on each ES PID with PTS advancing `ptsDelta` ticks
    * from `ptsBase` (adaptation-field stuffing fills each packet).
    * `dropVideoCc` skips one continuity value mid-stream — exactly
    * one detectable discontinuity.
    */
  def syntheticMpegTs(id: Long, videoPes: Int, audioPes: Int,
                      ptsBase: Long, ptsDelta: Long,
                      dropVideoCc: Boolean = false): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def packet(pid: Int, cc: Int, pusi: Boolean,
               payload: Array[Byte]): Unit = {
      val pkt = new Array[Byte](188)
      pkt(0) = 0x47
      pkt(1) = (((if (pusi) 0x40 else 0) | (pid >> 8)) & 0xff).toByte
      pkt(2) = (pid & 0xff).toByte
      val room = 184
      if (payload.length < room) {
        // adaptation field stuffing to make the payload flush-right
        val afLen = room - payload.length - 1
        pkt(3) = (0x30 | cc).toByte
        pkt(4) = afLen.toByte
        if (afLen > 0) {
          pkt(5) = 0 // no flags
          java.util.Arrays.fill(pkt, 6, 6 + afLen - 1, 0xff.toByte)
        }
        System.arraycopy(payload, 0, pkt, 188 - payload.length,
          payload.length)
      } else {
        pkt(3) = (0x10 | cc).toByte
        System.arraycopy(payload, 0, pkt, 4, 184)
      }
      out.write(pkt)
    }
    def psi(tableId: Int, body: Array[Byte]): Array[Byte] = {
      // pointer_field + header + body + CRC; section_length covers
      // header-after-length + body + CRC
      val secLen = 5 + body.length + 4
      val sec = new Array[Byte](3 + secLen)
      sec(0) = tableId.toByte
      sec(1) = (0xb0 | ((secLen >> 8) & 0x0f)).toByte
      sec(2) = (secLen & 0xff).toByte
      sec(3) = 0; sec(4) = 1 // transport_stream_id / program id
      sec(5) = 0xc1.toByte // version 0, current
      sec(6) = 0; sec(7) = 0 // section / last section
      System.arraycopy(body, 0, sec, 8, body.length)
      val crc = crc32Mpeg(sec, 0, sec.length - 4)
      sec(sec.length - 4) = ((crc >> 24) & 0xff).toByte
      sec(sec.length - 3) = ((crc >> 16) & 0xff).toByte
      sec(sec.length - 2) = ((crc >> 8) & 0xff).toByte
      sec(sec.length - 1) = (crc & 0xff).toByte
      Array[Byte](0) ++ sec // pointer_field 0
    }
    // PAT: program 1 → PMT 0x100
    packet(0, 0, pusi = true,
      psi(0, Array[Byte](0, 1, (0xe0 | 1).toByte, 0x00)))
    // PMT: PCR on video pid; H.264 on 0x101, optional AAC on 0x102
    val streams = scala.collection.mutable.ArrayBuffer[Byte]()
    streams ++= Array[Byte](0x1b, (0xe0 | 1).toByte, 0x01, 0xf0.toByte, 0)
    if (audioPes > 0)
      streams ++= Array[Byte](0x0f, (0xe0 | 1).toByte, 0x02, 0xf0.toByte, 0)
    packet(0x100, 0, pusi = true,
      psi(2, Array[Byte]((0xe0 | 1).toByte, 0x01, 0xf0.toByte, 0) ++
        streams))
    def pes(streamId: Int, pts: Long): Array[Byte] = {
      val b = new Array[Byte](14 + 6) // header + a token ES payload
      b(0) = 0; b(1) = 0; b(2) = 1; b(3) = streamId.toByte
      val len = b.length - 6
      b(4) = ((len >> 8) & 0xff).toByte; b(5) = (len & 0xff).toByte
      b(6) = 0x80.toByte // '10' + flags
      b(7) = 0x80.toByte // PTS only
      b(8) = 5 // header data length
      b(9) = (0x21 | (((pts >> 30) & 7) << 1)).toByte
      b(10) = ((pts >> 22) & 0xff).toByte
      b(11) = (0x01 | (((pts >> 15) & 0x7f) << 1)).toByte
      b(12) = ((pts >> 7) & 0xff).toByte
      b(13) = (0x01 | ((pts & 0x7f) << 1)).toByte
      var i = 14
      while (i < b.length) { b(i) = ((pts + i) & 0xff).toByte; i += 1 }
      b
    }
    var vcc = 0
    var k = 0
    while (k < videoPes) {
      if (dropVideoCc && k == videoPes / 2) vcc = (vcc + 1) & 0x0f
      packet(0x101, vcc, pusi = true,
        pes(0xe0, ptsBase + k * ptsDelta))
      vcc = (vcc + 1) & 0x0f
      k += 1
    }
    var acc2 = 0
    k = 0
    while (k < audioPes) {
      packet(0x102, acc2, pusi = true,
        pes(0xc0, ptsBase + k * ptsDelta + 1500))
      acc2 = (acc2 + 1) & 0x0f
      k += 1
    }
    out.toByteArray
  }

  // ------------------------------------------------ PES → ADTS/AAC

  /** TS composed DOWN TO THE CODEC LAYER: find the ADTS-AAC
    * elementary stream (PMT stream_type 0x0f), REASSEMBLE its PES
    * payloads across TS packets (PES header stripped on each
    * unit-start packet — 9 fixed bytes + header_data_length;
    * continuation packets appended whole after adaptation-field
    * skip), and run the [[parseAdts]] frame walk over the
    * reconstructed elementary stream — frames, exact duration,
    * profile/rate/channels, CRC-frame counts, all end-to-end from
    * container bytes. The strict whole-stream ADTS contract applies
    * unchanged: a byte lost anywhere in reassembly breaks the frame
    * chain and routes to the sentinel.
    */
  def tsAudioAac(id: Long, bytes: Array[Byte]): AacMeta = {
    val sentinel = AacMeta(id, -1, -1, -1, -1L, -1L, -1L,
      decode_ok = false)
    if (bytes.length < 188 || bytes(0) != 0x47) return sentinel
    val esType = tsEsTypes(bytes)
    val aacPid = esType.collectFirst { case (pid, 0x0f) => pid }
      .getOrElse(return sentinel)
    val nPackets = bytes.length / 188
    val es = new java.io.ByteArrayOutputStream()
    var sawPes = false
    var k = 0
    while (k < nPackets) {
      val base = k * 188
      if (bytes(base) != 0x47) return sentinel
      val pid = ((bytes(base + 1) & 0x1f) << 8) | (bytes(base + 2) & 0xff)
      if (pid == aacPid) {
        val pusi = (bytes(base + 1) & 0x40) != 0
        val afc = (bytes(base + 3) >> 4) & 3
        if (afc == 1 || afc == 3) {
          var p = base + 4
          if (afc == 3) p += 1 + (bytes(p) & 0xff)
          if (p > base + 188) return sentinel
          if (pusi) {
            // PES header: start code + stream_id + length + '10'
            // flags + header_data_length, then the payload
            if (p + 9 > base + 188 || bytes(p) != 0 ||
              bytes(p + 1) != 0 || bytes(p + 2) != 1) return sentinel
            val hdl = bytes(p + 8) & 0xff
            p += 9 + hdl
            if (p > base + 188) return sentinel
            sawPes = true
          }
          if (sawPes) es.write(bytes, p, base + 188 - p)
        }
      }
      k += 1
    }
    if (!sawPes) return sentinel
    parseAdts(id, es.toByteArray)
  }

  /** TS capture whose audio PID carries a REAL ADTS stream
    * ([[syntheticAdts]]'s, so the same frames/duration closed form
    * holds after reassembly): the elementary stream is chopped into
    * `pesChunk`-byte PES packets at arbitrary offsets (deliberately
    * NOT frame-aligned) and each PES spans multiple TS packets via
    * continuation (non-PUSI) packets — the reassembly itself is what
    * a q-entry oracles. PAT/PMT CRC-correct as in [[syntheticMpegTs]];
    * one H.264 PID keeps the PMT heterogeneous.
    */
  def syntheticMpegTsAac(id: Long, frames: Int, profile: Int,
                         rateIdx: Int, channels: Int,
                         pesChunk: Int = 300): Array[Byte] = {
    val adts = syntheticAdts(id, frames, profile, rateIdx,
      channels).content
    val out = new java.io.ByteArrayOutputStream()
    def packet(pid: Int, cc: Int, pusi: Boolean,
               payload: Array[Byte], off: Int, len: Int): Unit = {
      val pkt = new Array[Byte](188)
      pkt(0) = 0x47
      pkt(1) = (((if (pusi) 0x40 else 0) | (pid >> 8)) & 0xff).toByte
      pkt(2) = (pid & 0xff).toByte
      if (len < 184) {
        val afLen = 184 - len - 1
        pkt(3) = (0x30 | cc).toByte
        pkt(4) = afLen.toByte
        if (afLen > 0) {
          pkt(5) = 0
          java.util.Arrays.fill(pkt, 6, 6 + afLen - 1, 0xff.toByte)
        }
        System.arraycopy(payload, off, pkt, 188 - len, len)
      } else {
        pkt(3) = (0x10 | cc).toByte
        System.arraycopy(payload, off, pkt, 4, 184)
      }
      out.write(pkt)
    }
    def psi(tableId: Int, body: Array[Byte]): Array[Byte] = {
      val secLen = 5 + body.length + 4
      val sec = new Array[Byte](3 + secLen)
      sec(0) = tableId.toByte
      sec(1) = (0xb0 | ((secLen >> 8) & 0x0f)).toByte
      sec(2) = (secLen & 0xff).toByte
      sec(3) = 0; sec(4) = 1
      sec(5) = 0xc1.toByte
      sec(6) = 0; sec(7) = 0
      System.arraycopy(body, 0, sec, 8, body.length)
      val crc = crc32Mpeg(sec, 0, sec.length - 4)
      sec(sec.length - 4) = ((crc >> 24) & 0xff).toByte
      sec(sec.length - 3) = ((crc >> 16) & 0xff).toByte
      sec(sec.length - 2) = ((crc >> 8) & 0xff).toByte
      sec(sec.length - 1) = (crc & 0xff).toByte
      Array[Byte](0) ++ sec
    }
    def psiPacket(pid: Int, sec: Array[Byte]): Unit =
      packet(pid, 0, pusi = true, sec, 0, sec.length)
    psiPacket(0, psi(0, Array[Byte](0, 1, (0xe0 | 1).toByte, 0x00)))
    psiPacket(0x100,
      psi(2, Array[Byte]((0xe0 | 1).toByte, 0x01, 0xf0.toByte, 0) ++
        Array[Byte](0x1b, (0xe0 | 1).toByte, 0x01, 0xf0.toByte, 0) ++
        Array[Byte](0x0f, (0xe0 | 1).toByte, 0x02, 0xf0.toByte, 0)))
    // one token video PES keeps PID 0x101 alive in the inventory
    val vPes = Array[Byte](0, 0, 1, 0xe0.toByte, 0, 8,
      0x80.toByte, 0x00, 0x00, 1, 2, 3, 4, 5)
    packet(0x101, 0, pusi = true, vPes, 0, vPes.length)
    // audio: ADTS chopped into PES units at arbitrary offsets
    var cc = 0
    var at = 0
    var pts = 90000L
    while (at < adts.length) {
      val chunk = math.min(pesChunk, adts.length - at)
      val pes = new Array[Byte](14 + chunk)
      pes(0) = 0; pes(1) = 0; pes(2) = 1; pes(3) = 0xc0.toByte
      val len = pes.length - 6
      pes(4) = ((len >> 8) & 0xff).toByte; pes(5) = (len & 0xff).toByte
      pes(6) = 0x80.toByte
      pes(7) = 0x80.toByte
      pes(8) = 5
      pes(9) = (0x21 | (((pts >> 30) & 7) << 1)).toByte
      pes(10) = ((pts >> 22) & 0xff).toByte
      pes(11) = (0x01 | (((pts >> 15) & 0x7f) << 1)).toByte
      pes(12) = ((pts >> 7) & 0xff).toByte
      pes(13) = (0x01 | ((pts & 0x7f) << 1)).toByte
      System.arraycopy(adts, at, pes, 14, chunk)
      var o = 0
      var first = true
      while (o < pes.length) {
        val n = math.min(184, pes.length - o)
        packet(0x102, cc, pusi = first, pes, o, n)
        cc = (cc + 1) & 0x0f
        first = false
        o += n
      }
      at += chunk
      pts += 1920 // ~21ms at 90 kHz, inert for the walk
    }
    out.toByteArray
  }
}
