package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.multimodal.Multimodal

/** FLAC frame/subframe decode: encoder round-trips over the subframe
  * type matrix, stereo decorrelation, a hand-crafted LPC stream, CRC
  * rejection, and the partition-wise stats operator.
  */
class FlacPcmSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark

  private def sig(id: Long, n: Int, amp: Int): Array[Int] =
    Array.tabulate(n)(i =>
      ((id * 31 + i * i * 7 + i * 13) % (2 * amp + 1)).toInt - amp)

  test("mono round-trips: constant, linear ramp (zero fixed-order-2 " +
    "residuals), mixed signal, multiple frames, 8/16-bit depths") {
    val cases = Seq(
      (Array.fill(300)(42), 16, 128),
      (Array.tabulate(500)(i => i - 250), 16, 128),
      (sig(7L, 3000, 30000), 16, 1024),   // 3 frames
      (sig(9L, 130, 100), 8, 64),
      (Array(5), 16, 16),
      (Array.fill(2048)(0), 16, 1024))
    cases.foreach { case (s, bps, blockSize) =>
      val enc = Multimodal.flacEncode(44100, 1, bps, s,
        blockSize = blockSize)
      val (rate, ch, outBps, pcm) = Multimodal.decodeFlacPcm(enc)
        .getOrElse(fail(s"n=${s.length} bps=$bps did not decode"))
      assert(rate == 44100 && ch == 1 && outBps == bps)
      assert(pcm.toSeq == s.toSeq, s"n=${s.length} bps=$bps")
    }
  }

  test("stereo round-trips: independent and mid/side (odd sums " +
    "exercise the floor-and-carry reconstruction) agree bit-exactly") {
    val n = 700
    val inter = new Array[Int](n * 2)
    (0 until n).foreach { i =>
      inter(2 * i) = ((i * 37 + 11) % 501) - 250
      inter(2 * i + 1) = ((i * 53 + 7) % 401) - 200
    }
    for (mode <- Seq("independent", "midside")) {
      val enc = Multimodal.flacEncode(16000, 2, 16, inter,
        blockSize = 256, stereoMode = mode)
      val (_, ch, _, pcm) = Multimodal.decodeFlacPcm(enc)
        .getOrElse(fail(s"$mode did not decode"))
      assert(ch == 2)
      assert(pcm.toSeq == inter.toSeq, mode)
    }
  }

  test("verbatim subframes round-trip (the no-model escape hatch)") {
    val s = sig(3L, 400, 32000)
    val enc = Multimodal.flacEncode(8000, 1, 16, s, blockSize = 128,
      verbatim = true)
    assert(Multimodal.decodeFlacPcm(enc).exists(_._4.toSeq == s.toSeq))
  }

  test("hand-crafted LPC subframe decodes: order 1, coefficient 2, " +
    "shift 1 — the quantized-predictor arithmetic") {
    // bit writer + CRCs, MSB-first
    val bits = scala.collection.mutable.ArrayBuffer.empty[Int]
    def wr(v: Long, n: Int): Unit =
      (n - 1 to 0 by -1).foreach(i => bits += ((v >> i) & 1L).toInt)
    def toBytes(bs: Seq[Int]): Array[Byte] = {
      require(bs.length % 8 == 0)
      bs.grouped(8).map(g => g.foldLeft(0)((a, b) => (a << 1) | b).toByte)
        .toArray
    }
    def crc8(b: Array[Byte]): Int = {
      var c = 0
      b.foreach { x =>
        c ^= x & 0xff
        (0 until 8).foreach { _ =>
          c = if ((c & 0x80) != 0) ((c << 1) ^ 0x07) & 0xff
              else (c << 1) & 0xff
        }
      }
      c
    }
    def crc16(b: Array[Byte]): Int = {
      var c = 0
      b.foreach { x =>
        c ^= (x & 0xff) << 8
        (0 until 8).foreach { _ =>
          c = if ((c & 0x8000) != 0) ((c << 1) ^ 0x8005) & 0xffff
              else (c << 1) & 0xffff
        }
      }
      c
    }
    val n = 6
    // samples: s0 = 10 warmup; s[i] = ((2 * s[i-1]) >> 1) + res[i]
    val res = Array(3, -2, 5, 0, -7)
    val expect = new Array[Int](n)
    expect(0) = 10
    (1 until n).foreach(i => expect(i) = ((2 * expect(i - 1)) >> 1) + res(i - 1))
    // STREAMINFO: rate 8000, 1ch, 8bps, 6 samples
    val head = new java.io.ByteArrayOutputStream()
    head.write('f'); head.write('L'); head.write('a'); head.write('C')
    head.write(0x80); head.write(0); head.write(0); head.write(34)
    head.write(0); head.write(16); head.write(0); head.write(16)
    (0 until 6).foreach(_ => head.write(0))
    val acc = (8000L << 44) | (0L << 41) | (7L << 36) | n.toLong
    (7 to 0 by -1).foreach(i => head.write(((acc >>> (8 * i)) & 0xff).toInt))
    (0 until 16).foreach(_ => head.write(0))
    // frame header
    wr(0x3ffe, 14); wr(0, 1); wr(0, 1)
    wr(7, 4)   // block size: 16-bit follows
    wr(0, 4)   // rate from STREAMINFO
    wr(0, 4)   // 1 channel
    wr(1, 3); wr(0, 1) // 8-bit samples
    wr(0, 8)   // coded frame number 0
    wr(n - 1, 16)
    val hdr = toBytes(bits.toSeq)
    wr(crc8(hdr), 8)
    // subframe: pad 0, type LPC order 1 (32), no wasted bits
    wr(0, 1); wr(32, 6); wr(0, 1)
    wr(10L & 0xff, 8)          // warmup s0 = 10
    wr(3, 4)                   // precision code 3 → 4 bits
    wr(1, 5)                   // shift 1
    wr(2L & 0xf, 4)            // coefficient +2 in 4 bits
    wr(0, 2)                   // Rice 4-bit method
    wr(0, 4)                   // partition order 0
    wr(4, 4)                   // rice param 4
    res.foreach { r =>
      val u = (r.toLong << 1) ^ (r.toLong >> 63)
      (0 until (u >>> 4).toInt).foreach(_ => wr(0, 1))
      wr(1, 1)
      wr(u & 0xf, 4)
    }
    while (bits.length % 8 != 0) wr(0, 1)
    val body = toBytes(bits.toSeq)
    val c16 = crc16(body)
    val stream = head.toByteArray ++ body ++
      Array((c16 >> 8).toByte, (c16 & 0xff).toByte)
    val (rate, ch, bps, pcm) = Multimodal.decodeFlacPcm(stream)
      .getOrElse(fail("crafted LPC stream did not decode"))
    assert(rate == 8000 && ch == 1 && bps == 8)
    assert(pcm.toSeq == expect.toSeq)
  }

  test("corruption is a row property: flipped payload byte fails " +
    "CRC-16, flipped header byte fails CRC-8, truncation fails") {
    val s = sig(5L, 600, 20000)
    val enc = Multimodal.flacEncode(22050, 1, 16, s, blockSize = 256)
    assert(Multimodal.decodeFlacPcm(enc).isDefined)
    assert(Multimodal.decodeFlacPcm(enc.take(enc.length - 3)).isEmpty)
    assert(Multimodal.decodeFlacPcm(enc.take(60)).isEmpty)
    val corrupt = enc.clone()
    corrupt(enc.length - 10) = (corrupt(enc.length - 10) ^ 0x40).toByte
    assert(Multimodal.decodeFlacPcm(corrupt).isEmpty)
    val hdrCorrupt = enc.clone()
    // the first frame starts right after the 42-byte STREAMINFO
    hdrCorrupt(44) = (hdrCorrupt(44) ^ 0x08).toByte
    assert(Multimodal.decodeFlacPcm(hdrCorrupt).isEmpty)
  }

  test("decodeFlacStats is partition-wise, one row per channel, " +
    "sentinel on undecodable") {
    import spark.implicits._
    val good = (0L until 4L).map { id =>
      val inter = new Array[Int](200 * 2)
      (0 until 200).foreach { i =>
        inter(2 * i) = ((id * 17 + i * 3) % 201).toInt - 100
        inter(2 * i + 1) = ((id * 13 + i * 7) % 151).toInt - 75
      }
      graft.multimodal.MediaBlob(id, "audio/flac",
        Multimodal.flacEncode(16000, 2, 16, inter, blockSize = 64,
          stereoMode = if (id % 2 == 0) "midside" else "independent"))
    }
    val blobs = (good :+ graft.multimodal.MediaBlob(9L, "audio/flac",
      Array[Byte]('f', 'L', 'a', 'C', 1, 2))).toDS()
    val rows = Multimodal.decodeFlacStats(blobs).collect()
    assert(rows.count(_.decode_ok) == 8) // 4 blobs × 2 channels
    assert(rows.exists(r => r.media_id == 9L && !r.decode_ok))
    // stats match a direct PCM fold
    val r0 = rows.filter(r => r.media_id == 0L && r.channel == 0).head
    val ch0 = (0 until 200).map(i => ((0 * 17 + i * 3) % 201) - 100)
    assert(r0.n_samples == 200L)
    assert(r0.peak == ch0.map(math.abs).max)
    assert(r0.sum_abs == ch0.map(v => math.abs(v).toLong).sum)
    assert(r0.sum_sq == ch0.map(v => v.toLong * v).sum)
  }
}
