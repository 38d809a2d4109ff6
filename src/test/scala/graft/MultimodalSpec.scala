package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.multimodal.Multimodal
import graft.multimodal.{DecodedMeta, MediaBlob, TextBlob}

/** Multimodal binary-column plumbing: synthetic blobs, partition-wise
  * decode stub with failure routing, frame plan, per-frame features.
  */
class MultimodalSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("decodeStub parses header metadata partition-wise; malformed " +
    "blobs route to decode_ok=false instead of failing the task") {
    val blobs = Seq(
      Multimodal.syntheticBlob(1L, "image", 640, 480, 100),
      Multimodal.syntheticBlob(2L, "video", 1920, 1080, 500),
      MediaBlob(3L, "image", Array[Byte](1, 2, 3)),          // truncated
      MediaBlob(4L, "image", new Array[Byte](16))            // bad magic
    ).toDS().repartition(3)
    val out = Multimodal.decodeStub(blobs).collect()
      .sortBy(_.media_id)
    assert(out(0) == DecodedMeta(1L, "image", 640, 480, 100L, true))
    assert(out(1) == DecodedMeta(2L, "video", 1920, 1080, 500L, true))
    assert(!out(2).decode_ok && !out(3).decode_ok)
  }

  test("syntheticBlob content is deterministic per id") {
    val a = Multimodal.syntheticBlob(7L, "image", 10, 10, 64)
    val b = Multimodal.syntheticBlob(7L, "image", 10, 10, 64)
    val c = Multimodal.syntheticBlob(8L, "image", 10, 10, 64)
    assert(a.content.toSeq == b.content.toSeq)
    assert(a.content.toSeq != c.content.toSeq)
  }

  test("frameSample caps frames and keeps metadata columns") {
    val media = Seq((1L, 1000L), (2L, 5000L), (3L, 60000L))
      .toDF("media_id", "duration_ms")
    val out = Multimodal.frameSample(media, "media_id", "duration_ms",
        everyMs = 2000L, maxFrames = 5)
      .groupBy($"media_id").agg(count(lit(1)).as("n"),
        max($"frame_ts_ms").as("last_ts"))
      .orderBy($"media_id").collect()
    // 1000ms → 1 frame; 5000ms → 3 frames (0,2000,4000); 60000ms → cap 5
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((1L, 1L, 0L), (2L, 3L, 4000L), (3L, 5L, 8000L)))
  }

  test("wav codec: synthesized RIFF bytes parse back to their exact " +
    "parameters; duration floors data/byte_rate") {
    val w = Multimodal.syntheticWav(5L, 22050, 2, 16, 1103)
    // canonical header really is RIFF/WAVE
    assert(new String(w.content, 0, 4, "US-ASCII") == "RIFF")
    assert(new String(w.content, 8, 4, "US-ASCII") == "WAVE")
    val m = Multimodal.parseWav(5L, w.content)
    assert(m == graft.multimodal.WavMeta(5L, 22050, 2, 16, 1103L * 4,
      1103L * 4 * 1000 / (22050 * 4), decode_ok = true))
    assert(m.duration_ms == 50L) // 1103 frames at 22050 Hz → 50.02 ms
  }

  test("wav codec: chunk walk tolerates LIST chunk before fmt, odd-" +
    "size padding, and routes malformations to decode_ok=false") {
    val base = Multimodal.syntheticWav(9L, 8000, 1, 16, 100).content
    // splice a 5-byte LIST chunk (odd → 1 pad byte) after "WAVE"
    val extra = java.nio.ByteBuffer
      .allocate(base.length + 8 + 6)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    extra.put(base, 0, 12)
    extra.put("LIST".getBytes("US-ASCII")).putInt(5)
    extra.put(Array[Byte](1, 2, 3, 4, 5, 0))
    extra.put(base, 12, base.length - 12)
    // RIFF size field now stale — parser must not care
    val spliced = Multimodal.parseWav(9L, extra.array())
    assert(spliced.decode_ok && spliced.sample_rate == 8000 &&
      spliced.data_bytes == 200L)
    // malformations
    assert(!Multimodal.parseWav(1L, base.take(20)).decode_ok)  // truncated
    assert(!Multimodal.parseWav(1L, Array[Byte]()).decode_ok)  // empty
    val badMagic = base.clone(); badMagic(0) = 'X'.toByte
    assert(!Multimodal.parseWav(1L, badMagic).decode_ok)
    // declared data size past EOF
    val shortData = base.dropRight(10)
    assert(!Multimodal.parseWav(1L, shortData).decode_ok)
    // corrupt giant chunk size must terminate, not loop
    val hugeSize = base.clone()
    java.nio.ByteBuffer.wrap(hugeSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(16, -8)
    assert(!Multimodal.parseWav(1L, hugeSize).decode_ok)
  }

  test("decodeWav runs partition-wise over a Dataset of blobs") {
    val blobs = Seq(
      Multimodal.syntheticWav(1L, 16000, 1, 16, 800),
      Multimodal.syntheticWav(2L, 44100, 2, 16, 4410),
      MediaBlob(3L, "audio", Array[Byte](82, 73, 70, 70)) // bare "RIFF"
    ).toDS().repartition(2)
    val out = Multimodal.decodeWav(blobs).collect().sortBy(_.media_id)
    assert(out(0) ==
      graft.multimodal.WavMeta(1L, 16000, 1, 16, 1600L, 50L, true))
    assert(out(1) ==
      graft.multimodal.WavMeta(2L, 44100, 2, 16, 17640L, 100L, true))
    assert(!out(2).decode_ok)
  }

  test("wavStats decodes real PCM bytes to exact per-channel signal " +
    "statistics; unsupported depths and truncation route to one bad " +
    "row") {
    // 2-channel interleaved, hand-computed: ch0 = [100, -200, 300],
    // ch1 = [-32768, 0, 7]
    val samples = Array[Short](100, -32768, -200, 0, 300, 7)
    val b = Multimodal.syntheticWavPcm(9L, 16000, 2, samples)
    val st = Multimodal.wavStats(9L, b.content).sortBy(_.channel)
    assert(st.map(_.decode_ok) == Seq(true, true))
    assert(st(0) == graft.multimodal.WavStats(9L, 0, 3L, 300, 600L,
      100L * 100 + 200L * 200 + 300L * 300, decode_ok = true))
    assert(st(1) == graft.multimodal.WavStats(9L, 1, 3L, 32768,
      32775L, 32768L * 32768 + 49L, decode_ok = true))
    // the LCG-payload wavs decode through the same path
    val lcg = Multimodal.syntheticWav(3L, 8000, 1, 16, 100)
    val ls = Multimodal.wavStats(3L, lcg.content)
    assert(ls.length == 1 && ls.head.n_samples == 100L &&
      ls.head.decode_ok)
    // truncation and non-16-bit depth: one decode_ok=false row
    assert(Multimodal.wavStats(3L, lcg.content.take(30)) ==
      Seq(graft.multimodal.WavStats(3L, -1, -1L, -1, -1L, -1L,
        decode_ok = false)))
    val w8 = Multimodal.syntheticWav(4L, 8000, 1, 8, 10)
    assert(!Multimodal.wavStats(4L, w8.content).head.decode_ok)
    // crafted chunk size near 2³¹: the walk's Long-bounds guard must
    // end the walk, not wrap Int into a negative offset and throw
    val evil = java.nio.ByteBuffer.allocate(24)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    evil.put("RIFF".getBytes("US-ASCII")).putInt(16)
      .put("WAVE".getBytes("US-ASCII"))
      .put("JUNK".getBytes("US-ASCII")).putInt(0x7FFFFFF0)
    assert(!Multimodal.parseWav(5L, evil.array()).decode_ok)
    assert(!Multimodal.wavStats(5L, evil.array()).head.decode_ok)
  }

  test("wavWindows: fixed-frame analysis windows fold exact stats " +
    "across channels; the partial tail window keeps its real " +
    "n_frames; undecodable routes to one bad row") {
    // 2 channels, 5 frames, window = 2 frames -> windows of 2, 2, 1
    // frames; window 0 samples = [100, -32768, -200, 0]
    val samples =
      Array[Short](100, -32768, -200, 0, 300, 7, -5, 9, 11, -13)
    val b = Multimodal.syntheticWavPcm(9L, 16000, 2, samples)
    val w = Multimodal.wavWindows(9L, b.content, winFrames = 2)
    assert(w.map(_.window_no) == Seq(0, 1, 2))
    assert(w(0) == graft.multimodal.WavWindow(9L, 0, 0L, 2, 32768,
      100L + 32768 + 200, 100L * 100 + 32768L * 32768 + 200L * 200,
      decode_ok = true))
    assert(w(2).n_frames == 1 && w(2).peak == 13 &&
      w(2).sum_abs == 24L && w(2).start_ms == 4L * 1000 / 16000)
    // start_ms floors frame_index*1000/rate
    assert(w(1).start_ms == 2L * 1000 / 16000)
    // whole-stream stats are the windows' sum (no frame lost/reused)
    val st = Multimodal.wavStats(9L, b.content)
    assert(w.map(_.sum_sq).sum == st.map(_.sum_sq).sum &&
      w.map(_.sum_abs).sum == st.map(_.sum_abs).sum)
    // truncation -> one bad row
    assert(Multimodal.wavWindows(9L, b.content.take(30), 2) ==
      Seq(graft.multimodal.WavWindow(9L, -1, -1L, -1, -1, -1L, -1L,
        decode_ok = false)))
  }

  test("transcodeWav: mono mixdown then box-average decimation is " +
    "exact floorDiv arithmetic; never-upsample and non-divisible " +
    "rates pass through byte-identical; undecodable routes to None") {
    // 2-channel @16 kHz, 5 frames; target 8 kHz mono (k = 2).
    // mixed   = floorDiv(l+r, 2)        = [15, -4, 6, 4, 25]
    // decim×2 = floorDiv(m0+m1, 2) ...  = [5, 5]   (frame 4 dropped)
    val samples = Array[Short](10, 20, -3, -4, 5, 8, 7, 2, 100, -50)
    val b = Multimodal.syntheticWavPcm(9L, 16000, 2, samples)
    val Some(out) = Multimodal.transcodeWav(b.content, 8000, mono = true)
    val meta = Multimodal.parseWav(9L, out)
    assert(meta.sample_rate == 8000 && meta.channels == 1 &&
      meta.data_bytes == 4L && meta.decode_ok)
    val st = Multimodal.wavStats(9L, out)
    assert(st == Seq(graft.multimodal.WavStats(9L, 0, 2L, 5, 10L, 50L,
      decode_ok = true)))
    // decimation without mixdown keeps the channels independent:
    // ch0 [10,-3,5,7] -> floorDiv(7,2)=3, floorDiv(12,2)=6
    val Some(st2raw) = Multimodal.transcodeWav(b.content, 8000, mono = false)
    val st2 = Multimodal.wavStats(9L, st2raw).sortBy(_.channel)
    assert(Multimodal.parseWav(9L, st2raw).channels == 2)
    assert(st2(0).n_samples == 2L && st2(0).sum_abs == 9L) // |3|+|6|
    // never upsample: 8 kHz source below a 16 kHz target is the SAME
    // array (extra chunks would be preserved — it is the input)
    val lo = Multimodal.syntheticWavPcm(1L, 8000, 1, Array[Short](1, 2))
    assert(Multimodal.transcodeWav(lo.content, 16000, mono = true)
      .get eq lo.content)
    // non-divisible rate (44100 -> 16000): no exact decimation exists,
    // rate is preserved; mono source => full pass-through
    val cd = Multimodal.syntheticWavPcm(2L, 44100, 1, Array[Short](3, 4))
    assert(Multimodal.transcodeWav(cd.content, 16000, mono = true)
      .get eq cd.content)
    // ... but a stereo non-divisible source still mixes, at its rate
    val cd2 = Multimodal.syntheticWavPcm(3L, 44100, 2,
      Array[Short](10, 21, -5, -6))
    val Some(mixedOut) = Multimodal.transcodeWav(cd2.content, 16000,
      mono = true)
    val mm = Multimodal.parseWav(3L, mixedOut)
    assert(mm.sample_rate == 44100 && mm.channels == 1)
    assert(Multimodal.wavStats(3L, mixedOut).head.sum_abs ==
      15L + 6L) // floorDiv(31,2)=15, floorDiv(-11,2)=-6
    // undecodable: truncation and non-16-bit depth route to None
    assert(Multimodal.transcodeWav(b.content.take(30), 8000,
      mono = true).isEmpty)
    val w8 = Multimodal.syntheticWav(4L, 8000, 1, 8, 10)
    assert(Multimodal.transcodeWav(w8.content, 4000, mono = true).isEmpty)
  }

  test("trimWavSilence keeps first-loud..last-loud, preserves " +
    "interior pauses, passes through untrimmed files byte-identical, " +
    "and keeps fully-silent files as valid zero-frame streams") {
    // frames: [5, 2000, 0(pause), 900, 3000, 10] at threshold 1000
    // → keep frames 1..4 including the interior pause and the 900
    val b = Multimodal.syntheticWavPcm(1L, 16000, 1,
      Array[Short](5, 2000, 0, 900, 3000, 10))
    val Some(out) = Multimodal.trimWavSilence(b.content, 1000)
    val st = Multimodal.wavStats(1L, out).head
    assert(st.n_samples == 4L)
    assert(st.sum_abs == 2000L + 0 + 900 + 3000)
    // stereo: ANY channel reaching threshold keeps the frame
    val s2 = Multimodal.syntheticWavPcm(2L, 16000, 2,
      Array[Short](0, 1500, 100, 100, 1500, 0))
    val Some(o2) = Multimodal.trimWavSilence(s2.content, 1000)
    assert(Multimodal.parseWav(2L, o2).data_bytes == 12L) // all 3 frames
    // nothing to trim: the SAME array
    val loud = Multimodal.syntheticWavPcm(3L, 16000, 1,
      Array[Short](2000, 1, 2000))
    assert(Multimodal.trimWavSilence(loud.content, 1000).get
      eq loud.content)
    // fully silent: empty but VALID (not a rejection)
    val silent = Multimodal.syntheticWavPcm(4L, 16000, 1,
      Array[Short](1, -2, 3))
    val Some(empty) = Multimodal.trimWavSilence(silent.content, 1000)
    val em = Multimodal.parseWav(4L, empty)
    assert(em.decode_ok && em.data_bytes == 0L)
    assert(Multimodal.trimWavSilence(b.content.take(30), 1000).isEmpty)
  }

  test("normalizeWavPeak applies one exact rational gain per file: " +
    "amplify and attenuate match floorDiv arithmetic; silent and " +
    "at-target files pass through byte-identical") {
    // peak 100 → target 30000: gain ×300 exactly
    val quiet = Multimodal.syntheticWavPcm(1L, 16000, 1,
      Array[Short](10, -25, 100, -100, 3))
    val Some(up) = Multimodal.normalizeWavPeak(quiet.content, 30000)
    val st = Multimodal.wavStats(1L, up).head
    assert(st.peak == 30000)
    assert(st.sum_abs == (10L + 25 + 100 + 100 + 3) * 300)
    // attenuate with floors: peak 32000 → 3000, gain 3/32:
    // floorDiv(s·3000, 32000): 32000→3000, -15→-2 (floor, not trunc)
    val hot = Multimodal.syntheticWavPcm(2L, 16000, 2,
      Array[Short](32000, -15, 160, 321))
    val Some(down) = Multimodal.normalizeWavPeak(hot.content, 3000)
    val chans = Multimodal.wavStats(2L, down).sortBy(_.channel)
    assert(chans(0).sum_abs == 3000L + 15) // ch0: 32000→3000, 160→15
    assert(chans(1).sum_abs == 2L + 30)    // ch1: -15→-2, 321→30
    // peak already at target / all-zero: the SAME array
    val at = Multimodal.syntheticWavPcm(3L, 16000, 1,
      Array[Short](3000, -7))
    assert(Multimodal.normalizeWavPeak(at.content, 3000).get
      eq at.content)
    val silent = Multimodal.syntheticWavPcm(4L, 16000, 1,
      Array[Short](0, 0, 0))
    assert(Multimodal.normalizeWavPeak(silent.content, 30000).get
      eq silent.content)
    // rejection contract matches transcodeWav
    assert(Multimodal.normalizeWavPeak(
      quiet.content.take(30), 30000).isEmpty)
  }

  test("transcodeWav fractional=true: 44.1k→16k runs exact fixed-point " +
    "linear interpolation matching the hand-computed ramp; divisible " +
    "rates keep box decimation; upsample still passes through") {
    // mono ramp s(i) = 441·i at 44.1 kHz (20 frames). Output j sits at
    // source position j·44100/16000 = j·2.75625, so
    // v(j) = floorDiv(441·j·44100, 16000) and
    // outFrames = (19·16000)//44100 + 1 = 7:
    //   [0, 1215, 2431, 3646, 4862, 6077, 7293]
    val ramp = Array.tabulate(20)(i => (441 * i).toShort)
    val b = Multimodal.syntheticWavPcm(1L, 44100, 1, ramp)
    val Some(out) = Multimodal.transcodeWav(b.content, 16000,
      mono = true, fractional = true)
    val meta = Multimodal.parseWav(1L, out)
    assert(meta.sample_rate == 16000 && meta.channels == 1 &&
      meta.data_bytes == 14L && meta.decode_ok)
    val st = Multimodal.wavStats(1L, out).head
    assert(st.n_samples == 7L)
    assert(st.peak == 7293)
    assert(st.sum_abs == 0L + 1215 + 2431 + 3646 + 4862 + 6077 + 7293)
    // stereo mixdown happens BEFORE interpolation: 24 kHz → 16 kHz
    // (ratio 3/2), l/r = (10,21),(−5,−6),(30,7),(2,2) → mixed
    // floorDiv = [15,−6,18,2]; j=1 at pos 1.5: floorDiv(−6·8000
    // + 18·8000, 16000) = 6; j=2 at pos 3.0: 2. outFrames = 3.
    val b2 = Multimodal.syntheticWavPcm(2L, 24000, 2,
      Array[Short](10, 21, -5, -6, 30, 7, 2, 2))
    val Some(out2) = Multimodal.transcodeWav(b2.content, 16000,
      mono = true, fractional = true)
    val st2 = Multimodal.wavStats(2L, out2).head
    assert(Multimodal.parseWav(2L, out2).sample_rate == 16000)
    assert(st2.n_samples == 3L && st2.sum_abs == 15L + 6L + 2L)
    // divisible rate: fractional=true still routes to box decimation
    val dv = Multimodal.syntheticWavPcm(3L, 16000, 2,
      Array[Short](10, 20, -3, -4, 5, 8, 7, 2, 100, -50))
    assert(java.util.Arrays.equals(
      Multimodal.transcodeWav(dv.content, 8000, mono = true,
        fractional = true).get,
      Multimodal.transcodeWav(dv.content, 8000, mono = true).get))
    // never-upsample holds with fractional=true
    val lo = Multimodal.syntheticWavPcm(4L, 8000, 1, Array[Short](1, 2))
    assert(Multimodal.transcodeWav(lo.content, 16000, mono = true,
      fractional = true).get eq lo.content)
  }

  test("decodeJpegPixels decodes PROGRESSIVE (SOF2) streams: an " +
    "ImageIO-encoded progressive photo round-trips within " +
    "quantization tolerance and matches the baseline decode closely") {
    val w = 48; val h = 32
    val orig = Multimodal.syntheticPhotoRgb(11L, w, h)
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val i = (y * w + x) * 3
        img.setRGB(x, y, ((orig(i) & 0xff) << 16) |
          ((orig(i + 1) & 0xff) << 8) | (orig(i + 2) & 0xff))
        x += 1
      }
      y += 1
    }
    def encode(progressive: Boolean): Array[Byte] = {
      val writer = javax.imageio.ImageIO
        .getImageWritersByFormatName("jpg").next()
      val param = writer.getDefaultWriteParam
      if (progressive)
        param.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(img, null, null),
        param)
      ios.close(); writer.dispose()
      bos.toByteArray
    }
    val prog = encode(progressive = true)
    // the JDK writer really emitted SOF2 (else this test proves nothing)
    assert((0 until prog.length - 1).exists(i =>
      (prog(i) & 0xff) == 0xff && (prog(i + 1) & 0xff) == 0xc2))
    assert(Multimodal.parseJpeg(11L, prog).decode_ok)
    val Some((dw, dh, rgb)) = Multimodal.decodeJpegRgb(prog)
    assert(dw == w && dh == h)
    var errSum = 0L
    var i = 0
    while (i < rgb.length) {
      errSum += math.abs((rgb(i) & 0xff) - (orig(i) & 0xff))
      i += 1
    }
    assert(errSum.toDouble / rgb.length <= 8.0,
      s"progressive MAE ${errSum.toDouble / rgb.length}")
    // progressive and baseline encodes of the SAME pixels must decode
    // near-identically (same quantization, different scan order)
    val Some((_, _, rgbBase)) = Multimodal.decodeJpegRgb(
      encode(progressive = false))
    var diffSum = 0L
    i = 0
    while (i < rgb.length) {
      diffSum += math.abs((rgb(i) & 0xff) - (rgbBase(i) & 0xff))
      i += 1
    }
    assert(diffSum.toDouble / rgb.length <= 2.0,
      s"progressive-vs-baseline MAE ${diffSum.toDouble / rgb.length}")
    // truncation mid-chain stays a row property
    assert(!Multimodal.parseJpeg(11L,
      java.util.Arrays.copyOf(prog, prog.length / 2)).decode_ok)
    assert(Multimodal.decodeJpegRgb(
      java.util.Arrays.copyOf(prog, prog.length / 2)).isEmpty)
  }

  test("gunzip round-trips, rejects truncation and bad magic, and " +
    "caps decompression bombs instead of inflating them") {
    val data = ("payload-" * 100).getBytes("UTF-8")
    val gz = Multimodal.gzipBytes(data)
    assert(Multimodal.sniffFormat(gz) == "gzip")
    assert(Multimodal.gunzip(gz).exists(_.sameElements(data)))
    // truncated member / flipped magic → None
    assert(Multimodal.gunzip(java.util.Arrays.copyOf(gz, 10)).isEmpty)
    assert(Multimodal.gunzip(gz.dropRight(3)).isEmpty)
    val bad = gz.clone(); bad(0) = 0
    assert(Multimodal.gunzip(bad).isEmpty)
    // bomb cap: 1 MB of zeros gzips to ~1 KB; a 64 KB cap must refuse
    // to inflate it rather than materialize the megabyte
    val bomb = Multimodal.gzipBytes(new Array[Byte](1 << 20))
    assert(bomb.length < 4096)
    assert(Multimodal.gunzip(bomb, maxBytes = 1 << 16).isEmpty)
    // CONCATENATED members decode as one stream — real .warc.gz is
    // one gzip member per record, back to back; this is what lets
    // the WET ingest path read production CommonCrawl framing
    val a = "record-one;".getBytes("UTF-8")
    val b = "record-two!".getBytes("UTF-8")
    val multi = Multimodal.gzipBytes(a) ++ Multimodal.gzipBytes(b)
    assert(Multimodal.gunzip(multi).exists(_.sameElements(a ++ b)))
    assert(Multimodal.gunzip(bomb).isDefined) // default cap admits it
    // dispatch surfaces the container row
    val dm = Multimodal.dispatchOne(3L, gz)
    assert(dm.format == "gzip" && dm.decode_ok)
  }

  test("orientRgb: all eight EXIF transforms hand-checked on an " +
    "asymmetric image; decodeJpegRgbOriented applies the tag") {
    // 2x1 image, pixels A=(1,2,3) B=(4,5,6): every transform has a
    // unique answer on it plus a 1x2 counterpart for the swaps
    val ab = Array[Byte](1, 2, 3, 4, 5, 6)
    def px(rgb: Array[Byte], i: Int) =
      (rgb(i * 3).toInt, rgb(i * 3 + 1).toInt, rgb(i * 3 + 2).toInt)
    // o=2 mirror: B A
    val (w2, _, m2) = Multimodal.orientRgb(2, 1, ab, 2)
    assert(w2 == 2 && px(m2, 0) == ((4, 5, 6)) && px(m2, 1) == ((1, 2, 3)))
    // o=3 rotate 180 on 2x1 = mirror
    assert(Multimodal.orientRgb(2, 1, ab, 3)._3.toSeq == m2.toSeq)
    // o=6 (90 CW): 2x1 wide -> 1x2 tall, A on TOP (A was left)
    val (w6, h6, r6) = Multimodal.orientRgb(2, 1, ab, 6)
    assert(w6 == 1 && h6 == 2)
    assert(px(r6, 0) == ((1, 2, 3)) && px(r6, 1) == ((4, 5, 6)))
    // o=8 (270 CW): A lands on the BOTTOM
    val (_, _, r8) = Multimodal.orientRgb(2, 1, ab, 8)
    assert(px(r8, 0) == ((4, 5, 6)) && px(r8, 1) == ((1, 2, 3)))
    // o=5 transpose vs o=7 transverse differ on a 2x1
    assert(Multimodal.orientRgb(2, 1, ab, 5)._3.toSeq == r6.toSeq)
    assert(Multimodal.orientRgb(2, 1, ab, 7)._3.toSeq == r8.toSeq)
    // round-trip: applying o then its inverse restores the original
    val (wi, hi, ri) = Multimodal.orientRgb(2, 1, ab, 6)
    assert(Multimodal.orientRgb(wi, hi, ri, 8)._3.toSeq == ab.toSeq)
    // end to end: encode a photo, tag orientation 6, decode oriented
    val w = 24; val h = 16
    val orig = Multimodal.syntheticPhotoRgb(3L, w, h)
    val enc = Multimodal.jpegEncodeRgb420(w, h, orig)
    val tagged = Multimodal.withExifOrientation(enc, 6, bigEndian = false)
    val Some((dw, dh, rgb)) = Multimodal.decodeJpegRgbOriented(tagged)
    assert(dw == h && dh == w)
    val (_, _, exp) = Multimodal.orientRgb(w, h,
      Multimodal.decodeJpegRgb(enc).get._3, 6)
    assert(rgb.toSeq == exp.toSeq) // exact: same decode, same permute
  }

  test("parseJpegExif reads the orientation tag in both byte orders; " +
    "a decoder on the EXIF'd stream still works; corrupt TIFF and " +
    "missing APP1 report has_exif=false") {
    val base = Multimodal.syntheticJpeg(5L, 16, 16).content
    for (big <- Seq(true, false); o <- Seq(1, 3, 6, 8)) {
      val ex = Multimodal.withExifOrientation(base, o, big)
      assert(Multimodal.parseJpegExif(5L, ex) ==
        graft.multimodal.JpegExif(5L, o, big, has_exif = true), s"$big/$o")
      // the inserted APP1 must not break the existing parse/decode
      assert(Multimodal.parseJpeg(5L, ex).decode_ok)
      assert(Multimodal.decodeJpegBlocks(ex).isDefined)
    }
    assert(Multimodal.parseJpegExif(5L, base) ==
      graft.multimodal.JpegExif(5L, -1, big_endian = false, has_exif = false))
    // corrupt TIFF endian marker inside a present APP1
    val bad = Multimodal.withExifOrientation(base, 6, bigEndian = true)
    bad(12) = 'X'.toByte; bad(13) = 'X'.toByte
    assert(!Multimodal.parseJpegExif(5L, bad).has_exif)
    // truncated APP1 length past EOF
    val trunc = Multimodal.withExifOrientation(base, 6, bigEndian = true)
      .take(20)
    assert(!Multimodal.parseJpegExif(5L, trunc).has_exif)
  }

  test("detectAndDecodeText: BOM wins, strict UTF-8 validation " +
    "rejects Latin-1 bytes into the fallback, odd-length UTF-16 " +
    "falls through, decoded content round-trips") {
    import java.nio.charset.StandardCharsets
    val m = Multimodal
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    // plain ASCII = valid UTF-8, no BOM
    val a = m.detectAndDecodeText(1L, "hello".getBytes("UTF-8"))
    assert(a == TextBlob(1L, "utf-8", has_bom = false, 5L,
      md5("hello"), decode_ok = true))
    // multibyte UTF-8 with BOM
    val s1 = "café"
    val b = m.detectAndDecodeText(2L,
      Array[Byte](0xef.toByte, 0xbb.toByte, 0xbf.toByte) ++
        s1.getBytes(StandardCharsets.UTF_8))
    assert(b == TextBlob(2L, "utf-8", has_bom = true, 4L, md5(s1),
      decode_ok = true))
    // the same text in Latin-1: 0xE9 + ASCII is INVALID UTF-8
    val c = m.detectAndDecodeText(3L,
      s1.getBytes(StandardCharsets.ISO_8859_1))
    assert(c.encoding == "latin-1" && c.digest == md5(s1))
    // UTF-16 both orders, BOM'd
    val le = m.detectAndDecodeText(4L,
      Array[Byte](0xff.toByte, 0xfe.toByte) ++
        "wide".getBytes(StandardCharsets.UTF_16LE))
    assert(le.encoding == "utf-16le" && le.digest == md5("wide"))
    val be = m.detectAndDecodeText(5L,
      Array[Byte](0xfe.toByte, 0xff.toByte) ++
        "wide".getBytes(StandardCharsets.UTF_16BE))
    assert(be.encoding == "utf-16be" && be.digest == md5("wide"))
    // odd byte count with a UTF-16 BOM is malformed → Latin-1 path
    val odd = m.detectAndDecodeText(6L,
      Array[Byte](0xff.toByte, 0xfe.toByte, 'x'.toByte))
    assert(odd.encoding == "latin-1")
    // truncated multibyte sequence → Latin-1, empty → decode_ok=false
    assert(m.detectAndDecodeText(7L,
      s1.getBytes(StandardCharsets.UTF_8).dropRight(1))
      .encoding == "latin-1")
    assert(!m.detectAndDecodeText(8L, Array.emptyByteArray).decode_ok)
  }

  test("parseWebp round-trips all three variant headers, takes the " +
    "first recognized chunk, and routes truncation / bad sync to " +
    "decode_ok=false") {
    for ((v, w, h) <- Seq(("VP8", 320, 240), ("VP8L", 1, 16383),
        ("VP8X", 5000, 3000))) {
      val b = Multimodal.syntheticWebp(7L, w, h, v)
      assert(Multimodal.sniffFormat(b.content) == "webp")
      assert(Multimodal.parseWebp(7L, b.content) ==
        graft.multimodal.WebpMeta(7L, v, w, h,
          if (v == "VP8X") 0 else 1, 0L, decode_ok = true))
    }
    // truncated payload: declared chunk size past the buffer
    val t = Multimodal.syntheticWebp(8L, 64, 48, "VP8")
    assert(!Multimodal.parseWebp(8L, t.content.dropRight(4)).decode_ok)
    // VP8 body without the 0x9D012A sync code
    val s = Multimodal.syntheticWebp(9L, 64, 48, "VP8")
    s.content(20 + 3) = 0 // sync byte inside the VP8 payload
    assert(!Multimodal.parseWebp(9L, s.content).decode_ok)
    // a flipped form-type byte demotes to unknown at the sniffer
    val u = Multimodal.syntheticWebp(10L, 64, 48, "VP8L")
    u.content(8) = 'X'.toByte
    assert(Multimodal.sniffFormat(u.content) == "unknown")
  }

  test("imageQuality: integer luma/Laplacian sums discriminate flat " +
    "from structured, agree with closed-form JPEG block arithmetic, " +
    "and route undecodables to a sentinel") {
    // flat PNG: zero variance, zero blur energy
    val flat = Multimodal.pngEncode(10, 6,
      Array.fill(10 * 6 * 3)(77.toByte))
    val f = Multimodal.imageQualityOne(1L, flat)
    assert(f.decode_ok && f.sum_luma == 77L * 60 &&
      f.sum_luma_sq == 77L * 77 * 60 && f.lap_sq_sum == 0L)
    // the gradient is LINEAR mod 256 — its Laplacian is zero except
    // at wrap seams, so a small patch is "blurry" (0 energy) while a
    // patch wide enough to wrap (7·23 + 13·15 ≥ 256) shows structure
    val smooth = Multimodal.imageQualityOne(2L,
      Multimodal.syntheticPngGradient(2L, 10, 7).content)
    assert(smooth.decode_ok && smooth.lap_sq_sum == 0L)
    val g = Multimodal.imageQualityOne(2L,
      Multimodal.syntheticPngGradient(2L, 24, 16).content)
    assert(g.decode_ok && g.lap_sq_sum > 0L)
    // JPEG path: a two-block DC-only stream decodes exactly, so the
    // sums follow closed-form block arithmetic — uniform blocks
    // contribute zero energy, the seam contributes 12·(v1−v2)²
    // (columns 7 and 8 × 6 interior rows × (±(v1−v2))²)
    val jb = Multimodal.syntheticJpeg(3L, 16, 8)
    val Some((_, _, blocks)) = Multimodal.decodeJpegBlocks(jb.content)
    val (v1, v2) = (blocks(0).toLong, blocks(1).toLong)
    val jq = Multimodal.imageQualityOne(3L, jb.content)
    assert(jq.decode_ok && jq.width == 16 && jq.height == 8)
    assert(jq.sum_luma == 64L * (v1 + v2))
    assert(jq.sum_luma_sq == 64L * (v1 * v1 + v2 * v2))
    assert(jq.lap_sq_sum == 12L * (v1 - v2) * (v1 - v2))
    // non-image or truncated blobs: one sentinel row, never a throw
    assert(!Multimodal.imageQualityOne(4L, "not an image".getBytes)
      .decode_ok)
    assert(!Multimodal.imageQualityOne(5L, flat.take(30)).decode_ok)
  }

  test("animated GIF/WebP: frame counts and durations from the block " +
    "walk — the meme-vs-photo triage signal") {
    // GIF89a, 3 frames at 5 cs each → 15 cs total
    val g = Multimodal.parseGif(1L,
      Multimodal.syntheticGif(1L, 32, 24, v89 = true, frames = 3,
        delayCs = 5).content)
    assert(g.frame_count == 3 && g.duration_cs == 15 && g.decode_ok)
    // a mid-animation cut keeps header facts and the frames seen
    val full = Multimodal.syntheticGif(2L, 32, 24, v89 = true,
      frames = 3, delayCs = 5).content
    val cut = Multimodal.parseGif(2L, full.take(full.length - 25))
    assert(cut.decode_ok && cut.frame_count < 3)
    // WebP VP8X animation: 4 ANMF frames at 40 ms each
    val w = Multimodal.parseWebp(3L,
      Multimodal.syntheticWebp(3L, 64, 48, "VP8X", frames = 4,
        frameDurationMs = 40).content)
    assert(w.variant == "VP8X" && w.frame_count == 4 &&
      w.anim_duration_ms == 160L && w.decode_ok)
    // stills: VP8 is one frame; a frameless VP8X counts zero
    assert(Multimodal.parseWebp(4L,
      Multimodal.syntheticWebp(4L, 16, 16, "VP8").content)
      .frame_count == 1)
    assert(Multimodal.parseWebp(5L,
      Multimodal.syntheticWebp(5L, 16, 16, "VP8X").content)
      .frame_count == 0)
    // dispatch surfaces the animation row: frames + duration in ms
    val dm = Multimodal.dispatchOne(1L,
      Multimodal.syntheticGif(1L, 32, 24, v89 = true, frames = 3,
        delayCs = 5).content)
    assert(dm.frames == 3 && dm.duration_ms == 150L)
  }

  test("parseGif reads the logical screen descriptor for both " +
    "versions; short or mis-versioned streams route to " +
    "decode_ok=false; dispatch handles webp/gif end to end") {
    val g87 = Multimodal.syntheticGif(1L, 640, 480, v89 = false)
    val g89 = Multimodal.syntheticGif(2L, 13, 7, v89 = true)
    assert(Multimodal.parseGif(1L, g87.content) ==
      graft.multimodal.GifMeta(1L, "87a", 640, 480, gct = false, 0, 0,
        decode_ok = true))
    assert(Multimodal.parseGif(2L, g89.content) ==
      graft.multimodal.GifMeta(2L, "89a", 13, 7, gct = false, 0, 0,
        decode_ok = true))
    assert(!Multimodal.parseGif(3L, g87.content.take(12)).decode_ok)
    val badV = g89.content.clone()
    badV(4) = '5'.toByte // GIF95a: sniffed unknown, parsed not-ok
    assert(Multimodal.sniffFormat(badV) == "unknown")
    assert(!Multimodal.parseGif(4L, badV).decode_ok)
    // dispatchOne surfaces both as unified rows; dispatchTranscode
    // passes the metadata-only legs through byte-identical
    val dm = Multimodal.dispatchOne(2L, g89.content)
    assert(dm.format == "gif" && dm.decode_ok && dm.width == 13 &&
      dm.height == 7 && dm.sample_rate == -1)
    val wp = Multimodal.syntheticWebp(5L, 31, 17, "VP8X")
    val dw = Multimodal.dispatchOne(5L, wp.content)
    assert(dw.format == "webp" && dw.decode_ok && dw.width == 31 &&
      dw.height == 17)
  }

  test("parseMp4 walks ftyp/moov/trak boxes: v0 and v1 mvhd, 16.16 " +
    "tkhd dims with the zero-dim audio track skipped, stsd codec; " +
    "truncation, bad sizes and largesize all handled") {
    val b0 = Multimodal.syntheticMp4(1L, "isom", 1000, 2500L, 320, 240,
      "avc1")
    assert(Multimodal.sniffFormat(b0.content) == "mp4")
    assert(Multimodal.parseMp4(1L, b0.content) ==
      graft.multimodal.Mp4Meta(1L, "isom", 1000, 2500L, 1, 320, 240, "avc1",
        decode_ok = true))
    // v1 mvhd (64-bit duration) + audio track: dims come from the
    // VIDEO tkhd, track count includes both, duration floors
    val b1 = Multimodal.syntheticMp4(2L, "mp42", 90000, 123456L, 64,
      48, "hvc1", v1 = true, audioTrack = true)
    assert(Multimodal.parseMp4(2L, b1.content) ==
      graft.multimodal.Mp4Meta(2L, "mp42", 90000, 123456L * 1000 / 90000, 2,
        64, 48, "hvc1", decode_ok = true))
    // truncation: a declared box size past the buffer is a row
    // property (brand sniffs, decode fails)
    assert(Multimodal.sniffFormat(b0.content.take(16)) == "mp4")
    assert(!Multimodal.parseMp4(3L, b0.content.take(16)).decode_ok)
    // bad size: a box claiming size 4 (< its own 8-byte header)
    val bad = b0.content.clone()
    bad(3) = 4.toByte // ftyp size 20 -> 4
    assert(!Multimodal.parseMp4(4L, bad).decode_ok)
    // largesize: re-wrap the ftyp payload under a size==1 + u64 header
    val ftypPayload = b0.content.slice(8, 20)
    val ls = java.nio.ByteBuffer.allocate(16 + ftypPayload.length)
    ls.putInt(1).put("ftyp".getBytes("US-ASCII"))
      .putLong(16L + ftypPayload.length).put(ftypPayload)
    val rest = b0.content.drop(20)
    val lsMp4 = ls.array() ++ rest
    assert(Multimodal.parseMp4(5L, lsMp4) ==
      Multimodal.parseMp4(5L, b0.content))
    // dispatch: unified row with track count in the channels slot
    val dm = Multimodal.dispatchOne(2L, b1.content)
    assert(dm.format == "mp4" && dm.decode_ok && dm.width == 64 &&
      dm.height == 48 && dm.channels == 2 &&
      dm.duration_ms == 123456L * 1000 / 90000)
  }

  test("transcodeY4m re-emits a genuine Y4M stream: sampled resized " +
    "frames parse back with target dims; no-op passes through " +
    "byte-identical; non-420 and corrupt streams route to None") {
    val in = Multimodal.syntheticY4m(5L, 16, 12, 30000, 1001, 7)
    val Some(out) = Multimodal.transcodeY4m(in.content, every = 2,
      maxEdge = 12)
    val meta = Multimodal.parseY4m(5L, out)
    // max(16,12)=16 > 12 -> w2 = even(16*12/16)=12, h2 = even(12*12/16)=8
    assert(meta.decode_ok && meta.width == 12 && meta.height == 8 &&
      meta.frames == 4 && meta.fps_num == 30000 && meta.fps_den == 1001)
    // the re-emitted frames are the resize420 planes of frames 0,2,4,6
    val frames = Multimodal.sampleFramesY4m(
      Seq(graft.multimodal.MediaBlob(5L, "video", out)).toDS(), 1).collect()
    assert(frames.length == 4 &&
      frames.forall(_.frame.length == 12 * 8 * 3 / 2))
    val direct = Multimodal.resizeFramesY4m(
      Seq(in).toDS(), every = 2, maxEdge = 12).collect()
      .sortBy(_.frame_no)
    assert(frames.sortBy(_.frame_no).map(_.frame.toSeq).toSeq ==
      direct.map(_.frame.toSeq).toSeq)
    // no transform applies -> the SAME bytes
    assert(Multimodal.transcodeY4m(in.content, every = 1, maxEdge = 16)
      .get eq in.content)
    // truncated stream -> None
    assert(Multimodal.transcodeY4m(in.content.dropRight(5), 2, 12).isEmpty)
  }

  test("dispatchTranscode routes each sniffed container to its " +
    "modality's transform in one pass; unknown magic comes back empty") {
    val spark = SharedSpark.spark
    import spark.implicits._
    val wav = Multimodal.syntheticWavPcm(0L, 16000, 2,
      Array[Short](100, 200, 300, 400))
    val png = Multimodal.syntheticPng(1L, 20, 10)
    val jpg = Multimodal.syntheticJpegPhoto(2L, 32, 16)
    val y4m = Multimodal.syntheticY4m(3L, 16, 12, 25, 1, 5)
    val bad = graft.multimodal.MediaBlob(4L, "mystery", Array[Byte](9, 9, 9))
    val out = Multimodal.dispatchDecode(Multimodal.dispatchTranscode(
        Seq(wav, png, jpg, y4m, bad).toDS(),
        maxEdge = 12, targetRate = 8000, mono = true, every = 2))
      .collect().sortBy(_.media_id)
    assert(out(0).format == "wav" && out(0).sample_rate == 8000 &&
      out(0).channels == 1 && out(0).decode_ok)
    assert(out(1).format == "png" && out(1).width == 12 &&
      out(1).height == 6 && out(1).decode_ok)
    assert(out(2).format == "jpeg" && out(2).width == 12 &&
      out(2).height == 6 && out(2).channels == 3 && out(2).decode_ok)
    assert(out(3).format == "y4m" && out(3).width == 12 &&
      out(3).height == 8 && out(3).frames == 3 && out(3).decode_ok)
    assert(out(4).format == "unknown" && !out(4).decode_ok)
  }

  test("transcodeWavBlobs: partition-wise, untranscodable blobs come " +
    "back empty and route to decode_ok=false downstream") {
    val spark = SharedSpark.spark
    import spark.implicits._
    val blobs = Seq(
      Multimodal.syntheticWavPcm(1L, 16000, 2,
        Array[Short](100, 200, 300, 400)),
      Multimodal.syntheticWavPcm(2L, 16000, 1, Array[Short](7, 9)),
      graft.multimodal.MediaBlob(3L, "audio", Array[Byte](1, 2, 3))
    ).toDS()
    val out = Multimodal.decodeWav(
      Multimodal.transcodeWavBlobs(blobs, 8000, mono = true))
      .collect().sortBy(_.media_id)
    assert(out(0).sample_rate == 8000 && out(0).channels == 1 &&
      out(0).data_bytes == 2L && out(0).decode_ok)
    assert(out(1).sample_rate == 8000 && out(1).channels == 1 &&
      out(1).data_bytes == 2L && out(1).decode_ok)
    assert(!out(2).decode_ok)
  }

  test("png codec: synthesized bytes are REAL PNGs — the JDK's own " +
    "ImageIO decodes them with matching dimensions") {
    val b = Multimodal.syntheticPng(7L, 21, 13)
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(b.content))
    assert(img != null, "ImageIO rejected the synthesized PNG")
    assert(img.getWidth == 21 && img.getHeight == 13)
    val meta = Multimodal.parsePng(7L, b.content)
    assert(meta == graft.multimodal.PngMeta(7L, 21, 13, 8, 2,
      meta.idat_bytes, true))
    assert(meta.idat_bytes > 0)
  }

  test("png codec: large incompressible frames survive the deflate " +
    "loop intact — 500x500 RGB raw (>750KB) round-trips through ImageIO") {
    // regression: a single deflate() into a raw.length+64 buffer
    // silently truncated IDAT once stored-block overhead passed 64B
    val b = Multimodal.syntheticPng(11L, 500, 500)
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(b.content))
    assert(img != null, "ImageIO rejected the 500x500 PNG")
    assert(img.getWidth == 500 && img.getHeight == 500)
    val meta = Multimodal.parsePng(11L, b.content)
    assert(meta.decode_ok && meta.idat_bytes > 500L * (1 + 500 * 3),
      s"IDAT ${meta.idat_bytes}B is smaller than the raw scanlines — truncated")
  }

  test("png codec: truncation, corrupt IHDR CRC, and wrong signature " +
    "all route to decode_ok=false, never a throw") {
    val good = Multimodal.syntheticPng(9L, 16, 16).content
    val truncated = java.util.Arrays.copyOf(good, 40)
    val badCrc = good.clone(); badCrc(29) = (badCrc(29) ^ 0x5a).toByte
    val badSig = good.clone(); badSig(0) = 0x00
    Seq(truncated, badCrc, badSig, Array.emptyByteArray).foreach { bytes =>
      val m = Multimodal.parsePng(9L, bytes)
      assert(!m.decode_ok && m.width == -1, s"len=${bytes.length}")
    }
    // deterministic per id, like the other synthetic blobs
    assert(java.util.Arrays.equals(good,
      Multimodal.syntheticPng(9L, 16, 16).content))
  }

  test("decodePng runs partition-wise over a Dataset of blobs") {
    val blobs = Seq(
      Multimodal.syntheticPng(1L, 10, 4),
      Multimodal.syntheticPng(2L, 3, 30),
      MediaBlob(3L, "image", Array[Byte](0x50, 0x4e, 0x47)) // not a png
    ).toDS().repartition(2)
    val out = Multimodal.decodePng(blobs).collect().sortBy(_.media_id)
    assert(out(0).width == 10 && out(0).height == 4 && out(0).decode_ok)
    assert(out(1).width == 3 && out(1).height == 30 && out(1).decode_ok)
    assert(!out(2).decode_ok)
  }

  test("png pixel decode reverses ALL filter types: a JDK-ImageIO-" +
    "encoded image (adaptive Sub/Up/Avg/Paeth filtering) decodes to " +
    "the exact pixels ImageIO itself reads back") {
    // smooth gradient → the JDK encoder picks non-zero row filters
    val (w, h) = (37, 23)
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until h).foreach { y => (0 until w).foreach { x =>
      img.setRGB(x, y, ((x * 7) % 256 << 16) | ((y * 11) % 256 << 8) |
        ((x + y) % 256))
    }}
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val bytes = bos.toByteArray
    val Some((dw, dh, px)) = Multimodal.decodePngPixels(bytes)
    assert(dw == w && dh == h)
    (0 until h).foreach { y => (0 until w).foreach { x =>
      val rgb = img.getRGB(x, y)
      val o = (y * w + x) * 3
      assert((px(o) & 0xff) == ((rgb >> 16) & 0xff) &&
        (px(o + 1) & 0xff) == ((rgb >> 8) & 0xff) &&
        (px(o + 2) & 0xff) == (rgb & 0xff), s"pixel ($x,$y)")
    }}
  }

  test("resizePng: nearest-neighbor downscale re-encodes a real PNG " +
    "with exact integer target dims; within-budget images pass " +
    "through byte-identical; corrupt blobs route to empty content") {
    val blob = Multimodal.syntheticPng(11L, 20, 14)
    val Some((w2, h2, out)) = Multimodal.resizePng(blob.content, 8)
    assert(w2 == 8 && h2 == 5) // 20*8/20 = 8; 14*8/20 = 5 (integer)
    // the resized bytes are a REAL png: the JDK decodes them and every
    // pixel equals the source pixel at the floor mapping
    val big = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(blob.content))
    val small = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(out))
    assert(small.getWidth == 8 && small.getHeight == 5)
    (0 until 5).foreach { y => (0 until 8).foreach { x =>
      assert(small.getRGB(x, y) ==
        big.getRGB(x * 20 / 8, y * 14 / 5), s"($x,$y)")
    }}
    // no upscale: already within budget → original bytes untouched
    val same = Multimodal.resizePng(blob.content, 64)
    assert(java.util.Arrays.equals(same.get._3, blob.content))
    // dataset path: corrupt blob → empty content → decode_ok=false
    val blobs = Seq(blob,
      MediaBlob(2L, "image", Array[Byte](1, 2, 3))).toDS()
    val resized = Multimodal.resizePngBlobs(blobs, 8)
    val metas = Multimodal.decodePng(resized).collect()
      .sortBy(_.media_id)
    assert(!metas(0).decode_ok) // media_id 2, the corrupt blob
    assert(metas(1).decode_ok && metas(1).width == 8 &&
      metas(1).height == 5)
  }

  test("crafted PNGs stay row properties, never task failures: absurd " +
    "IHDR dims, a preset-dictionary zlib stream, and nonzero method " +
    "bytes all route to None/decode_ok=false") {
    val good = Multimodal.syntheticPng(3L, 16, 16).content
    // re-CRC a mutated IHDR so only the targeted field is invalid
    def patchIhdr(mut: Array[Byte] => Unit): Array[Byte] = {
      val out = good.clone(); mut(out)
      val crc = new java.util.zip.CRC32(); crc.update(out, 12, 17)
      java.nio.ByteBuffer.wrap(out).putInt(29, crc.getValue.toInt)
      out
    }
    // 2³⁰ per edge: h*(1+w*3) wraps Int — must not throw/allocate
    val huge = patchIhdr { b =>
      java.nio.ByteBuffer.wrap(b).putInt(16, 1 << 30).putInt(20, 1 << 30)
    }
    assert(!Multimodal.parsePng(3L, huge).decode_ok)
    assert(Multimodal.decodePngPixels(huge).isEmpty)
    // zlib FDICT bit set (CMF 0x78, FLG 0x20 keeps the %31 check):
    // forbidden by the PNG spec; a naive inflate loop hangs forever
    val dict = good.clone()
    dict(41) = 0x78.toByte; dict(42) = 0x20.toByte // IDAT body start
    val crc = new java.util.zip.CRC32()
    val isz = java.nio.ByteBuffer.wrap(dict).getInt(33)
    crc.update(dict, 37, 4 + isz)
    java.nio.ByteBuffer.wrap(dict).putInt(41 + isz, crc.getValue.toInt)
    assert(Multimodal.decodePngPixels(dict).isEmpty) // and terminates
    // nonzero compression / filter-method bytes: decoding them as
    // method 0 would yield wrong pixels with decode_ok=true
    assert(Multimodal.decodePngPixels(
      patchIhdr(b => b(26) = 1.toByte)).isEmpty)
    assert(Multimodal.decodePngPixels(
      patchIhdr(b => b(27) = 1.toByte)).isEmpty)
    // the dataset path absorbs all of them as empty-content rows
    val blobs = Seq(MediaBlob(1L, "image", huge),
      MediaBlob(2L, "image", dict)).toDS()
    val metas = Multimodal.decodePng(
      Multimodal.resizePngBlobs(blobs, 8)).collect()
    assert(metas.forall(!_.decode_ok))
  }

  test("y4m codec: synthesized YUV4MPEG2 bytes parse back to their " +
    "exact parameters; header tags and colorspaces are honored") {
    val b = Multimodal.syntheticY4m(5L, 32, 24, 30000, 1001, 7)
    // the header is genuine ASCII any y4m reader accepts
    val header = new String(b.content.takeWhile(_ != '\n'.toByte),
      "US-ASCII")
    assert(header == "YUV4MPEG2 W32 H24 F30000:1001 Ip A1:1 C420jpeg")
    val m = Multimodal.parseY4m(5L, b.content)
    assert(m.decode_ok && m.width == 32 && m.height == 24 &&
      m.fps_num == 30000 && m.fps_den == 1001 && m.frames == 7 &&
      m.frame_bytes == 32L * 24 * 3 / 2 &&
      m.duration_ms == 7L * 1000 * 1001 / 30000)
    // deterministic per id; different frames carry different bytes
    assert(java.util.Arrays.equals(b.content,
      Multimodal.syntheticY4m(5L, 32, 24, 30000, 1001, 7).content))
    // colorspace changes the frame stride; mono/422/444 all parse
    Seq(("C422", 32L * 24 * 2), ("C444", 32L * 24 * 3),
        ("Cmono", 32L * 24)).foreach { case (tag, stride) =>
      val hdr = s"YUV4MPEG2 W32 H24 F25:1 $tag\n".getBytes("US-ASCII")
      val one = hdr ++ "FRAME\n".getBytes("US-ASCII") ++
        new Array[Byte](stride.toInt)
      val mm = Multimodal.parseY4m(1L, one)
      assert(mm.decode_ok && mm.frames == 1 && mm.frame_bytes == stride,
        tag)
    }
  }

  test("y4m codec: truncation mid-frame, a bad magic, a broken FRAME " +
    "marker, and trailing garbage all route to decode_ok=false") {
    val good = Multimodal.syntheticY4m(6L, 16, 16, 25, 1, 4).content
    val cases = Seq(
      good.dropRight(10),                     // truncated final frame
      "JUV4MPEG2".getBytes ++ good.drop(9),   // wrong magic
      good.take(20),                          // truncated header region
      good ++ Array[Byte](1, 2, 3),           // garbage past last frame
      "YUV4MPEG2 W16 H16\n".getBytes("US-ASCII")) // no F tag
    cases.foreach { bytes =>
      val m = Multimodal.parseY4m(6L, bytes)
      assert(!m.decode_ok && m.frames == -1, s"len=${bytes.length}")
    }
    // corrupting one FRAME marker invalidates the stream
    val hdrLen = good.indexOf('\n'.toByte) + 1
    val broken = good.clone(); broken(hdrLen) = 'G'.toByte
    assert(!Multimodal.parseY4m(6L, broken).decode_ok)
  }

  test("sampleFramesY4m extracts the exact raw frame payloads, " +
    "partition-wise, with stream-derived timestamps") {
    val blobs = Seq(
      Multimodal.syntheticY4m(1L, 16, 16, 25, 1, 6),
      Multimodal.syntheticY4m(2L, 32, 24, 30000, 1001, 3),
      MediaBlob(3L, "video", "nope".getBytes) // corrupt: zero frames
    ).toDS().repartition(2)
    val out = Multimodal.sampleFramesY4m(blobs, every = 2).collect()
      .sortBy(f => (f.media_id, f.frame_no))
    // every 2nd frame: ids 1 → frames 0,2,4; id 2 → frames 0,2; id 3 → none
    assert(out.map(f => (f.media_id, f.frame_no)).toSeq ==
      Seq((1L, 0), (1L, 2), (1L, 4), (2L, 0), (2L, 2)))
    assert(out.forall(_.frame.length > 0))
    assert(out.find(f => f.media_id == 1L && f.frame_no == 2)
      .get.frame_ts_ms == 2L * 1000 * 1 / 25)
    // byte-exact: re-deriving frame 2 of id 1 from the generator's LCG
    val stride = 16 * 16 * 3 / 2
    val expect = new Array[Byte](stride)
    var x = (1L * 31L + 2) * 6364136223846793005L + 1442695040888963407L
    (0 until stride).foreach { i =>
      x = x * 6364136223846793005L + 1442695040888963407L
      expect(i) = (x >>> 56).toByte
    }
    assert(java.util.Arrays.equals(
      out.find(f => f.media_id == 1L && f.frame_no == 2).get.frame,
      expect))
    // full cadence (every=1) returns every frame
    assert(Multimodal.sampleFramesY4m(blobs, 1).count() == 9)
  }

  test("frameFeatures emits deterministic bounded vectors per frame") {
    val frames = Seq((1L, 0L), (1L, 1L), (1L, 0L)).toDF("id", "frame_no")
    val out = Multimodal.frameFeatures(frames, "id", "frame_no", dim = 8)
      .collect().map(_.getSeq[Double](2))
    assert(out(0) == out(2))             // deterministic
    assert(out(0) != out(1))
    assert(out.flatten.forall(v => v >= -1.0 && v < 1.0))
  }

  test("jpeg codec: synthesized bytes are REAL baseline JFIF — the " +
    "JDK's own ImageIO decodes them with matching dimensions AND " +
    "bit-exact pixels (unit quant + flat blocks = lossless DC-only)") {
    val w = 21; val h = 13
    val b = Multimodal.syntheticJpeg(7L, w, h)
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(b.content))
    assert(img != null, "ImageIO rejected the synthesized JPEG")
    assert(img.getWidth == w && img.getHeight == h)
    // reconstruct the per-block values the generator used
    val bx = (w + 7) / 8
    val vals = {
      val n = bx * ((h + 7) / 8)
      val a = new Array[Int](n)
      var x = 7L * 6364136223846793005L + 1442695040888963407L
      (0 until n).foreach { i =>
        x = x * 6364136223846793005L + 1442695040888963407L
        a(i) = ((x >>> 56) & 0xff).toInt
      }
      a
    }
    val raster = img.getRaster
    (0 until h).foreach { y =>
      (0 until w).foreach { x =>
        val expected = vals((y / 8) * bx + (x / 8))
        val got = raster.getSample(x, y, 0)
        assert(got == expected,
          s"pixel ($x,$y): expected $expected got $got")
      }
    }
    val meta = Multimodal.parseJpeg(7L, b.content)
    assert(meta == graft.multimodal.JpegMeta(7L, w, h, 1, 8,
      meta.entropy_bytes, true))
    assert(meta.entropy_bytes > 0)
  }

  test("jpeg codec: truncation, wrong signature, bad segment length, " +
    "and non-baseline SOF all route to decode_ok=false, never a throw") {
    val good = Multimodal.syntheticJpeg(3L, 40, 24).content
    // truncated mid-entropy-data
    val trunc = java.util.Arrays.copyOf(good, good.length - 6)
    assert(!Multimodal.parseJpeg(3L, trunc).decode_ok)
    // truncated mid-header (inside DHT)
    assert(!Multimodal.parseJpeg(3L,
      java.util.Arrays.copyOf(good, 40)).decode_ok)
    // wrong signature (PNG bytes)
    val png = Multimodal.syntheticPng(3L, 8, 8).content
    assert(!Multimodal.parseJpeg(3L, png).decode_ok)
    // empty / tiny
    assert(!Multimodal.parseJpeg(3L, Array.emptyByteArray).decode_ok)
    assert(!Multimodal.parseJpeg(3L, Array[Byte](0xff.toByte,
      0xd8.toByte)).decode_ok)
    // flip SOF0 -> SOF2: STRUCTURALLY a complete progressive stream
    // now (decode_ok=true since round 15's SOF2 support), but its
    // baseline scan header (Ss=0, Se=63) is non-conforming under a
    // progressive frame — the DECODER rejects it (the same contract
    // as malformed entropy data: metadata true, pixels None)
    val prog = good.clone()
    val sof = (0 until prog.length - 1).find(i =>
      (prog(i) & 0xff) == 0xff && (prog(i + 1) & 0xff) == 0xc0).get
    prog(sof + 1) = 0xc2.toByte
    assert(Multimodal.parseJpeg(3L, prog).decode_ok)
    assert(Multimodal.decodeJpegPixels(prog).isEmpty)
    // a lossless SOF3 frame stays decode_ok=false
    val sof3 = good.clone()
    sof3(sof + 1) = 0xc3.toByte
    assert(!Multimodal.parseJpeg(3L, sof3).decode_ok)
    // corrupt a segment length field to run past EOF
    val badLen = good.clone()
    badLen(4) = 0x7f.toByte // APP0 declared length now huge
    assert(!Multimodal.parseJpeg(3L, badLen).decode_ok)
  }

  test("jpeg pixel decode inverts the encoder without ImageIO: the " +
    "entropy walk recovers every block value exactly; corrupt and " +
    "unsupported streams return None") {
    val w = 40; val h = 24
    val bx = (w + 7) / 8
    val vals = Array.tabulate(bx * ((h + 7) / 8))(i => (i * 37 + 5) % 256)
    val enc = Multimodal.jpegEncode(w, h, vals)
    val Some((dw, dh, got)) = Multimodal.decodeJpegBlocks(enc)
    assert(dw == w && dh == h)
    assert(got.toSeq == vals.toSeq)
    // big DC swings exercise every category size
    val extremes = Array(0, 255, 0, 255, 128, 1, 254, 2, 253, 127,
      129, 64, 192, 32, 224)
    val enc2 = Multimodal.jpegEncode(40, 24, extremes)
    assert(Multimodal.decodeJpegBlocks(enc2).get._3.toSeq ==
      extremes.toSeq)
    // truncation / garbage → None, never a throw
    assert(Multimodal.decodeJpegBlocks(
      java.util.Arrays.copyOf(enc, enc.length - 8)).isEmpty)
    assert(Multimodal.decodeJpegBlocks(
      Multimodal.syntheticPng(1L, 8, 8).content).isEmpty)
    // table-id selection: a decoy DC table id 1 AFTER the real id-0
    // table must not shadow it (the scan references Td=0) — splice a
    // second DHT segment whose codes are garbage for this stream
    val sosAt = (0 until enc.length - 1).find(i =>
      (enc(i) & 0xff) == 0xff && (enc(i + 1) & 0xff) == 0xda).get
    val decoy = {
      val bits = Array(0, 1) ++ Array.fill(14)(0)  // one 2-bit code
      val b = new java.io.ByteArrayOutputStream()
      b.write(0xff); b.write(0xc4)
      val len = 2 + 1 + 16 + 1
      b.write(len >> 8); b.write(len & 0xff)
      b.write(0x01)                                 // class 0, id 1
      bits.foreach(b.write); b.write(0x05)
      b.toByteArray
    }
    val spliced = enc.take(sosAt) ++ decoy ++ enc.drop(sosAt)
    assert(Multimodal.decodeJpegBlocks(spliced).get._3.toSeq ==
      vals.toSeq, "decoy DC table id 1 must not shadow the id-0 table")
    // a 16-bit (Pq=1) DQT entry packed BEFORE an 8-bit one must be
    // skipped by its real 129-byte size, not misparsed as 65 bytes
    val dqt16 = {
      val b = new java.io.ByteArrayOutputStream()
      b.write(0xff); b.write(0xdb)
      val len = 2 + 129 + 65
      b.write(len >> 8); b.write(len & 0xff)
      b.write(0x11); (0 until 128).foreach(_ => b.write(0x02)) // Pq=1 id 1
      b.write(0x02); (0 until 64).foreach(_ => b.write(0x03))  // Pq=0 id 2
      b.toByteArray
    }
    val spliced2 = enc.take(sosAt) ++ dqt16 ++ enc.drop(sosAt)
    assert(Multimodal.decodeJpegBlocks(spliced2).get._3.toSeq ==
      vals.toSeq, "16-bit DQT entry must be size-skipped, not misparsed")
    // a decoy SECOND SOF0 before SOS must not redirect table refs —
    // parseJpeg validated the first; the decoder must use the same
    val sof2 = {
      val b = new java.io.ByteArrayOutputStream()
      b.write(0xff); b.write(0xc0); b.write(0); b.write(11)
      b.write(8); b.write(0); b.write(24); b.write(0); b.write(40)
      b.write(1); b.write(1); b.write(0x22); b.write(3) // Tq=3, 2x2
      b.toByteArray
    }
    val spliced3 = enc.take(sosAt) ++ sof2 ++ enc.drop(sosAt)
    assert(Multimodal.decodeJpegBlocks(spliced3).get._3.toSeq ==
      vals.toSeq, "decoy second SOF0 must not redirect quant/sampling")
  }

  test("color jpeg (YCbCr 4:4:4 DC-only): parseJpeg reports 3 " +
    "components, decodeJpegMcus recovers every plane exactly, and " +
    "ImageIO round-trips RGB within conversion rounding") {
    val w = 24; val h = 16
    val bx = (w + 7) / 8
    val n = bx * ((h + 7) / 8)
    // keep chroma near neutral so the YCbCr->RGB clamp never engages
    // (clamped channels lose the closed-form comparison)
    val yB = Array.tabulate(n)(i => 60 + (i * 23) % 130)
    val cbB = Array.tabulate(n)(i => 118 + (i * 7) % 20)
    val crB = Array.tabulate(n)(i => 120 + (i * 11) % 16)
    val enc = Multimodal.jpegEncodeColor(w, h, yB, cbB, crB)
    val meta = Multimodal.parseJpeg(5L, enc)
    assert(meta.decode_ok && meta.components == 3 &&
      meta.width == w && meta.height == h)
    // plane-exact recovery in YCbCr space (unit quant, flat blocks)
    val Some((dw, dh, planes)) = Multimodal.decodeJpegMcus(enc)
    assert(dw == w && dh == h && planes.length == 3)
    assert(planes(0).toSeq == yB.toSeq)
    assert(planes(1).toSeq == cbB.toSeq)
    assert(planes(2).toSeq == crB.toSeq)
    // ImageIO decodes it as a real color JPEG; RGB matches the JFIF
    // conversion formula within the decoder's rounding (±2)
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(enc))
    assert(img != null, "ImageIO rejected the color JPEG")
    assert(img.getWidth == w && img.getHeight == h)
    (0 until h).foreach { yy =>
      (0 until w).foreach { xx =>
        val bi = (yy / 8) * bx + (xx / 8)
        val (y, cb, cr) = (yB(bi), cbB(bi), crB(bi))
        val er = y + 1.402 * (cr - 128)
        val eg = y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)
        val eb = y + 1.772 * (cb - 128)
        val rgb = img.getRGB(xx, yy)
        val (r, g, b) = ((rgb >> 16) & 0xff, (rgb >> 8) & 0xff, rgb & 0xff)
        assert(math.abs(r - er) <= 2 && math.abs(g - eg) <= 2 &&
          math.abs(b - eb) <= 2,
          f"pixel ($xx,$yy): got ($r,$g,$b) expected " +
            f"(${er}%.1f,${eg}%.1f,${eb}%.1f)")
      }
    }
    // grayscale delegate still refuses color streams
    assert(Multimodal.decodeJpegBlocks(enc).isEmpty)
  }

  test("jpeg property: encode->decode round-trips exactly for random " +
    "dims and block values, grayscale and color (100 seeded cases)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val caseGen = for {
      w <- Gen.choose(1, 100)
      h <- Gen.choose(1, 100)
      nb = ((w + 7) / 8) * ((h + 7) / 8)
      vals <- Gen.listOfN(nb, Gen.choose(0, 255))
      cb <- Gen.listOfN(nb, Gen.choose(0, 255))
      cr <- Gen.listOfN(nb, Gen.choose(0, 255))
    } yield (w, h, vals.toArray, cb.toArray, cr.toArray)
    (0 until 100).foreach { i =>
      val (w, h, ys, cbs, crs) =
        caseGen.apply(Gen.Parameters.default, Seed(7L + i)).get
      val g = Multimodal.decodeJpegBlocks(Multimodal.jpegEncode(w, h, ys))
      assert(g.isDefined, s"gray case $i ($w x $h): decode returned None")
      assert(g.get._1 == w && g.get._2 == h &&
        g.get._3.toSeq == ys.toSeq, s"gray case $i ($w x $h)")
      val c = Multimodal.decodeJpegMcus(
        Multimodal.jpegEncodeColor(w, h, ys, cbs, crs))
      assert(c.isDefined && c.get._3(0).toSeq == ys.toSeq &&
        c.get._3(1).toSeq == cbs.toSeq && c.get._3(2).toSeq == crs.toSeq,
        s"color case $i ($w x $h)")
    }
  }

  test("decodeJpeg runs partition-wise over a Dataset of blobs; " +
    "mixed good/corrupt stay row properties") {
    val s = SharedSpark.spark
    import s.implicits._
    val blobs = s.createDataset((0L until 12L).map { id =>
      val b = Multimodal.syntheticJpeg(id, 16 + (id % 5).toInt * 8, 16)
      if (id % 4 == 3)
        b.copy(content = java.util.Arrays.copyOf(b.content, 30))
      else b
    }).repartition(3)
    val out = Multimodal.decodeJpeg(blobs).collect().sortBy(_.media_id)
    assert(out.length == 12)
    out.foreach { m =>
      if (m.media_id % 4 == 3) assert(!m.decode_ok && m.width == -1)
      else {
        assert(m.decode_ok, s"id ${m.media_id} should decode")
        assert(m.width == 16 + (m.media_id % 5).toInt * 8)
        assert(m.height == 16 && m.components == 1 && m.precision == 8)
      }
    }
  }
  // ------------------------------------------------------------------
  // AC-capable full pixel decode + pixel encoder + byte-level resize
  // ------------------------------------------------------------------

  private def photoRgb(w: Int, h: Int): Array[Int] = {
    val out = new Array[Int](w * h * 3)
    var i = 0
    (0 until h).foreach { y =>
      (0 until w).foreach { x =>
        out(i) = x * 255 / math.max(1, w - 1)
        out(i + 1) = y * 255 / math.max(1, h - 1)
        out(i + 2) = (128 + 90 * StrictMath.sin((x + y) / 11.0)).toInt
        i += 3
      }
    }
    out
  }

  private def photoImage(w: Int, h: Int): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val px = photoRgb(w, h)
    (0 until h).foreach { y =>
      (0 until w).foreach { x =>
        val i = (y * w + x) * 3
        img.setRGB(x, y, (px(i) << 16) | (px(i + 1) << 8) | px(i + 2))
      }
    }
    img
  }

  private def rgbOf(img: java.awt.image.BufferedImage): Array[Int] = {
    val w = img.getWidth; val h = img.getHeight
    val out = new Array[Int](w * h * 3)
    var i = 0
    (0 until h).foreach { y =>
      (0 until w).foreach { x =>
        val p = img.getRGB(x, y)
        out(i) = (p >> 16) & 0xff
        out(i + 1) = (p >> 8) & 0xff
        out(i + 2) = p & 0xff
        i += 3
      }
    }
    out
  }

  private def bytesToInts(b: Array[Byte]): Array[Int] = b.map(_ & 0xff)

  private def meanAbs(a: Array[Int], b: Array[Int]): Double = {
    require(a.length == b.length, s"${a.length} vs ${b.length}")
    var s = 0L; var i = 0
    while (i < a.length) { s += math.abs(a(i) - b(i)); i += 1 }
    s.toDouble / math.max(1, a.length)
  }

  test("AC decode: a JDK-ImageIO-ENCODED color photo (AC-bearing, " +
    "4:2:0 subsampled — the shape real web JPEGs take) decodes " +
    "through decodeJpegPixels/decodeJpegRgb to within quantization " +
    "tolerance of both the original and ImageIO's own decode") {
    val w = 70; val h = 46
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(photoImage(w, h), "jpg", bos))
    val enc = bos.toByteArray
    // confirm the fixture really exercises subsampling + AC: SOF0's
    // first component must carry 2x2 sampling (the JDK default)
    val sofAt = (0 until enc.length - 1).find(i =>
      (enc(i) & 0xff) == 0xff && (enc(i + 1) & 0xff) == 0xc0).get
    assert((enc(sofAt + 11) & 0xff) == 0x22,
      "fixture is not 4:2:0 — JDK writer defaults changed?")
    val meta = Multimodal.parseJpeg(9L, enc)
    assert(meta.decode_ok && meta.width == w && meta.height == h &&
      meta.components == 3)
    val Some((dw, dh, rgb)) = Multimodal.decodeJpegRgb(enc)
    assert(dw == w && dh == h)
    val got = bytesToInts(rgb)
    val orig = photoRgb(w, h)
    val vsOrig = meanAbs(got, orig)
    assert(vsOrig < 6.0, s"mean abs err vs original $vsOrig")
    // vs ImageIO's own decode of the SAME stream: differences are only
    // IDCT precision + chroma upsample filter (box vs triangle)
    val ref = rgbOf(javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(enc)))
    val vsRef = meanAbs(got, ref)
    assert(vsRef < 5.0, s"mean abs err vs ImageIO decode $vsRef")
  }

  test("AC decode: an ImageIO-encoded GRAYSCALE photo (single " +
    "component, AC-bearing) decodes to near-exact agreement with " +
    "ImageIO's own decode (IDCT precision only)") {
    val w = 64; val h = 40
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val px = photoRgb(w, h)
    // raster samples, not setRGB — setRGB/getRGB run a nonlinear
    // sRGB↔gray colorspace transform; JPEG carries the raw samples
    (0 until h).foreach { y =>
      (0 until w).foreach { x =>
        img.getRaster.setSample(x, y, 0, px((y * w + x) * 3))
      }
    }
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "jpg", bos))
    val enc = bos.toByteArray
    val Some((dw, dh, planes)) = Multimodal.decodeJpegPixels(enc)
    assert(dw == w && dh == h && planes.length == 1)
    val rimg = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(enc))
    val refGray = Array.tabulate(w * h)(i =>
      rimg.getRaster.getSample(i % w, i / w, 0))
    val err = meanAbs(planes(0), refGray)
    assert(err < 2.0, s"mean abs err vs ImageIO gray decode $err")
  }

  test("pixel encoder is conforming: jpegEncodeRgbPixels output is " +
    "decoded by the JDK's ImageIO with matching dims and pixels " +
    "within quantization tolerance; parseJpeg sees baseline 3-comp") {
    val w = 52; val h = 36
    val orig = photoRgb(w, h)
    val rgbBytes = orig.map(_.toByte)
    val enc = Multimodal.jpegEncodeRgbPixels(w, h, rgbBytes)
    val meta = Multimodal.parseJpeg(4L, enc)
    assert(meta.decode_ok && meta.width == w && meta.height == h &&
      meta.components == 3 && meta.precision == 8)
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(enc))
    assert(img != null, "ImageIO rejected the AC-encoded JPEG")
    assert(img.getWidth == w && img.getHeight == h)
    val err = meanAbs(rgbOf(img), orig)
    assert(err < 8.0, s"mean abs err vs original $err")
    // self round-trip through OUR decoder too
    val Some((_, _, self)) = Multimodal.decodeJpegRgb(enc)
    val selfErr = meanAbs(bytesToInts(self), orig)
    assert(selfErr < 8.0, s"self round-trip mean abs err $selfErr")
  }

  test("pixel encoder gray: encode → full decode round-trips within " +
    "Annex-K quantization tolerance; flat image is EXACT") {
    val w = 41; val h = 23
    val gray = Array.tabulate(w * h) { i =>
      val x = i % w; val y = i / w
      (40 + x * 3 + (30 * StrictMath.sin(y / 5.0)).toInt).max(0).min(255)
    }
    val enc = Multimodal.jpegEncodeGrayPixels(w, h, gray)
    val Some((dw, dh, planes)) = Multimodal.decodeJpegPixels(enc)
    assert(dw == w && dh == h && planes.length == 1)
    val err = meanAbs(planes(0), gray)
    assert(err < 5.0, s"gray round-trip mean abs err $err")
    // flat gray: DC-only stream, quantization error collapses to ~0
    val flat = Array.fill(16 * 16)(77)
    val Some((_, _, fp)) = Multimodal.decodeJpegPixels(
      Multimodal.jpegEncodeGrayPixels(16, 16, flat))
    assert(meanAbs(fp(0), flat) <= 1.0)
  }

  test("resizeJpeg: never-upscale pass-through is byte-identical, " +
    "downscale hits exact integer target dims with pixels matching a " +
    "nearest-neighbor resample of the decoded source, undecodable " +
    "streams return None / empty blobs") {
    val w = 60; val h = 40
    val enc = Multimodal.jpegEncodeRgbPixels(w, h,
      photoRgb(w, h).map(_.toByte))
    // within budget → original bytes untouched
    val Some((pw, ph, passthrough)) = Multimodal.resizeJpeg(enc, 60)
    assert(pw == w && ph == h && (passthrough eq enc))
    // downscale: m=60, maxEdge=24 → (24, 16)
    val Some((rw, rh, resized)) = Multimodal.resizeJpeg(enc, 24)
    assert(rw == 24 && rh == 16)
    val rmeta = Multimodal.parseJpeg(1L, resized)
    assert(rmeta.decode_ok && rmeta.width == 24 && rmeta.height == 16 &&
      rmeta.components == 3)
    // pixels ≈ nearest-neighbor of the DECODED source planes
    val Some((_, _, srcPlanes)) = Multimodal.decodeJpegPixels(enc)
    val Some((_, _, gotPlanes)) = Multimodal.decodeJpegPixels(resized)
    val expected = srcPlanes.map { p =>
      Array.tabulate(24 * 16) { i =>
        val x = i % 24; val y = i / 24
        p((y.toLong * h / 16).toInt * w + (x.toLong * w / 24).toInt)
      }
    }
    val resErr = (0 until 3).map(c => meanAbs(gotPlanes(c), expected(c))).max
    assert(resErr < 8.0, s"resize plane mean abs err $resErr")
    // truncated → None; partition-wise operator routes to empty blob
    assert(Multimodal.resizeJpeg(
      java.util.Arrays.copyOf(enc, 40), 24).isEmpty)
    val blobs = Seq(
      graft.multimodal.MediaBlob(1L, "image", enc),
      graft.multimodal.MediaBlob(2L, "image", java.util.Arrays.copyOf(enc, 40))
    ).toDS().repartition(2)
    val outB = Multimodal.resizeJpegBlobs(blobs, 24).collect()
      .sortBy(_.media_id)
    assert(outB(0).content.nonEmpty && outB(1).content.isEmpty)
    // grayscale keeps its component count through resize
    val gEnc = Multimodal.jpegEncodeGrayPixels(32, 20,
      Array.tabulate(32 * 20)(i => i % 256))
    val Some((gw2, gh2, gRes)) = Multimodal.resizeJpeg(gEnc, 16)
    assert(gw2 == 16 && gh2 == 10)
    assert(Multimodal.parseJpeg(1L, gRes).components == 1)
  }

  test("custom AC tables are honored, not assumed: a conforming " +
    "DC-only stream whose AC table puts EOB on a 5-bit code decodes " +
    "correctly (the hardcoded-1010 check rejected it), and a stream " +
    "whose referenced AC table is ABSENT routes to None") {
    // hand-built 8×8 gray DC-only JPEG, custom AC table:
    // length-5 codes 00000→0x01, 00001→0x00(EOB)
    val bos = new java.io.ByteArrayOutputStream()
    def u16(v: Int): Unit = { bos.write(v >>> 8); bos.write(v & 0xff) }
    def marker(m: Int): Unit = { bos.write(0xff); bos.write(m) }
    marker(0xd8)
    marker(0xdb); u16(67); bos.write(0)
    (0 until 64).foreach(_ => bos.write(1))
    marker(0xc0); u16(11); bos.write(8); u16(8); u16(8); bos.write(1)
    bos.write(1); bos.write(0x11); bos.write(0)
    def dht(cls: Int, bits: Array[Int], vals: Array[Int]): Unit = {
      marker(0xc4); u16(2 + 1 + 16 + vals.length); bos.write(cls << 4)
      bits.foreach(bos.write); vals.foreach(bos.write)
    }
    dht(0, Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0),
      (0 to 11).toArray)
    dht(1, Array(0, 0, 0, 0, 2, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0),
      Array(0x01, 0x00))
    marker(0xda); u16(8); bos.write(1); bos.write(1); bos.write(0x00)
    bos.write(0); bos.write(63); bos.write(0)
    // value 128 → DC diff 0 → "00" (cat 0), then 5-bit EOB "00001",
    // padded with 1s: 0b00000011
    bos.write(0x03)
    marker(0xd9)
    val crafted = bos.toByteArray
    assert(Multimodal.parseJpeg(1L, crafted).decode_ok)
    val got = Multimodal.decodeJpegBlocks(crafted)
    assert(got.contains((8, 8, Array(128))) ||
      (got.isDefined && got.get._3.toSeq == Seq(128)))
    // splice the AC DHT OUT of a standard blob: the scan references
    // Ta=0 which no longer exists → None, not a wrong decode
    val enc = Multimodal.jpegEncode(8, 8, Array(200))
    val at = (0 until enc.length - 4).find(j =>
      (enc(j) & 0xff) == 0xff && (enc(j + 1) & 0xff) == 0xc4 &&
        (enc(j + 4) & 0xff) == 0x10).get
    val dhtLen = ((enc(at + 2) & 0xff) << 8) | (enc(at + 3) & 0xff)
    val spliced = enc.take(at) ++ enc.drop(at + 2 + dhtLen)
    assert(Multimodal.parseJpeg(1L, spliced).decode_ok)
    assert(Multimodal.decodeJpegBlocks(spliced).isEmpty)
    assert(Multimodal.decodeJpegPixels(spliced).isEmpty)
  }

  test("spec B.1.1.2 fill bytes: extra 0xFF padding before markers " +
    "(including EOI) is skipped, not misread as a segment header") {
    val enc = Multimodal.jpegEncode(16, 8, Array(10, 250))
    // insert a fill byte before the DQT marker and two before EOI
    val dqtAt = (0 until enc.length - 1).find(i =>
      (enc(i) & 0xff) == 0xff && (enc(i + 1) & 0xff) == 0xdb).get
    val eoiAt = (0 until enc.length - 1).findLast(i =>
      (enc(i) & 0xff) == 0xff && (enc(i + 1) & 0xff) == 0xd9).get
    val padded = enc.take(dqtAt) ++ Array(0xff.toByte) ++
      enc.slice(dqtAt, eoiAt) ++ Array(0xff.toByte, 0xff.toByte) ++
      enc.drop(eoiAt)
    val meta = Multimodal.parseJpeg(7L, padded)
    assert(meta.decode_ok && meta.width == 16 && meta.height == 8,
      s"padded stream misparsed: $meta")
    val got = Multimodal.decodeJpegBlocks(padded)
    assert(got.isDefined && got.get._3.toSeq == Seq(10, 250))
  }

  test("modality dispatch sniffs magic bytes and routes each blob to " +
    "its codec: mixed WAV/PNG/JPEG/Y4M column decodes in one pass; a " +
    "CORRUPTED magic routes to format=unknown, while a recognized " +
    "container with a broken body keeps its format with " +
    "decode_ok=false") {
    val wav = Multimodal.syntheticWav(1L, 16000, 2, 16, 400)
    val png = Multimodal.syntheticPng(2L, 12, 9)
    val jpg = Multimodal.syntheticJpegPhoto(3L, 32, 24)
    val y4m = Multimodal.syntheticY4m(4L, 16, 12, 25, 1, 4)
    // corrupted magic: one flipped byte in a REAL png header
    val corrupt = {
      val c = Multimodal.syntheticPng(5L, 12, 9)
      c.content(0) = 0x7f.toByte; c
    }
    // good magic, broken body: WAV truncated mid-data
    val truncWav = {
      val w = Multimodal.syntheticWav(6L, 8000, 1, 16, 400)
      w.copy(content = java.util.Arrays.copyOf(w.content, 30))
    }
    val garbage = graft.multimodal.MediaBlob(7L, "blob",
      Array.tabulate[Byte](64)(i => (i * 31).toByte))
    val empty = graft.multimodal.MediaBlob(8L, "blob", Array.emptyByteArray)
    val blobs = Seq(wav, png, jpg, y4m, corrupt, truncWav, garbage,
      empty).toDS().repartition(3)
    val out = Multimodal.dispatchDecode(blobs).collect()
      .sortBy(_.media_id)
    assert(out.map(_.format).toSeq ==
      Seq("wav", "png", "jpeg", "y4m", "unknown", "wav", "unknown",
        "unknown"))
    assert(out(0).decode_ok && out(0).sample_rate == 16000 &&
      out(0).channels == 2 && out(0).width == -1)
    assert(out(1).decode_ok && out(1).width == 12 && out(1).height == 9)
    assert(out(2).decode_ok && out(2).width == 32 &&
      out(2).height == 24 && out(2).channels == 3)
    assert(out(3).decode_ok && out(3).frames == 4 &&
      out(3).duration_ms == 160)
    assert(!out(4).decode_ok && out(4).width == -1)      // flipped magic
    assert(out(5).format == "wav" && !out(5).decode_ok)  // broken body
    assert(!out(6).decode_ok && !out(7).decode_ok)
  }

  test("restart intervals: a DRI-bearing stream (RSTn every 2 MCUs, " +
    "byte-aligned, predictors reset) decodes to the same pixels as " +
    "the non-DRI encoding of the same image, and ImageIO agrees") {
    val w = 48; val h = 32
    val rgb = photoRgb(w, h).map(_.toByte)
    val plain = Multimodal.jpegEncodeRgbPixels(w, h, rgb)
    val dri = Multimodal.jpegEncodeRgbPixels(w, h, rgb,
      restartInterval = 2)
    // the DRI stream really carries restart markers
    val nRst = (0 until dri.length - 1).count(i =>
      (dri(i) & 0xff) == 0xff && (dri(i + 1) & 0xff) >= 0xd0 &&
        (dri(i + 1) & 0xff) <= 0xd7)
    // 24 MCUs at interval 2 → 11 boundaries
    assert(nRst >= 11, s"expected restart markers, found $nRst")
    val Some((_, _, p0)) = Multimodal.decodeJpegPixels(plain)
    val Some((dw, dh, p1)) = Multimodal.decodeJpegPixels(dri)
    assert(dw == w && dh == h)
    (0 until 3).foreach { c =>
      assert(p0(c).toSeq == p1(c).toSeq,
        s"plane $c differs between DRI and plain streams")
    }
    // independent decoder agrees the DRI stream is conforming
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(dri))
    assert(img != null && img.getWidth == w && img.getHeight == h)
    val err = meanAbs(rgbOf(img), photoRgb(w, h))
    assert(err < 8.0, s"ImageIO decode of DRI stream err $err")
  }

  test("4:2:0 encoder: the subsampled stream declares 2x2 luma " +
    "sampling, decodes through our decoder and ImageIO within " +
    "tolerance, and is smaller than the 4:4:4 encoding") {
    val w = 70; val h = 46
    val rgb = photoRgb(w, h).map(_.toByte)
    val enc444 = Multimodal.jpegEncodeRgbPixels(w, h, rgb)
    val enc420 = Multimodal.jpegEncodeRgb420(w, h, rgb)
    // SOF0 declares 0x22 sampling on component 1
    val sofAt = (0 until enc420.length - 1).find(i =>
      (enc420(i) & 0xff) == 0xff && (enc420(i + 1) & 0xff) == 0xc0).get
    assert((enc420(sofAt + 11) & 0xff) == 0x22)
    assert(enc420.length < enc444.length,
      s"4:2:0 (${enc420.length}B) not smaller than 4:4:4 (${enc444.length}B)")
    val Some((dw, dh, rgbOut)) = Multimodal.decodeJpegRgb(enc420)
    assert(dw == w && dh == h)
    val vsOrig = meanAbs(bytesToInts(rgbOut), photoRgb(w, h))
    assert(vsOrig < 8.0, s"4:2:0 round-trip mean abs err $vsOrig")
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(enc420))
    assert(img != null && img.getWidth == w && img.getHeight == h)
    val vsImio = meanAbs(rgbOf(img), bytesToInts(rgbOut))
    assert(vsImio < 6.0, s"our decode vs ImageIO on 4:2:0 err $vsImio")
    // odd dims: plane geometry edge (chroma ceil(w/2) x ceil(h/2))
    val (ow, oh) = (33, 21)
    val oRgb = photoRgb(ow, oh).map(_.toByte)
    val oEnc = Multimodal.jpegEncodeRgb420(ow, oh, oRgb)
    val Some((odw, odh, oOut)) = Multimodal.decodeJpegRgb(oEnc)
    assert(odw == ow && odh == oh)
    assert(meanAbs(bytesToInts(oOut), photoRgb(ow, oh)) < 8.0)
    // 4:2:0 + restart intervals compose
    val driEnc = Multimodal.jpegEncodeRgb420(w, h, rgb,
      restartInterval = 3)
    val Some((_, _, driOut)) = Multimodal.decodeJpegRgb(driEnc)
    assert(meanAbs(bytesToInts(driOut), bytesToInts(rgbOut)) < 1.0)
  }

  test("resizeJpeg preserves the input's layout class: a 4:2:0 input " +
    "re-encodes 4:2:0 (an ImageIO-encoded web-shaped JPEG stays " +
    "subsampled through resize), a 4:4:4 input stays 4:4:4") {
    def lumaSampling(b: Array[Byte]): Int = {
      val at = (0 until b.length - 1).find(i =>
        (b(i) & 0xff) == 0xff && (b(i + 1) & 0xff) == 0xc0).get
      b(at + 11) & 0xff
    }
    // ImageIO writes 4:2:0 — resize output must still be 4:2:0
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(photoImage(64, 44), "jpg", bos)
    val webIn = bos.toByteArray
    assert(lumaSampling(webIn) == 0x22)
    val Some((rw, rh, webOut)) = Multimodal.resizeJpeg(webIn, 32)
    assert(rw == 32 && rh == 22)
    assert(lumaSampling(webOut) == 0x22, "4:2:0 input became 4:4:4")
    assert(Multimodal.parseJpeg(1L, webOut).decode_ok)
    // our 4:4:4 writer stays 4:4:4
    val in444 = Multimodal.jpegEncodeRgbPixels(64, 44,
      photoRgb(64, 44).map(_.toByte))
    val Some((_, _, out444)) = Multimodal.resizeJpeg(in444, 32)
    assert(lumaSampling(out444) == 0x11)
    // resized 4:2:0 pixels still faithful to a nearest-neighbor
    // resample of the decoded input
    val Some((_, _, srcP)) = Multimodal.decodeJpegPixels(webIn)
    val Some((_, _, gotP)) = Multimodal.decodeJpegPixels(webOut)
    val expY = Array.tabulate(32 * 22) { i =>
      val x = i % 32; val y = i / 32
      srcP(0)((y.toLong * 44 / 22).toInt * 64 + (x.toLong * 64 / 32).toInt)
    }
    assert(meanAbs(gotP(0), expY) < 8.0)
  }

  test("non-conforming SOS spectral params under an SOF0 header " +
    "route to None, not a garbage decode") {
    val enc = Multimodal.jpegEncodeGrayPixels(16, 16,
      Array.tabulate(256)(_ % 256))
    // locate SOS and corrupt Ss (spectral start) to 1
    val sosAt = (0 until enc.length - 1).find(i =>
      (enc(i) & 0xff) == 0xff && (enc(i + 1) & 0xff) == 0xda).get
    val ns = enc(sosAt + 4) & 0xff
    val bad = enc.clone()
    bad(sosAt + 5 + 2 * ns) = 1
    assert(Multimodal.decodeJpegPixels(bad).isEmpty)
    assert(Multimodal.decodeJpegPixels(enc).isDefined)
  }

  test("jpeg decoder fuzz: 400 seeded corruptions (byte flips, " +
    "truncations, splices) of valid gray/color/4:2:0/DRI streams " +
    "never throw — None or a decoded image, always a row property") {
    val rnd = new scala.util.Random(1406)
    val seeds = Seq(
      Multimodal.jpegEncodeGrayPixels(24, 16,
        Array.tabulate(24 * 16)(_ % 256)),
      Multimodal.jpegEncodeRgbPixels(30, 20,
        photoRgb(30, 20).map(_.toByte)),
      Multimodal.jpegEncodeRgb420(30, 20,
        photoRgb(30, 20).map(_.toByte)),
      Multimodal.jpegEncodeRgbPixels(30, 20,
        photoRgb(30, 20).map(_.toByte), restartInterval = 2))
    var decoded = 0
    for (trial <- 0 until 400) {
      val base = seeds(trial % seeds.length)
      val mutated: Array[Byte] = (trial % 4) match {
        case 0 =>                                  // single byte flip
          val b = base.clone()
          b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
          b
        case 1 => java.util.Arrays.copyOf(base, rnd.nextInt(base.length))
        case 2 =>                                  // random splice
          val at = rnd.nextInt(base.length)
          base.take(at) ++ Array.fill[Byte](rnd.nextInt(16))(
            rnd.nextInt(256).toByte) ++ base.drop(at)
        case _ =>                                  // multi flip
          val b = base.clone()
          (0 until 8).foreach(_ =>
            b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte)
          b
      }
      // the contract: never a throw — None, a bad-meta row, or pixels
      val px = Multimodal.decodeJpegPixels(mutated)
      if (px.isDefined) decoded += 1
      Multimodal.parseJpeg(trial.toLong, mutated)
      Multimodal.decodeJpegMcus(mutated)
      Multimodal.resizeJpeg(mutated, 12)
      Multimodal.dispatchOne(trial.toLong, mutated)
    }
    // sanity: corruption actually bites (most streams must fail) but
    // some entropy-only flips legitimately still decode
    assert(decoded < 200, s"$decoded/400 corrupted streams decoded")
  }

  test("resizeFramesY4m: sampled 4:2:0 frames resample per-plane with " +
    "the floor mapping, even target dims, exact payload length; " +
    "within-budget streams pass frames through byte-identical; " +
    "corrupt and non-420 streams yield no rows") {
    val blob = Multimodal.syntheticY4m(5L, 20, 14, 25, 1, 5)
    val frames = Multimodal.sampleFramesY4m(
      Seq(blob).toDS(), every = 2).collect().sortBy(_.frame_no)
    val out = Multimodal.resizeFramesY4m(Seq(blob).toDS(),
      every = 2, maxEdge = 10).collect().sortBy(_.frame_no)
    assert(out.map(_.frame_no).toSeq == Seq(0, 2, 4))
    // m=20, maxEdge=10 → w2=even(20*10/20)=10, h2=even(14*10/20)=even(7)=6
    assert(out.forall(f => f.width == 10 && f.height == 6))
    assert(out.forall(_.frame.length == 10 * 6 * 3 / 2))
    // per-plane nearest-neighbor check against the sampled source
    val src = frames(1).frame            // frame_no 2
    val got = out(1).frame
    var p = 0
    for (y <- 0 until 6; x <- 0 until 10) {
      val exp = src((y.toLong * 14 / 6).toInt * 20 + (x.toLong * 20 / 10).toInt)
      assert(got(p) == exp, s"Y plane mismatch at ($x,$y)")
      p += 1
    }
    for (plane <- 0 until 2; y <- 0 until 3; x <- 0 until 5) {
      val base = 20 * 14 + plane * 10 * 7
      val exp = src(base + (y.toLong * 7 / 3).toInt * 10 + (x.toLong * 10 / 5).toInt)
      assert(got(p) == exp, s"chroma $plane mismatch at ($x,$y)")
      p += 1
    }
    // within budget: frames byte-identical
    val small = Multimodal.resizeFramesY4m(Seq(blob).toDS(),
      every = 2, maxEdge = 20).collect().sortBy(_.frame_no)
    assert(small(0).width == 20 && small(0).height == 14)
    assert(small(0).frame.toSeq == frames(0).frame.toSeq)
    // corrupt / unsupported: no rows, never a throw
    val bad = blob.copy(content = blob.content.dropRight(3))
    assert(Multimodal.resizeFramesY4m(Seq(bad).toDS(), 1, 10)
      .collect().isEmpty)
  }

  test("sceneCuts: boundaries exactly at the writer's scene length, " +
      "means exact, corrupt streams silent") {
    val blob = Multimodal.syntheticY4mScenes(7L, 8, 6, nFrames = 9,
      sceneLen = 3)
    val rows = Multimodal.sceneCuts(Seq(blob).toDS(), threshold = 40.0)
      .collect().sortBy(_.frame_no)
    assert(rows.length == 9)
    // closed form: mean(f) = 16 + ((7·37 + (f/3)·89) % 200) + f%2 + 1.5
    rows.foreach { r =>
      val f = r.frame_no
      val exp = 16 + ((7L * 37 + (f / 3) * 89) % 200) + (f % 2) + 1.5
      assert(r.mean_luma == exp, s"frame $f")
      assert(r.is_cut == (f > 0 && f % 3 == 0), s"cut at $f")
      assert(r.scene_no == f / 3, s"scene at $f")
    }
    assert(rows(0).delta.isEmpty)
    assert(rows(1).delta.contains(1.0))
    // single-scene stream: no cuts at all
    val flat = Multimodal.syntheticY4mScenes(3L, 8, 6, nFrames = 5,
      sceneLen = 100)
    val fr = Multimodal.sceneCuts(Seq(flat).toDS(), 40.0).collect()
    assert(fr.length == 5 && fr.forall(!_.is_cut) &&
      fr.forall(_.scene_no == 0L))
    // truncated container: zero rows, never a throw
    val bad = blob.copy(content = blob.content.dropRight(5))
    assert(Multimodal.sceneCuts(Seq(bad).toDS(), 40.0).collect().isEmpty)
  }

  test("perceptual hashes: near-dup within a bit, resize-stable, " +
      "brightness shift flips aHash but never dHash") {
    val base = Multimodal.syntheticPngGradient(5L, 40, 24)
    val tweaked = Multimodal.syntheticPngGradient(5L, 40, 24,
      tweakOrigin = true)
    def ham(a: Array[Boolean], b: Array[Boolean]): Int =
      a.zip(b).count { case (x, y) => x != y }
    val (ab, at) = (Multimodal.aHashBits(base.content).get,
      Multimodal.aHashBits(tweaked.content).get)
    assert(ham(ab, at) <= 1)
    // resize to half: block structure survives nearest-neighbor
    val resized = Multimodal.resizePng(base.content, 20).get._3
    assert(ham(ab, Multimodal.aHashBits(resized).get) <= 6)
    // uniform brightness shift (no wrap): dHash INVARIANT by
    // construction (gradient order is unchanged), aHash compares to a
    // shifted global mean so bits may move — build a ramp in [0,100]
    def ramp(shift: Int): Array[Byte] = {
      val rgb = new Array[Byte](40 * 24 * 3)
      (0 until 24).foreach { y =>
        (0 until 40).foreach { x =>
          val g = (x * 2 + shift).toByte
          val p = (y * 40 + x) * 3
          rgb(p) = g; rgb(p + 1) = g; rgb(p + 2) = g
        }
      }
      Multimodal.pngEncode(40, 24, rgb)
    }
    val d0 = Multimodal.dHashBits(ramp(0)).get
    val d50 = Multimodal.dHashBits(ramp(50)).get
    assert(ham(d0, d50) == 0)
    // undecodable bytes: None, never a throw
    assert(Multimodal.aHashBits(base.content.dropRight(7)).isEmpty)
    assert(Multimodal.dHashBits(Array[Byte](1, 2, 3)).isEmpty)
  }

  test("imageNearDupPairs surfaces the planted copy through the " +
      "band join") {
    val blobs = (0L until 30L).map { id =>
      Multimodal.syntheticPngGradient(id, 32, 24)
    } :+ Multimodal.syntheticPngGradient(7L, 32, 24, tweakOrigin = true)
      .copy(media_id = 999L)
    val pairs = Multimodal.imageNearDupPairs(blobs.toDS(), maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.exists(p => p._1 == 7L && p._2 == 999L && p._3 <= 1),
      s"planted pair missing from ${pairs.toSeq}")
  }

  test("sceneCuts reads the Y plane of non-420 colorspaces too") {
    // hand-built mono stream: 4×2 luma, two frames 100 then 200
    val header = "YUV4MPEG2 W4 H2 F25:1 Ip A1:1 Cmono\n"
      .getBytes("US-ASCII")
    val fm = "FRAME\n".getBytes("US-ASCII")
    val bytes = header ++ fm ++ Array.fill(8)(100.toByte) ++
      fm ++ Array.fill(8)(200.toByte)
    val rows = Multimodal.sceneCuts(
        Seq(MediaBlob(1L, "video", bytes)).toDS(), threshold = 40.0)
      .collect().sortBy(_.frame_no)
    assert(rows.map(_.mean_luma).toSeq == Seq(100.0, 200.0))
    assert(rows(1).delta.contains(100.0) && rows(1).is_cut &&
      rows(1).scene_no == 1L)
  }

  test("parseMp3: header tables, ID3v2 syncsafe skip, ID3v1 " +
    "subtraction, CBR duration arithmetic") {
    // MPEG1 Layer III 128kbps 44100Hz stereo, 4 frames, no tags:
    // frameLen = 144·128000/44100 = 417; dur = 4·417·8/128 = 104 ms
    val a = Multimodal.parseMp3(1L,
      Multimodal.syntheticMp3(1L, "1", 3, 128, 44100, mono = false,
        nFrames = 4).content)
    assert(a == graft.multimodal.Mp3Meta(1L, "1", 3, 128, 44100, 2, 0, -1,
      104L, decode_ok = true))
    // ID3v2 tag skipped by syncsafe size; id3_size excluded from audio
    val b0 = Multimodal.syntheticMp3(2L, "1", 3, 128, 44100,
      mono = true, nFrames = 4, id3Body = 200)
    val b = Multimodal.parseMp3(2L, b0.content)
    assert(b.id3_size == 210 && b.channels == 1 && b.duration_ms == 104L)
    // MPEG2 Layer III uses the 72 coefficient and the low-rate table;
    // trailing ID3v1 block is not audio
    val c = Multimodal.parseMp3(3L,
      Multimodal.syntheticMp3(3L, "2", 3, 64, 22050, mono = true,
        nFrames = 3, id3v1 = true).content)
    // frameLen = 72·64000/22050 = 208; dur = 3·208·8/64 = 78 ms
    assert(c.version == "2" && c.bitrate_kbps == 64 &&
      c.sample_rate == 22050 && c.duration_ms == 78L && c.decode_ok)
    // MPEG2.5 sample-rate table
    val d = Multimodal.parseMp3(4L,
      Multimodal.syntheticMp3(4L, "2.5", 3, 40, 11025, mono = true,
        nFrames = 2).content)
    assert(d.version == "2.5" && d.sample_rate == 11025 && d.decode_ok)
    // Layer II MPEG1 table
    val e = Multimodal.parseMp3(5L,
      Multimodal.syntheticMp3(5L, "1", 2, 384, 48000, mono = false,
        nFrames = 2).content)
    assert(e.layer == 2 && e.bitrate_kbps == 384 && e.decode_ok)
  }

  test("parseMp3 VBR: Xing/Info/VBRI frame counts make the duration " +
    "exact where the CBR byte estimate is wrong") {
    // MPEG1 L3 stereo: side info 32 → Xing at frame offset 36.
    // 5 declared frames · 1152 samples / 44100 Hz = 130 ms exactly —
    // NOT the byte estimate (5·417·8/128 = 130 here by coincidence of
    // CBR frames; the declared-count path is proven by vbr_frames)
    val x = Multimodal.parseMp3(1L,
      Multimodal.syntheticMp3(1L, "1", 3, 128, 44100, mono = false,
        nFrames = 5, vbrTag = "Xing").content)
    assert(x.vbr_frames == 5 && x.duration_ms == 130L && x.decode_ok)
    // Info (LAME's CBR spelling) parses identically; mono MPEG2 side
    // info is 9 bytes, so the tag sits at offset 13
    val i = Multimodal.parseMp3(2L,
      Multimodal.syntheticMp3(2L, "2", 3, 64, 22050, mono = true,
        nFrames = 4, vbrTag = "Info").content)
    // 4 · 576 · 1000 / 22050 = 104 ms (MPEG2 L3 = 576 samples/frame)
    assert(i.vbr_frames == 4 && i.duration_ms == 104L)
    // VBRI sits at the fixed 32-byte payload offset, frames at +14
    val v = Multimodal.parseMp3(3L,
      Multimodal.syntheticMp3(3L, "1", 3, 160, 48000, mono = false,
        nFrames = 7, vbrTag = "VBRI").content)
    // 7 · 1152 · 1000 / 48000 = 168 ms
    assert(v.vbr_frames == 7 && v.duration_ms == 168L)
    // an ID3v2 tag in front moves the frame (and the VBR tag) intact
    val t = Multimodal.parseMp3(4L,
      Multimodal.syntheticMp3(4L, "1", 3, 128, 44100, mono = true,
        nFrames = 5, id3Body = 120, vbrTag = "Xing").content)
    assert(t.vbr_frames == 5 && t.id3_size == 130 &&
      t.duration_ms == 130L)
    // no tag → vbr_frames = -1 and the byte-span fallback
    val c = Multimodal.parseMp3(5L,
      Multimodal.syntheticMp3(5L, "1", 3, 128, 44100, mono = false,
        nFrames = 5).content)
    assert(c.vbr_frames == -1 && c.duration_ms == 130L)
  }

  test("parseMp3 rejections are row properties: truncation, broken " +
    "sync, reserved indices, overrunning ID3 tag") {
    val good = Multimodal.syntheticMp3(9L, "1", 3, 128, 44100,
      mono = true, nFrames = 2).content
    assert(!Multimodal.parseMp3(9L, good.take(2)).decode_ok)
    val broken = good.clone(); broken(0) = 0
    assert(!Multimodal.parseMp3(9L, broken).decode_ok)
    // bitrate index 15 (reserved) and free-format 0 both reject
    val r15 = good.clone(); r15(2) = (0xf0 | (r15(2) & 0x0f)).toByte
    assert(!Multimodal.parseMp3(9L, r15).decode_ok)
    val r0 = good.clone(); r0(2) = (r0(2) & 0x0f).toByte
    assert(!Multimodal.parseMp3(9L, r0).decode_ok)
    // sample-rate index 3 is reserved
    val sr3 = good.clone(); sr3(2) = (sr3(2) | 0x0c).toByte
    assert(!Multimodal.parseMp3(9L, sr3).decode_ok)
    // ID3 tag declaring more bytes than the buffer holds
    val tagged = Multimodal.syntheticMp3(9L, "1", 3, 128, 44100,
      mono = true, nFrames = 2, id3Body = 100).content
    assert(!Multimodal.parseMp3(9L, tagged.take(50)).decode_ok)
  }

  test("parseFlac: STREAMINFO bit unpacking, unknown-length streams, " +
    "and malformed-stream rejections") {
    val f = Multimodal.parseFlac(1L,
      Multimodal.syntheticFlac(1L, 44100, 2, 16, 441000L).content)
    assert(f == graft.multimodal.FlacMeta(1L, 44100, 2, 16, 441000L, 10000L,
      decode_ok = true))
    // total_samples = 0 means unknown → duration -1, still decodable
    val u = Multimodal.parseFlac(2L,
      Multimodal.syntheticFlac(2L, 48000, 1, 24, 0L).content)
    assert(u.decode_ok && u.duration_ms == -1L && u.bits_per_sample == 24)
    // 8 channels / 32 bps / large sample counts hit the field edges
    val w = Multimodal.parseFlac(3L,
      Multimodal.syntheticFlac(3L, 192000, 8, 32,
        (1L << 36) - 1).content)
    assert(w.channels == 8 && w.bits_per_sample == 32 &&
      w.total_samples == (1L << 36) - 1 && w.decode_ok)
    val good = Multimodal.syntheticFlac(4L, 44100, 2, 16, 1000L).content
    assert(!Multimodal.parseFlac(4L, good.take(20)).decode_ok)
    val wrongFirst = good.clone()
    wrongFirst(4) = 0x84.toByte // first block VORBIS_COMMENT, not SI
    assert(!Multimodal.parseFlac(4L, wrongFirst).decode_ok)
  }

  test("decompressAuto: gzip/zstd/lz4/zlib round-trip by magic " +
    "sniff, plain bytes pass through, truncated frames keep their " +
    "codec but fail, bomb cap bounds inflation") {
    val data = ("payload-123;" * 50).getBytes("UTF-8")
    val encs = Seq(
      "gzip" -> Multimodal.gzipBytes(data),
      "zstd" -> Multimodal.zstdBytes(data),
      "lz4" -> Multimodal.lz4Bytes(data),
      "zlib" -> Multimodal.zlibBytes(data))
    for ((codec, enc) <- encs) {
      val Some((c, out)) = Multimodal.decompressAuto(enc)
      assert(c == codec && java.util.Arrays.equals(out, data), codec)
      // truncation past the magic: codec sniffs, decompress fails
      val keep = Map("gzip" -> 18, "zstd" -> 8, "lz4" -> 8,
        "zlib" -> 4)(codec)
      val cut = java.util.Arrays.copyOf(enc, keep)
      assert(Multimodal.sniffCompression(cut) == codec, codec)
      assert(Multimodal.decompressAuto(cut).isEmpty, codec)
    }
    // no frame magic: identity pass-through
    val Some((none, same)) = Multimodal.decompressAuto(data)
    assert(none == "none" && java.util.Arrays.equals(same, data))
    // bomb cap: a 2MB payload under a 1MB cap reports undecodable
    val big = new Array[Byte](2 << 20)
    assert(Multimodal.decompressAuto(Multimodal.zstdBytes(big),
      maxBytes = 1 << 20).isEmpty)
  }

  test("parseId3: v2.3 plain vs v2.4 syncsafe frame sizes, all four " +
    "text encodings, NUL stripping, padding stop, malformed tags") {
    for ((v4, enc) <- Seq((false, 0), (false, 1), (true, 3))) {
      val b = Multimodal.syntheticTaggedMp3(1L, "Tïtle", "Ärtist",
        "Albüm", v4, enc)
      val t = Multimodal.parseId3(1L, b.content)
      assert(t == graft.multimodal.Id3Tags(1L, if (v4) "2.4" else "2.3",
        "Tïtle", "Ärtist", "Albüm", decode_ok = true),
        s"v4=$v4 enc=$enc got $t")
      // the same bytes still parse as audio: tag skipped by size
      assert(Multimodal.parseMp3(1L, b.content).sample_rate == 44100)
    }
    // UTF-16BE (encoding 2) decodes even though the generator doesn't
    // emit it: hand-build one frame
    val txt = "Ab".getBytes("UTF-16BE")
    val payload = Array(2.toByte) ++ txt
    val fr = "TIT2".getBytes("US-ASCII") ++
      Array(0.toByte, 0.toByte, 0.toByte, payload.length.toByte) ++
      Array[Byte](0, 0) ++ payload
    val hdr = Array[Byte]('I', 'D', '3', 3, 0, 0, 0, 0,
      ((fr.length >> 7) & 0x7f).toByte, (fr.length & 0x7f).toByte)
    assert(Multimodal.parseId3(2L, hdr ++ fr).title == "Ab")
    // malformed: a frame overrunning the tag bound rejects
    val good = Multimodal.syntheticTaggedMp3(3L, "T", "A", "B",
      v4 = false, enc = 0).content
    assert(!Multimodal.parseId3(3L, good.take(20)).decode_ok)
    // an untagged stream is decode_ok=false (no tag is a row property)
    assert(!Multimodal.parseId3(4L, Multimodal.syntheticMp3(4L, "1", 3,
      128, 44100, mono = true, nFrames = 1).content).decode_ok)
  }

  test("parseOgg: OpusHead and Vorbis id headers through real page " +
    "lacing (incl. >255-byte payload), unknown first packet, " +
    "truncation") {
    val o = Multimodal.parseOgg(1L,
      Multimodal.syntheticOgg(1L, "opus", 2, 48000, preSkip = 312)
        .content)
    assert(o == graft.multimodal.OggMeta(1L, "opus", 2, 48000, 312, -1L,
      decode_ok = true))
    val v = Multimodal.parseOgg(2L,
      Multimodal.syntheticOgg(2L, "vorbis", 2, 44100).content)
    assert(v == graft.multimodal.OggMeta(2L, "vorbis", 2, 44100, -1, -1L,
      decode_ok = true))
    // a page whose first packet is neither: container ok, codec not
    val j = Multimodal.parseOgg(3L,
      Multimodal.syntheticOgg(3L, "whatever", 1, 0).content)
    assert(j.codec == "unknown" && !j.decode_ok)
    val good = Multimodal.syntheticOgg(4L, "opus", 1, 16000).content
    assert(!Multimodal.parseOgg(4L, good.take(25)).decode_ok)
    assert(Multimodal.sniffFormat(good) == "ogg")
    // multi-segment lacing: a 300-byte unknown payload still bounds
    val big = Multimodal.syntheticOgg(5L, "x" * 300, 1, 0).content
    assert(Multimodal.parseOgg(5L, big).codec == "unknown")
    assert(!Multimodal.parseOgg(5L, big.dropRight(10)).decode_ok)
  }

  test("parseOgg duration: last-page granule position, Opus 48 kHz " +
    "minus pre-skip, Vorbis at the id rate, truncated tail skipped") {
    // Opus: granule 312 + 96000 samples → (96000)·1000/48000 = 2000 ms
    val o = Multimodal.parseOgg(1L,
      Multimodal.syntheticOgg(1L, "opus", 2, 16000, preSkip = 312,
        dataPages = 3, lastGranule = 312L + 96000L).content)
    assert(o.duration_ms == 2000L && o.decode_ok)
    // Vorbis granules tick at the ID header's rate
    val v = Multimodal.parseOgg(2L,
      Multimodal.syntheticOgg(2L, "vorbis", 2, 44100,
        dataPages = 2, lastGranule = 44100L * 3).content)
    assert(v.duration_ms == 3000L)
    // no data page → duration unknown, id fields still parse
    val one = Multimodal.parseOgg(3L,
      Multimodal.syntheticOgg(3L, "opus", 1, 8000).content)
    assert(one.duration_ms == -1L && one.decode_ok)
    // truncating the FINAL page mid-body drops its granule: the last
    // COMPLETE page (granule lastGranule·2/3) is what counts
    val full = Multimodal.syntheticOgg(4L, "vorbis", 1, 22050,
      dataPages = 3, lastGranule = 22050L * 3).content
    val cut = Multimodal.parseOgg(4L, full.dropRight(5))
    assert(cut.decode_ok &&
      cut.duration_ms == (22050L * 3 * 2 / 3) * 1000L / 22050L)
  }

  test("Ogg page CRC gate (RFC 3533 §6): written pages carry valid " +
    "CRCs, a single flipped bit anywhere in a page aborts the packet " +
    "walk (BadOggTags), and a flip in page 2 keeps page-1 packets") {
    val good = Multimodal.syntheticOgg(7L, "opus", 2, 48000,
      tags = Seq("ARTIST" -> "A", "TITLE" -> "T")).content
    val tagsOk = Multimodal.parseOggTags(7L, good)
    assert(tagsOk.decode_ok && tagsOk.artist == "A" &&
      tagsOk.title == "T")
    // flip one bit in the BOS page payload → zero packets survive
    val flip0 = good.clone(); flip0(40) = (flip0(40) ^ 0x40).toByte
    assert(Multimodal.oggPackets(flip0).isEmpty)
    assert(!Multimodal.parseOggTags(7L, flip0).decode_ok)
    // flip one bit in the page CRC FIELD itself → same abort
    val flipC = good.clone(); flipC(22) = (flipC(22) ^ 0x01).toByte
    assert(Multimodal.oggPackets(flipC).isEmpty)
    // flip a bit beyond page 1 (the tags page): packet 1 survives,
    // the tags packet does not
    val page1Len = {
      val ns = good(26) & 0xff
      var pl = 0; var k = 0
      while (k < ns) { pl += good(27 + k) & 0xff; k += 1 }
      27 + ns + pl
    }
    val flip2 = good.clone()
    flip2(page1Len + 30) = (flip2(page1Len + 30) ^ 0x40).toByte
    assert(Multimodal.oggPackets(flip2).size == 1)
    assert(!Multimodal.parseOggTags(7L, flip2).decode_ok)
  }

  test("audio sniffing: fLaC and ID3/frame-sync magics route, JPEG's " +
    "0xFFD8 does NOT collide with the MPEG sync mask") {
    assert(Multimodal.sniffFormat(
      Multimodal.syntheticFlac(1L, 44100, 2, 16, 1L).content) == "flac")
    assert(Multimodal.sniffFormat(Multimodal.syntheticMp3(1L, "1", 3,
      128, 44100, mono = true, nFrames = 1).content) == "mp3")
    assert(Multimodal.sniffFormat(Multimodal.syntheticMp3(1L, "1", 3,
      128, 44100, mono = true, nFrames = 1,
      id3Body = 30).content) == "mp3")
    // 0xFF 0xD8 (JPEG SOI): high bits 110 fail the 0xE0 sync mask and
    // the jpeg check runs first anyway
    assert(Multimodal.sniffFormat(
      Array(0xff.toByte, 0xd8.toByte, 0xff.toByte, 0xe0.toByte)) ==
      "jpeg")
    // reserved version bits (0xF8) and reserved layer (0xF9 has
    // layer=00) do not sniff as mp3
    assert(Multimodal.sniffFormat(
      Array(0xff.toByte, 0xe9.toByte, 0x44.toByte, 0x00.toByte)) ==
      "unknown")
  }


  test("xz and bzip2 legs: FOREIGN CLI-compressed fixtures decode " +
    "byte-exact, our writers round-trip, sniff+dispatch route, and " +
    "bombs/corruption stay row properties") {
    def b64(x: String) = java.util.Base64.getDecoder.decode(x)
    // fixtures produced by the xz and bzip2 command-line tools at -9
    val xzForeign = b64(
      "/Td6WFoAAATm1rRGBMAmIiEBHAAAAAAAAAAAAPVo+iUBACF4eiBmb3JlaWduIHBheWxv" +
      "YWQgZm9yIGNvbmZvcm1hbmNlAAAABqL4FISzRKcAAUIiSNmpNx+2830BAAAAAARZWg==")
    val bzForeign = b64(
      "QlpoOTFBWSZTWZhSwdsAAAQZgEAAEAA/p9AwIAAitGTRhGnqFNMjExMSlPlVWITbQ52T" +
      "qgL5pEAnnJKPi7kinChITClg7YA=")
    assert(Multimodal.unxz(xzForeign).map(new String(_, "UTF-8"))
      .contains("xz foreign payload for conformance"))
    assert(Multimodal.unbzip2(bzForeign).map(new String(_, "UTF-8"))
      .contains("bzip2 foreign payload for conformance"))
    // round-trip through our library-backed writers
    val data = ("envelope " * 100).getBytes("UTF-8")
    assert(Multimodal.unxz(Multimodal.xzBytes(data))
      .exists(java.util.Arrays.equals(_, data)))
    assert(Multimodal.unbzip2(Multimodal.bzip2Bytes(data))
      .exists(java.util.Arrays.equals(_, data)))
    // sniff + dispatch
    assert(Multimodal.sniffFormat(xzForeign) == "xz")
    assert(Multimodal.sniffFormat(bzForeign) == "bzip2")
    val dx = Multimodal.dispatchOne(1L, xzForeign)
    assert(dx.format == "xz" && dx.decode_ok)
    val db = Multimodal.dispatchOne(2L, bzForeign)
    assert(db.format == "bzip2" && db.decode_ok)
    // corruption and the bomb cap are row properties
    val bad = xzForeign.clone(); bad(20) = (bad(20) ^ 0x40).toByte
    assert(Multimodal.unxz(bad).isEmpty)
    val big = Multimodal.xzBytes(new Array[Byte](1 << 20))
    assert(Multimodal.unxz(big, maxBytes = 1 << 10).isEmpty)
    assert(Multimodal.unbzip2(
      Multimodal.bzip2Bytes(new Array[Byte](1 << 20)),
      maxBytes = 1 << 10).isEmpty)
  }
}
