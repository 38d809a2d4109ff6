package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

case class JpegMeta(media_id: Long, width: Int, height: Int,
                    components: Int, precision: Int,
                    entropy_bytes: Long, decode_ok: Boolean)

/** EXIF metadata row: `orientation` is TIFF tag 0x0112 (1..8; -1 if
  * the tag is absent), `big_endian` the TIFF byte order, `has_exif`
  * whether a well-formed Exif APP1 was found at all. Orientation
  * matters for training data: ~1 in 7 real camera JPEGs stores
  * rotated pixels and relies on this tag for display — a pipeline
  * that ignores it trains on sideways images.
  */
case class JpegExif(media_id: Long, orientation: Int,
                    big_endian: Boolean, has_exif: Boolean)

/** JPEG/JFIF: baseline + progressive decode (full Huffman/DCT), EXIF walk and auto-rotation, gray/color/4:2:0 encoders, byte-level resize.
  *
  * One slice of [[Multimodal]] (mixed in there; call sites use
  * `Multimodal.*`) — split per codec for reviewability, no behavior
  * change.
  */
private[multimodal] trait JpegCodec extends Serializable {
  // ------------------------------------------------------------ JPEG
  // The fourth real codec next to WAV/PNG/Y4M: S4's <img src> blobs
  // (extract_utils.py:50-59) are as often JPEG as PNG. Writer is a
  // genuine DC-only baseline JFIF encoder (real DCT math degenerates
  // to DC = 8·(v−128) for per-8×8-block-uniform pixels; unit quant
  // table makes that exact; canonical Huffman from the Annex-K
  // standard tables; FF byte stuffing) — any JPEG tool decodes the
  // output, MultimodalSpec proves it through JDK ImageIO. Parser is a
  // marker-stream walk mirroring parsePng's contract: header fields
  // out, every malformation to decode_ok=false, never a task failure.


  private val BadJpeg =
    JpegMeta(0L, -1, -1, -1, -1, -1L, decode_ok = false)

  // Annex K.3.3.1 luminance DC table: category 0-11, canonical codes.
  private val JpegDcBits =
    Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private val JpegDcVals = (0 to 11).map(_.toByte).toArray
  // Annex K.3.3.2 luminance AC table (full standard table so the DHT
  // segment is the one every decoder ships; the DC-only writer uses
  // just its EOB code).
  private val JpegAcBits =
    Array(0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7d)
  private val JpegAcVals: Array[Byte] = Array(
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xa1, 0x08, 0x23, 0x42, 0xb1, 0xc1, 0x15, 0x52, 0xd1, 0xf0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0a, 0x16, 0x17, 0x18, 0x19, 0x1a,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2a, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4a, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5a, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7a, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8a, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9a, 0xa2, 0xa3, 0xa4, 0xa5,
    0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5, 0xb6, 0xb7,
    0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5, 0xc6, 0xc7, 0xc8, 0xc9,
    0xca, 0xd2, 0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda, 0xe1,
    0xe2, 0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea, 0xf1, 0xf2,
    0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8, 0xf9, 0xfa).map(_.toByte)

  /** Canonical JPEG Huffman assignment (spec C.2): codes in value
    * order, incrementing, left-shifted at each length step.
    */
  private def canonicalCodes(bits: Array[Int], vals: Array[Byte])
      : Map[Int, (Int, Int)] = {
    var code = 0
    var k = 0
    val out = Map.newBuilder[Int, (Int, Int)]
    (1 to 16).foreach { len =>
      (0 until bits(len - 1)).foreach { _ =>
        out += (vals(k) & 0xff) -> (code, len)
        code += 1; k += 1
      }
      code <<= 1
    }
    out.result()
  }

  /** Encode per-8×8-block gray values as a REAL baseline JFIF JPEG:
    * SOI + JFIF APP0 + unit DQT + SOF0 (8-bit grayscale) + the two
    * Annex-K Huffman tables + SOS + DC-only entropy data + EOI. With
    * every block uniform and quant ≡ 1 the encoding is mathematically
    * lossless: any conforming decoder returns the block values
    * verbatim. `blockVals` is raster-ordered, ceil(w/8)·ceil(h/8)
    * entries.
    */
  def jpegEncode(width: Int, height: Int,
                 blockVals: Array[Int]): Array[Byte] = {
    val bx = (width + 7) / 8
    val by = (height + 7) / 8
    require(blockVals.length == bx * by,
      s"need ${bx * by} block values, got ${blockVals.length}")
    require(width > 0 && height > 0 && width < 65536 && height < 65536)
    val out = new java.io.ByteArrayOutputStream(256 + blockVals.length * 2)
    def u16(v: Int): Unit = { out.write(v >>> 8); out.write(v & 0xff) }
    def marker(m: Int): Unit = { out.write(0xff); out.write(m) }
    marker(0xd8)                                   // SOI
    marker(0xe0); u16(16)                          // APP0 JFIF
    out.write("JFIF".getBytes("US-ASCII")); out.write(0)
    out.write(1); out.write(1)                     // version 1.1
    out.write(0); u16(1); u16(1)                   // aspect-ratio 1:1
    out.write(0); out.write(0)                     // no thumbnail
    marker(0xdb); u16(67); out.write(0)            // DQT id 0, 8-bit
    (0 until 64).foreach(_ => out.write(1))        // unit quant: lossless DC
    marker(0xc0); u16(11)                          // SOF0 baseline
    out.write(8); u16(height); u16(width)
    out.write(1)                                   // 1 component (gray)
    out.write(1); out.write(0x11); out.write(0)    // id 1, 1×1, DQT 0
    def dht(cls: Int, bits: Array[Int], vals: Array[Byte]): Unit = {
      marker(0xc4); u16(2 + 1 + 16 + vals.length)
      out.write(cls << 4)
      bits.foreach(out.write)
      out.write(vals, 0, vals.length)
    }
    dht(0, JpegDcBits, JpegDcVals)
    dht(1, JpegAcBits, JpegAcVals)
    marker(0xda); u16(8)                           // SOS
    out.write(1); out.write(1); out.write(0x00)    // comp 1, DC 0 / AC 0
    out.write(0); out.write(63); out.write(0)      // Ss / Se / Ah,Al
    // entropy-coded data: per block, Huffman(category(diff)) +
    // magnitude bits + EOB; FF bytes stuffed with 00
    val dcCodes = canonicalCodes(JpegDcBits, JpegDcVals)
    val (eobCode, eobLen) = canonicalCodes(JpegAcBits, JpegAcVals)(0x00)
    var acc = 0L; var nbits = 0
    def put(code: Int, len: Int): Unit = {
      acc = (acc << len) | (code & ((1L << len) - 1)); nbits += len
      while (nbits >= 8) {
        val b = ((acc >>> (nbits - 8)) & 0xff).toInt
        out.write(b); if (b == 0xff) out.write(0x00)
        nbits -= 8
      }
    }
    var prevDc = 0
    blockVals.foreach { v =>
      val dc = 8 * ((v & 0xff) - 128)              // exact DCT of a flat block
      var diff = dc - prevDc; prevDc = dc
      var cat = 0
      var mag = math.abs(diff)
      while (mag != 0) { cat += 1; mag >>= 1 }
      val (c, l) = dcCodes(cat)
      put(c, l)
      if (cat > 0) {
        if (diff < 0) diff += (1 << cat) - 1       // spec F.1.2.1 negative form
        put(diff, cat)
      }
      put(eobCode, eobLen)                         // all AC zero
    }
    if (nbits > 0) put((1 << (8 - nbits)) - 1, 8 - nbits) // pad with 1s
    marker(0xd9)                                   // EOI
    out.toByteArray
  }

  /** Color (YCbCr 4:4:4) DC-only baseline JFIF — the shape real
    * `<img src>` blobs actually take. Three components, no chroma
    * subsampling (1×1 sampling everywhere), every component
    * referencing quant table 0 and Huffman tables 0 (legal per spec,
    * and it keeps the writer to the tables [[jpegEncode]] already
    * carries); each component holds its own DC predictor across the
    * interleaved MCU stream. Per-block-uniform planes + unit quant =
    * mathematically lossless in YCbCr space (RGB output then differs
    * from the closed form only by the decoder's YCbCr→RGB rounding).
    */
  def jpegEncodeColor(width: Int, height: Int, yB: Array[Int],
                      cbB: Array[Int], crB: Array[Int]): Array[Byte] = {
    val bx = (width + 7) / 8
    val by = (height + 7) / 8
    require(yB.length == bx * by && cbB.length == bx * by &&
      crB.length == bx * by, s"need ${bx * by} blocks per component")
    require(width > 0 && height > 0 && width < 65536 && height < 65536)
    val out = new java.io.ByteArrayOutputStream(512 + yB.length * 6)
    def u16(v: Int): Unit = { out.write(v >>> 8); out.write(v & 0xff) }
    def marker(m: Int): Unit = { out.write(0xff); out.write(m) }
    marker(0xd8)
    marker(0xe0); u16(16)
    out.write("JFIF".getBytes("US-ASCII")); out.write(0)
    out.write(1); out.write(1)
    out.write(0); u16(1); u16(1); out.write(0); out.write(0)
    marker(0xdb); u16(67); out.write(0)
    (0 until 64).foreach(_ => out.write(1))
    marker(0xc0); u16(8 + 3 * 3)
    out.write(8); u16(height); u16(width)
    out.write(3)
    (1 to 3).foreach { cid =>
      out.write(cid); out.write(0x11); out.write(0) // 1×1, quant 0
    }
    def dht(cls: Int, bits: Array[Int], vals: Array[Byte]): Unit = {
      marker(0xc4); u16(2 + 1 + 16 + vals.length)
      out.write(cls << 4)
      bits.foreach(out.write)
      out.write(vals, 0, vals.length)
    }
    dht(0, JpegDcBits, JpegDcVals)
    dht(1, JpegAcBits, JpegAcVals)
    marker(0xda); u16(6 + 2 * 3)
    out.write(3)
    (1 to 3).foreach { cid => out.write(cid); out.write(0x00) }
    out.write(0); out.write(63); out.write(0)
    val dcCodes = canonicalCodes(JpegDcBits, JpegDcVals)
    val (eobCode, eobLen) = canonicalCodes(JpegAcBits, JpegAcVals)(0x00)
    var acc = 0L; var nbits = 0
    def put(code: Int, len: Int): Unit = {
      acc = (acc << len) | (code & ((1L << len) - 1)); nbits += len
      while (nbits >= 8) {
        val b = ((acc >>> (nbits - 8)) & 0xff).toInt
        out.write(b); if (b == 0xff) out.write(0x00)
        nbits -= 8
      }
    }
    val planes = Array(yB, cbB, crB)
    val prevDc = new Array[Int](3)
    var b = 0
    while (b < yB.length) {                       // interleaved MCUs
      var c = 0
      while (c < 3) {
        val dc = 8 * ((planes(c)(b) & 0xff) - 128)
        var diff = dc - prevDc(c); prevDc(c) = dc
        var cat = 0
        var mag = math.abs(diff)
        while (mag != 0) { cat += 1; mag >>= 1 }
        val (cc, l) = dcCodes(cat)
        put(cc, l)
        if (cat > 0) {
          if (diff < 0) diff += (1 << cat) - 1
          put(diff, cat)
        }
        put(eobCode, eobLen)
        c += 1
      }
      b += 1
    }
    if (nbits > 0) put((1 << (8 - nbits)) - 1, 8 - nbits)
    marker(0xd9)
    out.toByteArray
  }

  /** Deterministic id-seeded grayscale JPEG blob: per-block values
    * from the same LCG family as [[syntheticPng]].
    */
  def syntheticJpeg(id: Long, width: Int, height: Int): MediaBlob = {
    val bx = (width + 7) / 8
    val by = (height + 7) / 8
    val vals = new Array[Int](bx * by)
    var x = id * 6364136223846793005L + 1442695040888963407L
    (0 until vals.length).foreach { i =>
      x = x * 6364136223846793005L + 1442695040888963407L
      vals(i) = ((x >>> 56) & 0xff).toInt
    }
    MediaBlob(id, "image", jpegEncode(width, height, vals))
  }

  /** REAL JPEG header parse — [[parsePng]]'s contract for JFIF
    * streams. Requires SOI first; walks the marker segments (length-
    * checked against EOF); pulls (precision, height, width,
    * components) from the first SOF; after SOS counts entropy bytes
    * (FF00 stuffing and RST markers stay inside the scan) across ALL
    * scans until EOI — progressive (SOF2) streams are multi-scan
    * chains of tables+SOS segments and validate end to end.
    * decode_ok reflects what [[decodeJpegPixels]] can decode: a
    * complete single-scan baseline (SOF0) or a complete progressive
    * (SOF2) chain, 8-bit, components ∈ {1,3,4}. The other frame
    * types (arithmetic, lossless, hierarchical, 12-bit) stay
    * decode_ok=false, like palette PNGs in decodePngPixels.
    * Truncation anywhere — a segment length past EOF, a scan chain
    * that never reaches EOI — routes to decode_ok=false.
    */
  def parseJpeg(id: Long, bytes: Array[Byte]): JpegMeta = {
    def u8(i: Int): Int = bytes(i) & 0xff
    def u16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
    if (bytes.length < 4 || u8(0) != 0xff || u8(1) != 0xd8)
      return BadJpeg.copy(media_id = id)
    var off = 2
    var w = -1; var h = -1; var ncomp = -1; var prec = -1
    var baseline = false
    var progressive = false
    var sawSof = false
    var inScanAt = -1
    while (inScanAt < 0 && off + 4 <= bytes.length) {
      if (u8(off) != 0xff) return BadJpeg.copy(media_id = id)
      // spec B.1.1.2: any number of 0xFF fill bytes may pad before a
      // marker code — skip them instead of misreading the next pair
      while (off + 4 <= bytes.length && u8(off + 1) == 0xff) off += 1
      val m = u8(off + 1)
      if (m == 0xd8 || (m >= 0xd0 && m <= 0xd7) || m == 0x01) {
        off += 2                                   // standalone marker
      } else if (m == 0xd9) {
        return BadJpeg.copy(media_id = id)         // EOI before any scan
      } else {
        val len = u16(off + 2)
        if (len < 2 || off + 2 + len > bytes.length)
          return BadJpeg.copy(media_id = id)       // truncated segment
        val isSof = (m >= 0xc0 && m <= 0xcf) &&
          m != 0xc4 && m != 0xc8 && m != 0xcc     // not DHT/JPG/DAC
        if (isSof && !sawSof) {
          sawSof = true
          baseline = m == 0xc0
          progressive = m == 0xc2
          if (len < 8) return BadJpeg.copy(media_id = id)
          prec = u8(off + 4)
          h = u16(off + 5); w = u16(off + 7)
          ncomp = u8(off + 9)
          if (len != 8 + 3 * ncomp)
            return BadJpeg.copy(media_id = id)
        }
        if (m == 0xda) inScanAt = off + 2 + len    // SOS: entropy follows
        else off += 2 + len
      }
    }
    if (inScanAt < 0 || !sawSof) return BadJpeg.copy(media_id = id)
    // entropy-coded scans: stuffed FF00 and RSTn stay inside; a
    // tables/SOS segment between scans continues the chain (the
    // progressive shape); EOI completes it
    var p = inScanAt
    var entropy = 0L
    var complete = false
    var ended = false
    var multiScan = false
    while (!ended && p < bytes.length) {
      if (u8(p) == 0xff && p + 1 < bytes.length) {
        val m = u8(p + 1)
        if (m == 0x00) { entropy += 2; p += 2 }            // stuffed FF
        else if (m >= 0xd0 && m <= 0xd7) { entropy += 2; p += 2 } // RST
        else if (m == 0xff) p += 1                         // fill byte
        else if (m == 0xd9) { complete = true; ended = true } // EOI
        else if (m == 0xd8 ||
          (m >= 0xc0 && m <= 0xcf && m != 0xc4)) {
          ended = true // a SECOND frame inside the stream (DHT
                       // redefinition between scans is fine, SOF/SOI
                       // is not): structurally broken
        } else {
          // a tables/DRI/SOS segment between scans: walk it so
          // multi-scan (progressive) chains validate to EOI
          if (p + 4 > bytes.length) ended = true
          else {
            val l2 = u16(p + 2)
            if (l2 < 2 || p + 2 + l2 > bytes.length) ended = true
            else { multiScan = true; p += 2 + l2 }
          }
        }
      } else { entropy += 1; p += 1 }
    }
    if (w <= 0 || h <= 0) return BadJpeg.copy(media_id = id)
    val ok = complete && prec == 8 &&
      (ncomp == 1 || ncomp == 3 || ncomp == 4) &&
      ((baseline && !multiScan) || progressive)
    JpegMeta(id, w, h, ncomp, prec, entropy, decode_ok = ok)
  }

  /** Partition-wise JPEG decode — same plan shape as [[decodePng]]. */
  def decodeJpeg(blobs: Dataset[MediaBlob]): Dataset[JpegMeta] = {
    import blobs.sparkSession.implicits._
    blobs.mapPartitions(_.map(b => parseJpeg(b.media_id, b.content)))
  }

  /** FULL pixel decode of a DC-only grayscale baseline JPEG — the
    * inverse of [[jpegEncode]], [[decodePngPixels]]'s role for this
    * codec: walks the segments for the quant table, frame header and
    * Huffman tables, then entropy-decodes the scan (canonical Huffman
    * walk, magnitude-bit sign extension per spec F.2.2.1, FF00
    * de-stuffing), dequantizes each block's DC and emits the flat
    * block value `128 + round(DC·Q[0]/8)`. Returns
    * (width, height, per-block values raster-ordered) or None for
    * anything [[parseJpeg]] rejects plus shapes this decoder doesn't
    * cover (multi-component, non-zero AC in the stream). A block with
    * AC energy decodes its DC exactly but the flat-value model would
    * lie, so EOB-less blocks route to None rather than a wrong image.
    */
  def decodeJpegBlocks(bytes: Array[Byte]): Option[(Int, Int, Array[Int])] =
    decodeJpegMcus(bytes).collect {
      case (w, h, planes) if planes.length == 1 => (w, h, planes(0))
    }

  /** Multi-component generalization of [[decodeJpegBlocks]]: decodes
    * the interleaved MCU stream of a DC-only baseline JPEG with 1×1
    * sampling everywhere (grayscale or YCbCr 4:4:4), each component
    * entropy-decoded with the DC table its SOS entry references and
    * dequantized with the quant table its SOF entry references, its
    * own DC predictor carried across MCUs. The per-component AC table
    * is parsed too and the end-of-block symbol is decoded through IT —
    * not assumed to be the standard table's 4-bit `1010` code — so a
    * foreign stream with a custom AC table either decodes correctly
    * or routes to None (absent AC table, or a first AC symbol that
    * isn't EOB). Returns (width, height, one flat-block-value array
    * per component) or None for anything [[parseJpeg]] rejects plus
    * subsampled / AC-bearing / non-standard shapes ([[decodeJpegPixels]]
    * is the full AC-capable decoder; THIS entry point is the exact
    * lossless inverse of [[jpegEncode]]/[[jpegEncodeColor]]).
    */
  def decodeJpegMcus(bytes: Array[Byte])
      : Option[(Int, Int, Array[Array[Int]])] = {
    val meta = parseJpeg(0L, bytes)
    if (!meta.decode_ok) return None
    def u8(i: Int): Int = bytes(i) & 0xff
    def u16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
    // second walk: collect DQT / DHT tables BY ID (a segment may pack
    // several tables back to back — the common layout in foreign
    // encoders), the SOF component's quant-table ref, and the SOS
    // component's DC/AC-table refs + scan offset
    var off = 2
    val quants = mutable.Map.empty[Int, Array[Int]]
    val dcTables = mutable.Map.empty[Int, JpegHuff]
    val acTables = mutable.Map.empty[Int, JpegHuff]
    var sofTq: Array[Int] = null       // per-component quant refs
    var sofSampling: Array[Int] = null
    var sosTd: Array[Int] = null       // per-component DC-table refs
    var sosTa: Array[Int] = null       // per-component AC-table refs
    var scanAt = -1
    while (scanAt < 0 && off + 4 <= bytes.length) {
      while (off + 4 <= bytes.length && u8(off + 1) == 0xff) off += 1 // fill bytes
      val m = u8(off + 1)
      if (m == 0xd8 || (m >= 0xd0 && m <= 0xd7) || m == 0x01) off += 2
      else {
        val len = u16(off + 2)
        val segEnd = off + 2 + len
        if (m == 0xdb) {                       // DQT: walk packed tables
          var p0 = off + 4
          while (p0 + 1 <= segEnd) {
            val pq = u8(p0) >> 4               // 0 = 8-bit, 1 = 16-bit
            val size = 1 + (if (pq == 1) 128 else 64)
            if (p0 + size > segEnd) { p0 = segEnd }
            else {
              if (pq == 0)                     // 16-bit entries are
                quants(u8(p0) & 0x0f) =        // skipped, not misparsed
                  Array.tabulate(64)(i => u8(p0 + 1 + i))
              p0 += size
            }
          }
        }
        if (m == 0xc4) {                       // DHT: walk packed tables
          var p0 = off + 4
          while (p0 + 17 <= segEnd) {
            val cls = u8(p0) >> 4
            val id = u8(p0) & 0x0f
            val bits = Array.tabulate(16)(i => u8(p0 + 1 + i))
            val total = bits.sum
            if (p0 + 17 + total > segEnd) { p0 = segEnd }
            else {
              val vals = Array.tabulate(total)(i => u8(p0 + 17 + i))
              if (cls == 0) dcTables(id) = buildJpegHuff(bits, vals)
              else if (cls == 1) acTables(id) = buildJpegHuff(bits, vals)
              p0 += 17 + total
            }
          }
        }
        if (m == 0xc0 && sofTq == null) {      // FIRST SOF only — the
          // one parseJpeg validated; a decoy second frame header must
          // not redirect table selection (the DHT-shadowing class)
          sofTq = Array.tabulate(meta.components)(i => u8(off + 12 + 3 * i))
          sofSampling =
            Array.tabulate(meta.components)(i => u8(off + 11 + 3 * i))
        }
        if (m == 0xda) {
          if (u8(off + 4) != meta.components)
            return None                        // Ns must cover all comps
          sosTd =
            Array.tabulate(meta.components)(i => u8(off + 6 + 2 * i) >> 4)
          sosTa =
            Array.tabulate(meta.components)(i => u8(off + 6 + 2 * i) & 0x0f)
          scanAt = segEnd
        } else off += 2 + len
      }
    }
    if (sofTq == null || sosTd == null || scanAt < 0) return None
    if (!sofSampling.forall(_ == 0x11)) return None  // 1×1 only
    val compQuant = sofTq.map(id => quants.get(id).orNull)
    val compDc = sosTd.map(id => dcTables.get(id).orNull)
    val compAc = sosTa.map(id => acTables.get(id).orNull)
    if (compQuant.exists(_ == null) || compDc.exists(_ == null) ||
      compAc.exists(_ == null)) return None
    val bx = (meta.width + 7) / 8
    val by = (meta.height + 7) / 8
    val nc = meta.components
    val out = Array.fill(nc)(new Array[Int](bx * by))
    val br = new JpegBitReader(bytes, scanAt)
    val prevDc = new Array[Int](nc)
    var b = 0
    while (b < bx * by) {                       // interleaved MCUs
      var c = 0
      while (c < nc) {
        val cat = br.huffDecode(compDc(c))
        if (cat < 0 || cat > 15) return None
        var diff = 0
        if (cat > 0) {
          if (!br.fill(cat)) return None
          diff = jpegExtend(br.take(cat), cat)
        }
        val dc = prevDc(c) + diff; prevDc(c) = dc
        // AC: the first AC symbol must be EOB, decoded through the
        // component's OWN table (a custom table may assign EOB any
        // code) — AC energy would make the flat-value model lie
        if (br.huffDecode(compAc(c)) != 0x00) return None
        out(c)(b) = 128 + Math.round(dc * compQuant(c)(0) / 8.0).toInt
        c += 1
      }
      b += 1
    }
    Some((meta.width, meta.height, out))
  }

  // ------------------------------------------------------------------
  // Shared baseline-JPEG machinery (spec ITU-T T.81): zigzag order,
  // canonical Huffman decode tables (F.2.2.3), the de-stuffing bit
  // reader, DCT basis (StrictMath so results are bit-identical across
  // JVMs — decode output feeds hash-compared query results).
  // ------------------------------------------------------------------

  /** Zigzag position k → natural (row-major v*8+u) index. */
  private val JpegZigZag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  /** Canonical Huffman decode table per spec F.2.2.3: min/max code and
    * value pointer per code length.
    */
  private final class JpegHuff(val minCode: Array[Int],
                               val maxCode: Array[Int],
                               val valPtr: Array[Int],
                               val vals: Array[Int]) extends Serializable

  private def buildJpegHuff(bits: Array[Int], vals: Array[Int]): JpegHuff = {
    val minCode = new Array[Int](17)
    val maxCode = Array.fill(17)(-1)
    val valPtr = new Array[Int](17)
    var code = 0
    var k = 0
    var l = 1
    while (l <= 16) {
      if (bits(l - 1) > 0) {
        valPtr(l) = k
        minCode(l) = code
        maxCode(l) = code + bits(l - 1) - 1
        code += bits(l - 1)
        k += bits(l - 1)
      }
      code <<= 1
      l += 1
    }
    new JpegHuff(minCode, maxCode, valPtr, vals)
  }

  /** Entropy-stream bit reader: FF00 de-stuffing, any real marker =
    * stream end (restart markers are consumed explicitly via
    * [[JpegBitReader.restart]], which byte-aligns first — spec F.2.1.3.1).
    */
  private final class JpegBitReader(bytes: Array[Byte], var p: Int) {
    private var acc = 0L
    private var nbits = 0
    private def u8(i: Int): Int = bytes(i) & 0xff
    def fill(need: Int): Boolean = {
      while (nbits < need && p < bytes.length) {
        if (u8(p) == 0xff) {
          if (p + 1 < bytes.length && u8(p + 1) == 0x00) {
            acc = (acc << 8) | 0xff; nbits += 8; p += 2
          } else return false                 // real marker: stream end
        } else { acc = (acc << 8) | u8(p); nbits += 8; p += 1 }
      }
      nbits >= need
    }
    def take(n: Int): Int = {
      val v = ((acc >>> (nbits - n)) & ((1L << n) - 1)).toInt
      nbits -= n; v
    }
    /** Decode one Huffman symbol bit by bit (codes are ≤ 16 bits);
      * -1 on truncation or a code outside the table.
      */
    def huffDecode(t: JpegHuff): Int = {
      var code = 0
      var l = 1
      while (l <= 16) {
        if (!fill(1)) return -1
        code = (code << 1) | take(1)
        if (t.maxCode(l) >= 0 && code <= t.maxCode(l))
          return t.vals(t.valPtr(l) + code - t.minCode(l))
        l += 1
      }
      -1
    }
    /** Byte-align, skip fill FFs, consume the expected RSTn marker. */
    def restart(idx: Int): Boolean = {
      acc = 0L; nbits = 0
      while (p + 1 < bytes.length && u8(p) == 0xff && u8(p + 1) == 0xff)
        p += 1
      if (p + 1 < bytes.length && u8(p) == 0xff &&
        u8(p + 1) == (0xd0 | (idx & 7))) { p += 2; true }
      else false
    }
  }

  /** Spec F.2.2.1 sign extension of an s-bit magnitude. */
  private def jpegExtend(v: Int, s: Int): Int =
    if (v < (1 << (s - 1))) v - (1 << s) + 1 else v

  /** DCT basis with normalization folded in:
    * `JpegCosine(x*8+u) = Cu·cos((2x+1)uπ/16)`, Cu = 1/√2 for u=0.
    * StrictMath: decode output feeds hash-compared query results, so
    * the basis must be bit-identical on every executor JVM.
    */
  private val JpegCosine: Array[Double] = {
    val t = new Array[Double](64)
    var x = 0
    while (x < 8) {
      var u = 0
      while (u < 8) {
        t(x * 8 + u) = StrictMath.cos((2 * x + 1) * u * StrictMath.PI / 16.0) *
          (if (u == 0) 1.0 / StrictMath.sqrt(2.0) else 1.0)
        u += 1
      }
      x += 1
    }
    t
  }

  /** 8×8 inverse DCT (spec A.3.3) of natural-order dequantized
    * coefficients into clamped [0,255] pixels (+128 level shift).
    * `tmp` is caller-provided scratch (64 doubles) so the MCU loop
    * allocates nothing per block.
    */
  private def idct8x8(coef: Array[Int], tmp: Array[Double],
                      out: Array[Int]): Unit = {
    var v = 0
    while (v < 8) {                     // rows: sum over u per (v, x)
      var x = 0
      while (x < 8) {
        var s = 0.0
        var u = 0
        while (u < 8) { s += coef(v * 8 + u) * JpegCosine(x * 8 + u); u += 1 }
        tmp(v * 8 + x) = s
        x += 1
      }
      v += 1
    }
    var y = 0
    while (y < 8) {                     // cols: sum over v per (x, y)
      var x = 0
      while (x < 8) {
        var s = 0.0
        var w = 0
        while (w < 8) { s += tmp(w * 8 + x) * JpegCosine(y * 8 + w); w += 1 }
        val px = Math.round(s / 4.0 + 128.0).toInt
        out(y * 8 + x) = if (px < 0) 0 else if (px > 255) 255 else px
        x += 1
      }
      y += 1
    }
  }

  /** 8×8 forward DCT (spec A.3.3) of level-shifted pixels into
    * natural-order coefficients. `tmp` is caller scratch.
    */
  private def fdct8x8(px: Array[Int], tmp: Array[Double],
                      out: Array[Double]): Unit = {
    var y = 0
    while (y < 8) {                     // rows: sum over x per (y, u)
      var u = 0
      while (u < 8) {
        var s = 0.0
        var x = 0
        while (x < 8) { s += (px(y * 8 + x) - 128) * JpegCosine(x * 8 + u); x += 1 }
        tmp(y * 8 + u) = s
        u += 1
      }
      y += 1
    }
    var v = 0
    while (v < 8) {                     // cols: sum over y per (u, v)
      var u = 0
      while (u < 8) {
        var s = 0.0
        var y2 = 0
        while (y2 < 8) { s += tmp(y2 * 8 + u) * JpegCosine(y2 * 8 + v); y2 += 1 }
        out(v * 8 + u) = s / 4.0
        u += 1
      }
      v += 1
    }
  }

  /** Annex K.1 luminance quantization table (natural row-major order). */
  private val JpegQuantLum: Array[Int] = Array(
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99)

  /** Annex K.2 chrominance quantization table (natural row-major order). */
  private val JpegQuantChrom: Array[Int] = Array(
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99)

  /** FULL pixel decode of a baseline sequential JPEG — AC-capable:
    * Huffman AC decode (run/size symbols, ZRL, EOB per spec F.2.2.2),
    * dequantization, 8×8 inverse DCT, and chroma upsampling for
    * subsampled streams (4:2:0 / 4:2:2 / any h,v ∈ 1..4 — box
    * replication, the nearest-neighbor inverse of the encoder's
    * downsample), restart-marker intervals honored (DRI + RSTn with
    * predictor reset). Covers what real web JPEGs carry
    * (reference extract_utils.py:50-59 harvests exactly these);
    * progressive (SOF2) streams route to the multi-scan
    * spectral-selection / successive-approximation decoder
    * ([[decodeJpegPixelsProgressive]]); arithmetic / 12-bit /
    * multi-scan-sequential streams route to None via [[parseJpeg]]'s
    * decode_ok, truncation and malformed entropy data route to None
    * mid-decode — a row property, never a task failure.
    *
    * Returns (width, height, one FULL-RESOLUTION pixel plane per
    * component — grayscale 1, YCbCr 3, CMYK-shaped 4); [[decodeJpegRgb]]
    * layers the JFIF color transform on top. MultimodalSpec round-trips
    * JDK ImageIO-encoded photos (AC-bearing, 4:2:0) through this
    * decoder to within quantization tolerance.
    */
  def decodeJpegPixels(bytes: Array[Byte])
      : Option[(Int, Int, Array[Array[Int]])] = {
    val meta = parseJpeg(0L, bytes)
    if (!meta.decode_ok) return None
    if (jpegFrameMarker(bytes) == 0xc2)
      return decodeJpegPixelsProgressive(bytes, meta)
    def u8(i: Int): Int = bytes(i) & 0xff
    def u16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
    var off = 2
    val quants = mutable.Map.empty[Int, Array[Int]]
    val dcTables = mutable.Map.empty[Int, JpegHuff]
    val acTables = mutable.Map.empty[Int, JpegHuff]
    var sofIds: Array[Int] = null
    var sofH: Array[Int] = null
    var sofV: Array[Int] = null
    var sofTq: Array[Int] = null
    var sosTd: Array[Int] = null
    var sosTa: Array[Int] = null
    var dri = 0
    var scanAt = -1
    val nc = meta.components
    while (scanAt < 0 && off + 4 <= bytes.length) {
      while (off + 4 <= bytes.length && u8(off + 1) == 0xff) off += 1
      val m = u8(off + 1)
      if (m == 0xd8 || (m >= 0xd0 && m <= 0xd7) || m == 0x01) off += 2
      else {
        val len = u16(off + 2)
        val segEnd = off + 2 + len
        if (m == 0xdb) {
          var p0 = off + 4
          while (p0 + 1 <= segEnd) {
            val pq = u8(p0) >> 4
            val size = 1 + (if (pq == 1) 128 else 64)
            if (p0 + size > segEnd) { p0 = segEnd }
            else {
              if (pq == 0)
                quants(u8(p0) & 0x0f) =
                  Array.tabulate(64)(i => u8(p0 + 1 + i))
              else                             // 16-bit precision table
                quants(u8(p0) & 0x0f) =
                  Array.tabulate(64)(i => u16(p0 + 1 + 2 * i))
              p0 += size
            }
          }
        }
        if (m == 0xc4) {
          var p0 = off + 4
          while (p0 + 17 <= segEnd) {
            val cls = u8(p0) >> 4
            val id = u8(p0) & 0x0f
            val bits = Array.tabulate(16)(i => u8(p0 + 1 + i))
            val total = bits.sum
            if (p0 + 17 + total > segEnd) { p0 = segEnd }
            else {
              val vals = Array.tabulate(total)(i => u8(p0 + 17 + i))
              if (cls == 0) dcTables(id) = buildJpegHuff(bits, vals)
              else if (cls == 1) acTables(id) = buildJpegHuff(bits, vals)
              p0 += 17 + total
            }
          }
        }
        if (m == 0xdd && len >= 4) dri = u16(off + 4)
        if (m == 0xc0 && sofTq == null) {
          sofIds = Array.tabulate(nc)(i => u8(off + 10 + 3 * i))
          sofH = Array.tabulate(nc)(i => u8(off + 11 + 3 * i) >> 4)
          sofV = Array.tabulate(nc)(i => u8(off + 11 + 3 * i) & 0x0f)
          sofTq = Array.tabulate(nc)(i => u8(off + 12 + 3 * i))
        }
        if (m == 0xda) {
          if (u8(off + 4) != nc) return None   // single interleaved scan
          if (sofIds == null) return None
          // scan components may list ids in any order: map to SOF index
          sosTd = new Array[Int](nc)
          sosTa = new Array[Int](nc)
          var i = 0
          while (i < nc) {
            val cid = u8(off + 5 + 2 * i)
            val ci = sofIds.indexOf(cid)
            if (ci < 0) return None
            sosTd(ci) = u8(off + 6 + 2 * i) >> 4
            sosTa(ci) = u8(off + 6 + 2 * i) & 0x0f
            i += 1
          }
          // baseline demands full spectral selection, no successive
          // approximation (Ss=0, Se=63, Ah=Al=0) — a stream carrying
          // progressive scan params under an SOF0 header is
          // non-conforming and would decode to garbage, not pixels
          if (u8(off + 5 + 2 * nc) != 0 || u8(off + 6 + 2 * nc) != 63 ||
            u8(off + 7 + 2 * nc) != 0) return None
          scanAt = segEnd
        } else off += 2 + len
      }
    }
    if (sofTq == null || sosTd == null || scanAt < 0) return None
    if (sofH.exists(h => h < 1 || h > 4) || sofV.exists(v => v < 1 || v > 4))
      return None
    if (nc == 1) {                      // non-interleaved single-comp
      sofH(0) = 1; sofV(0) = 1         // scan: sampling is irrelevant,
    }                                   // the block grid is the image's
    val compQuant = sofTq.map(id => quants.get(id).orNull)
    val compDc = sosTd.map(id => dcTables.get(id).orNull)
    val compAc = sosTa.map(id => acTables.get(id).orNull)
    if (compQuant.exists(_ == null) || compDc.exists(_ == null) ||
      compAc.exists(_ == null)) return None
    val hMax = sofH.max
    val vMax = sofV.max
    val mcusX = (meta.width + 8 * hMax - 1) / (8 * hMax)
    val mcusY = (meta.height + 8 * vMax - 1) / (8 * vMax)
    val planeW = Array.tabulate(nc)(c => mcusX * sofH(c) * 8)
    val planeH = Array.tabulate(nc)(c => mcusY * sofV(c) * 8)
    val planes = Array.tabulate(nc)(c => new Array[Int](planeW(c) * planeH(c)))
    val br = new JpegBitReader(bytes, scanAt)
    val prevDc = new Array[Int](nc)
    val coef = new Array[Int](64)
    val blk = new Array[Int](64)
    val tmp = new Array[Double](64)
    var rstIdx = 0
    var mcu = 0
    var my = 0
    while (my < mcusY) {
      var mx = 0
      while (mx < mcusX) {
        if (dri > 0 && mcu > 0 && mcu % dri == 0) {
          if (!br.restart(rstIdx)) return None
          rstIdx = (rstIdx + 1) & 7
          java.util.Arrays.fill(prevDc, 0)
        }
        var c = 0
        while (c < nc) {
          var bj = 0
          while (bj < sofV(c)) {
            var bi = 0
            while (bi < sofH(c)) {
              java.util.Arrays.fill(coef, 0)
              val cat = br.huffDecode(compDc(c))
              if (cat < 0 || cat > 15) return None
              var diff = 0
              if (cat > 0) {
                if (!br.fill(cat)) return None
                diff = jpegExtend(br.take(cat), cat)
              }
              val dc = prevDc(c) + diff
              prevDc(c) = dc
              coef(0) = dc * compQuant(c)(0)
              var k = 1
              var eob = false
              while (!eob && k < 64) {          // spec F.2.2.2 AC decode
                val rs = br.huffDecode(compAc(c))
                if (rs < 0) return None
                val run = rs >> 4
                val size = rs & 15
                if (size == 0) {
                  if (run == 15) k += 16        // ZRL: 16 zeros
                  else eob = true               // EOB
                } else {
                  k += run
                  if (k > 63) return None
                  if (!br.fill(size)) return None
                  coef(JpegZigZag(k)) =
                    jpegExtend(br.take(size), size) * compQuant(c)(k)
                  k += 1
                }
              }
              idct8x8(coef, tmp, blk)
              val px0 = (mx * sofH(c) + bi) * 8
              val py0 = (my * sofV(c) + bj) * 8
              var yy = 0
              while (yy < 8) {
                val rowBase = (py0 + yy) * planeW(c) + px0
                var xx = 0
                while (xx < 8) { planes(c)(rowBase + xx) = blk(yy * 8 + xx); xx += 1 }
                yy += 1
              }
              bi += 1
            }
            bj += 1
          }
          c += 1
        }
        mcu += 1
        mx += 1
      }
      my += 1
    }
    // crop to image dims + box-replication chroma upsample
    val outPlanes = Array.tabulate(nc) { c =>
      val o = new Array[Int](meta.width * meta.height)
      val hs = sofH(c)
      val vs = sofV(c)
      var y = 0
      while (y < meta.height) {
        val sy = y * vs / vMax
        val srcBase = sy * planeW(c)
        val dstBase = y * meta.width
        var x = 0
        while (x < meta.width) {
          o(dstBase + x) = planes(c)(srcBase + x * hs / hMax)
          x += 1
        }
        y += 1
      }
      o
    }
    Some((meta.width, meta.height, outPlanes))
  }


  /** Exif APP1 walk, metadata only: find the `Exif\0\0` APP1 segment
    * before the first scan, validate the TIFF header (II/MM + 42),
    * walk IFD0's 12-byte entries for the orientation SHORT. Both byte
    * orders honored. Any structural violation — truncated TIFF, bad
    * endian marker, an IFD running past the segment — reports
    * has_exif=false, a row property.
    */
  def parseJpegExif(id: Long, bytes: Array[Byte]): JpegExif = {
    def u8(i: Int): Int = bytes(i) & 0xff
    def u16be(i: Int): Int = (u8(i) << 8) | u8(i + 1)
    val none = JpegExif(id, -1, big_endian = false, has_exif = false)
    if (bytes.length < 4 || u8(0) != 0xff || u8(1) != 0xd8) return none
    var off = 2
    while (off + 4 <= bytes.length) {
      if (u8(off) != 0xff) return none
      while (off + 4 <= bytes.length && u8(off + 1) == 0xff) off += 1
      val m = u8(off + 1)
      if (m == 0xd8 || (m >= 0xd0 && m <= 0xd7) || m == 0x01) off += 2
      else if (m == 0xda || m == 0xd9) return none // scan: no EXIF seen
      else {
        val len = u16be(off + 2)
        if (len < 2 || off + 2 + len > bytes.length) return none
        if (m == 0xe1 && len >= 16 && u8(off + 4) == 'E' &&
          u8(off + 5) == 'x' && u8(off + 6) == 'i' &&
          u8(off + 7) == 'f' && u8(off + 8) == 0 && u8(off + 9) == 0) {
          val t0 = off + 10 // TIFF origin
          val tEnd = off + 2 + len
          if (t0 + 8 > tEnd) return none
          val big = u8(t0) == 'M' && u8(t0 + 1) == 'M'
          if (!big && !(u8(t0) == 'I' && u8(t0 + 1) == 'I')) return none
          def v16(i: Int): Int =
            if (big) (u8(i) << 8) | u8(i + 1) else u8(i) | (u8(i + 1) << 8)
          def v32(i: Int): Long =
            if (big) (v16(i).toLong << 16) | v16(i + 2)
            else (v16(i + 2).toLong << 16) | v16(i)
          if (v16(t0 + 2) != 42) return none
          val ifd = v32(t0 + 4)
          if (ifd < 8 || t0 + ifd + 2 > tEnd) return none
          val i0 = (t0 + ifd).toInt
          val cnt = v16(i0)
          var orient = -1
          var e = 0
          while (e < cnt) {
            val ep = i0 + 2 + e * 12
            if (ep + 12 > tEnd) return none
            if (v16(ep) == 0x0112 && v16(ep + 2) == 3 &&
              v32(ep + 4) == 1L) orient = v16(ep + 8)
            e += 1
          }
          return JpegExif(id, orient, big, has_exif = true)
        }
        off += 2 + len
      }
    }
    none
  }

  /** Partition-wise EXIF decode — the [[decodeJpeg]] contract. */
  def decodeJpegExif(blobs: Dataset[MediaBlob]): Dataset[JpegExif] = {
    import blobs.sparkSession.implicits._
    blobs.mapPartitions(_.map(b => parseJpegExif(b.media_id, b.content)))
  }

  /** Apply an EXIF orientation (1..8) to a decoded RGB plane — the
    * eight transforms of TIFF tag 0x0112 (identity, mirrors, 180,
    * transpose/transverse, 90/270 rotations; 5-8 swap the dims). A
    * pure pixel permutation: fidelity bounds against the upright
    * original are unchanged, which is exactly what q165 pins.
    */
  def orientRgb(width: Int, height: Int, rgb: Array[Byte],
                orientation: Int): (Int, Int, Array[Byte]) = {
    if (orientation <= 1 || orientation > 8) return (width, height, rgb)
    val swap = orientation >= 5
    val (w2, h2) = if (swap) (height, width) else (width, height)
    val out = new Array[Byte](rgb.length)
    var y2 = 0
    while (y2 < h2) {
      var x2 = 0
      while (x2 < w2) {
        var sx = 0; var sy = 0
        orientation match {
          case 2 => sx = width - 1 - x2; sy = y2
          case 3 => sx = width - 1 - x2; sy = height - 1 - y2
          case 4 => sx = x2; sy = height - 1 - y2
          case 5 => sx = y2; sy = x2
          case 6 => sx = y2; sy = height - 1 - x2  // 90 deg CW
          case 7 => sx = width - 1 - y2; sy = height - 1 - x2
          case _ => sx = width - 1 - y2; sy = x2   // 8: 270 deg CW
        }
        val s = (sy * width + sx) * 3
        val d = (y2 * w2 + x2) * 3
        out(d) = rgb(s); out(d + 1) = rgb(s + 1); out(d + 2) = rgb(s + 2)
        x2 += 1
      }
      y2 += 1
    }
    (w2, h2, out)
  }

  /** [[decodeJpegRgb]] + EXIF auto-rotation: the pixels a training
    * pipeline should actually ingest (a camera JPEG with orientation
    * 6 stores its pixels sideways and relies on the tag). Streams
    * without EXIF, or with orientation 1, decode unchanged.
    */
  def decodeJpegRgbOriented(bytes: Array[Byte])
      : Option[(Int, Int, Array[Byte])] =
    decodeJpegRgb(bytes).map { case (w, h, rgb) =>
      val ex = parseJpegExif(0L, bytes)
      if (ex.has_exif && ex.orientation >= 2 && ex.orientation <= 8)
        orientRgb(w, h, rgb, ex.orientation)
      else (w, h, rgb)
    }

  /** Insert a genuine Exif APP1 (single-entry IFD0 carrying the
    * orientation SHORT, either byte order) right after SOI. Fixture
    * writer for [[parseJpegExif]]; any EXIF reader accepts the output.
    */
  def withExifOrientation(jpeg: Array[Byte], orientation: Int,
                          bigEndian: Boolean): Array[Byte] = {
    require(jpeg.length >= 2 && (jpeg(0) & 0xff) == 0xff &&
      (jpeg(1) & 0xff) == 0xd8, "not a JPEG")
    require(orientation >= 1 && orientation <= 8)
    val tiff = java.nio.ByteBuffer.allocate(26)
      .order(if (bigEndian) java.nio.ByteOrder.BIG_ENDIAN
      else java.nio.ByteOrder.LITTLE_ENDIAN)
    tiff.put((if (bigEndian) "MM" else "II").getBytes("US-ASCII"))
    tiff.putShort(42).putInt(8)
    tiff.putShort(1) // one IFD0 entry
    tiff.putShort(0x0112.toShort).putShort(3).putInt(1)
    tiff.putShort(orientation.toShort).putShort(0) // left-justified
    tiff.putInt(0)   // no next IFD
    val app1len = 2 + 6 + 26
    val out = java.nio.ByteBuffer.allocate(jpeg.length + 2 + app1len)
    out.put(jpeg, 0, 2)
    out.put(0xff.toByte).put(0xe1.toByte).putShort(app1len.toShort)
    out.put("Exif".getBytes("US-ASCII")).put(0.toByte).put(0.toByte)
    out.put(tiff.array())
    out.put(jpeg, 2, jpeg.length - 2)
    out.array()
  }

  /** First SOF marker byte (0xc0 baseline, 0xc2 progressive, ...) or
    * -1 — the frame-type router for [[decodeJpegPixels]].
    */
  private def jpegFrameMarker(bytes: Array[Byte]): Int = {
    def u8(i: Int): Int = bytes(i) & 0xff
    def u16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
    var off = 2
    while (off + 4 <= bytes.length) {
      if (u8(off) != 0xff) return -1
      while (off + 4 <= bytes.length && u8(off + 1) == 0xff) off += 1
      val m = u8(off + 1)
      if (m == 0xd8 || (m >= 0xd0 && m <= 0xd7) || m == 0x01) off += 2
      else if ((m >= 0xc0 && m <= 0xcf) && m != 0xc4 && m != 0xc8 &&
        m != 0xcc) return m
      else if (m == 0xda || m == 0xd9) return -1
      else off += 2 + u16(off + 2)
    }
    -1
  }

  /** FULL pixel decode of a PROGRESSIVE (SOF2) JPEG — spec Annex G:
    * the image's DCT coefficients arrive over MULTIPLE scans, each
    * carrying a spectral band (Ss..Se) at a bit precision (Ah, Al):
    * DC-first scans Huffman-decode predictors (value << Al), DC
    * refinements append one bit per block, AC-first scans decode a
    * band with EOB-RUN block skips (G.1.2.2), and AC refinements run
    * the correction-bit algorithm (G.1.2.3: every nonzero-history
    * coefficient crossed consumes a bit; zero-history positions count
    * the run and receive ±(1<<Al)). Coefficients accumulate per
    * component across scans; dequantization + IDCT + chroma upsample
    * run ONCE at EOI — the same tail as the baseline decoder.
    * Restart intervals reset predictors AND the EOB run. ~10% of real
    * web JPEGs behind the reference's img-src path
    * (extract_utils.py:50-59) are progressive.
    *
    * Structural violations (a second SOF, an AC scan listing multiple
    * components, a band past 63, truncation mid-scan) return None —
    * the row-property contract. Interleaved scans are DC-only per
    * spec; non-interleaved scans walk the component's own ceil-grid
    * while storage uses the padded MCU grid stride, so both
    * addressing modes hit the same blocks.
    */
  private def decodeJpegPixelsProgressive(bytes: Array[Byte],
                                          meta: JpegMeta)
      : Option[(Int, Int, Array[Array[Int]])] = {
    def u8(i: Int): Int = bytes(i) & 0xff
    def u16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
    val nc = meta.components
    val quants = mutable.Map.empty[Int, Array[Int]]
    val dcTables = mutable.Map.empty[Int, JpegHuff]
    val acTables = mutable.Map.empty[Int, JpegHuff]
    var sofIds: Array[Int] = null
    var sofH: Array[Int] = null
    var sofV: Array[Int] = null
    var sofTq: Array[Int] = null
    var dri = 0
    var hMax = 0; var vMax = 0
    var mcusX = 0; var mcusY = 0
    var bw: Array[Int] = null  // padded (MCU-grid) block width/height
    var bh: Array[Int] = null
    var bwN: Array[Int] = null // non-interleaved ceil-grid dims
    var bhN: Array[Int] = null
    var coefs: Array[Array[Int]] = null

    // one scan's entropy decode; returns false on corruption
    def runScan(ns: Int, scanComp: Array[Int], scanTd: Array[Int],
                scanTa: Array[Int], ss: Int, se: Int, ah: Int, al: Int,
                br: JpegBitReader): Boolean = {
      val prevDc = new Array[Int](nc)
      var eobrun = 0
      var rstIdx = 0
      val dcT = Array.tabulate(ns)(i => dcTables.get(scanTd(i)).orNull)
      val acT = Array.tabulate(ns)(i => acTables.get(scanTa(i)).orNull)
      if (ss == 0 && ah == 0 && dcT.exists(_ == null)) return false
      if (ss > 0 && acT(0) == null) return false

      def dcFirst(c: Int, base: Int, t: JpegHuff): Boolean = {
        val cat = br.huffDecode(t)
        if (cat < 0 || cat > 15) return false
        var diff = 0
        if (cat > 0) {
          if (!br.fill(cat)) return false
          diff = jpegExtend(br.take(cat), cat)
        }
        prevDc(c) += diff
        coefs(c)(base) = prevDc(c) << al
        true
      }
      def dcRefine(c: Int, base: Int): Boolean = {
        if (!br.fill(1)) return false
        if (br.take(1) == 1) coefs(c)(base) |= (1 << al)
        true
      }
      def acFirst(c: Int, base: Int, t: JpegHuff): Boolean = {
        if (eobrun > 0) { eobrun -= 1; return true }
        var k = ss
        while (k <= se) {
          val rs = br.huffDecode(t)
          if (rs < 0) return false
          val r = rs >> 4
          val s = rs & 15
          if (s == 0) {
            if (r == 15) k += 16 // ZRL
            else {
              eobrun = (1 << r) - 1
              if (r > 0) {
                if (!br.fill(r)) return false
                eobrun += br.take(r)
              }
              return true // EOB ends this block; run covers the NEXT
            }
          } else {
            k += r
            if (k > se) return false
            if (!br.fill(s)) return false
            coefs(c)(base + JpegZigZag(k)) =
              jpegExtend(br.take(s), s) << al
            k += 1
          }
        }
        true
      }
      def acRefine(c: Int, base: Int, t: JpegHuff): Boolean = {
        val p1 = 1 << al
        val m1 = -1 << al
        def correct(z: Int): Boolean = {
          if (!br.fill(1)) return false
          if (br.take(1) == 1 && (coefs(c)(z) & p1) == 0)
            coefs(c)(z) += (if (coefs(c)(z) >= 0) p1 else m1)
          true
        }
        var k = ss
        if (eobrun == 0) {
          var entered = false // entered the EOB tail
          while (k <= se && !entered) {
            val rs = br.huffDecode(t)
            if (rs < 0) return false
            var r = rs >> 4
            val s = rs & 15
            var value = 0
            if (s == 0) {
              if (r != 15) {
                eobrun = 1 << r
                if (r > 0) {
                  if (!br.fill(r)) return false
                  eobrun += br.take(r)
                }
                entered = true
              }
              // r == 15: ZRL — skip 16 zero-history positions below
            } else {
              if (s != 1) return false
              if (!br.fill(1)) return false
              value = if (br.take(1) == 1) p1 else m1
            }
            if (!entered) {
              var placed = false
              while (k <= se && !placed) {
                val z = base + JpegZigZag(k)
                if (coefs(c)(z) != 0) {
                  if (!correct(z)) return false
                  k += 1
                } else if (r == 0) {
                  if (value != 0) coefs(c)(z) = value
                  k += 1
                  placed = true
                } else { r -= 1; k += 1 }
              }
              // value != 0 with no zero slot left: corrupt but
              // recoverable — the while exits on k > se either way
            }
          }
        }
        if (eobrun > 0) {
          while (k <= se) {
            val z = base + JpegZigZag(k)
            if (coefs(c)(z) != 0 && !correct(z)) return false
            k += 1
          }
          eobrun -= 1
        }
        true
      }
      def oneBlock(si: Int, c: Int, base: Int): Boolean =
        if (ss == 0) {
          if (ah == 0) dcFirst(c, base, dcT(si)) else dcRefine(c, base)
        } else {
          if (ah == 0) acFirst(c, base, acT(si))
          else acRefine(c, base, acT(si))
        }
      def atRestart(unit: Int): Boolean = {
        if (dri > 0 && unit > 0 && unit % dri == 0) {
          if (!br.restart(rstIdx)) return false
          rstIdx = (rstIdx + 1) & 7
          java.util.Arrays.fill(prevDc, 0)
          eobrun = 0
        }
        true
      }

      if (ns > 1) { // interleaved: MCU order (DC scans only)
        var mcu = 0
        var my = 0
        while (my < mcusY) {
          var mx = 0
          while (mx < mcusX) {
            if (!atRestart(mcu)) return false
            var si = 0
            while (si < ns) {
              val c = scanComp(si)
              var bj = 0
              while (bj < sofV(c)) {
                var bi = 0
                while (bi < sofH(c)) {
                  val base = ((my * sofV(c) + bj) * bw(c) +
                    mx * sofH(c) + bi) * 64
                  if (!oneBlock(si, c, base)) return false
                  bi += 1
                }
                bj += 1
              }
              si += 1
            }
            mcu += 1
            mx += 1
          }
          my += 1
        }
      } else { // non-interleaved: the component's own ceil-grid
        val c = scanComp(0)
        var blk = 0
        var by = 0
        while (by < bhN(c)) {
          var bx = 0
          while (bx < bwN(c)) {
            if (!atRestart(blk)) return false
            if (!oneBlock(0, c, (by * bw(c) + bx) * 64)) return false
            blk += 1
            bx += 1
          }
          by += 1
        }
      }
      true
    }

    var off = 2
    var done = false
    while (!done && off + 2 <= bytes.length) {
      if (u8(off) != 0xff) return None
      while (off + 3 < bytes.length && u8(off + 1) == 0xff) off += 1
      val m = u8(off + 1)
      if (m == 0xd8 || (m >= 0xd0 && m <= 0xd7) || m == 0x01) off += 2
      else if (m == 0xd9) done = true
      else {
        if (off + 4 > bytes.length) return None
        val len = u16(off + 2)
        val segEnd = off + 2 + len
        if (len < 2 || segEnd > bytes.length) return None
        var next = segEnd
        if (m == 0xdb) {
          var p0 = off + 4
          while (p0 + 1 <= segEnd) {
            val pq = u8(p0) >> 4
            val size = 1 + (if (pq == 1) 128 else 64)
            if (p0 + size > segEnd) p0 = segEnd
            else {
              if (pq == 0)
                quants(u8(p0) & 0x0f) =
                  Array.tabulate(64)(i => u8(p0 + 1 + i))
              else
                quants(u8(p0) & 0x0f) =
                  Array.tabulate(64)(i => u16(p0 + 1 + 2 * i))
              p0 += size
            }
          }
        } else if (m == 0xc4) {
          var p0 = off + 4
          while (p0 + 17 <= segEnd) {
            val cls = u8(p0) >> 4
            val id = u8(p0) & 0x0f
            val bits = Array.tabulate(16)(i => u8(p0 + 1 + i))
            val total = bits.sum
            if (p0 + 17 + total > segEnd) p0 = segEnd
            else {
              val vals = Array.tabulate(total)(i => u8(p0 + 17 + i))
              if (cls == 0) dcTables(id) = buildJpegHuff(bits, vals)
              else if (cls == 1) acTables(id) = buildJpegHuff(bits, vals)
              p0 += 17 + total
            }
          }
        } else if (m == 0xdd) {
          if (len >= 4) dri = u16(off + 4)
        } else if (m == 0xc2) {
          if (sofTq != null) return None // second frame
          sofIds = Array.tabulate(nc)(i => u8(off + 10 + 3 * i))
          sofH = Array.tabulate(nc)(i => u8(off + 11 + 3 * i) >> 4)
          sofV = Array.tabulate(nc)(i => u8(off + 11 + 3 * i) & 0x0f)
          sofTq = Array.tabulate(nc)(i => u8(off + 12 + 3 * i))
          if (nc == 1) { sofH(0) = 1; sofV(0) = 1 }
          if (sofH.exists(x => x < 1 || x > 4) ||
            sofV.exists(x => x < 1 || x > 4)) return None
          hMax = sofH.max; vMax = sofV.max
          mcusX = (meta.width + 8 * hMax - 1) / (8 * hMax)
          mcusY = (meta.height + 8 * vMax - 1) / (8 * vMax)
          bw = Array.tabulate(nc)(c => mcusX * sofH(c))
          bh = Array.tabulate(nc)(c => mcusY * sofV(c))
          bwN = Array.tabulate(nc)(c =>
            ((meta.width * sofH(c) + hMax - 1) / hMax + 7) / 8)
          bhN = Array.tabulate(nc)(c =>
            ((meta.height * sofV(c) + vMax - 1) / vMax + 7) / 8)
          coefs = Array.tabulate(nc)(c =>
            new Array[Int](bw(c) * bh(c) * 64))
        } else if ((m >= 0xc0 && m <= 0xcf) && m != 0xc4) {
          return None // a non-SOF2 frame reached this decoder
        } else if (m == 0xda) {
          if (sofTq == null) return None
          val ns = u8(off + 4)
          if (ns < 1 || ns > nc || len != 6 + 2 * ns) return None
          val scanComp = new Array[Int](ns)
          val scanTd = new Array[Int](ns)
          val scanTa = new Array[Int](ns)
          var i = 0
          while (i < ns) {
            val ci = sofIds.indexOf(u8(off + 5 + 2 * i))
            if (ci < 0) return None
            scanComp(i) = ci
            scanTd(i) = u8(off + 6 + 2 * i) >> 4
            scanTa(i) = u8(off + 6 + 2 * i) & 0x0f
            i += 1
          }
          val ss = u8(off + 5 + 2 * ns)
          val se = u8(off + 6 + 2 * ns)
          val ah = u8(off + 7 + 2 * ns) >> 4
          val al = u8(off + 7 + 2 * ns) & 0x0f
          if (ss == 0) { if (se != 0) return None }
          else if (ns != 1 || se < ss || se > 63) return None
          if (al > 13 || ah > 13) return None
          val br = new JpegBitReader(bytes, segEnd)
          if (!runScan(ns, scanComp, scanTd, scanTa, ss, se, ah, al,
            br)) return None
          next = br.p
        }
        off = next
      }
    }
    if (!done || coefs == null) return None
    val compQuant = sofTq.map(tq => quants.get(tq).orNull)
    if (compQuant.exists(_ == null)) return None
    // dequant + IDCT once, then the baseline tail: crop + upsample
    val planeW = Array.tabulate(nc)(c => bw(c) * 8)
    val planes = Array.tabulate(nc)(c =>
      new Array[Int](bw(c) * 8 * bh(c) * 8))
    val coefBuf = new Array[Int](64)
    val blk = new Array[Int](64)
    val tmp = new Array[Double](64)
    var c = 0
    while (c < nc) {
      var by = 0
      while (by < bh(c)) {
        var bx = 0
        while (bx < bw(c)) {
          val base = (by * bw(c) + bx) * 64
          var k = 0
          while (k < 64) {
            val z = JpegZigZag(k)
            coefBuf(z) = coefs(c)(base + z) * compQuant(c)(k)
            k += 1
          }
          idct8x8(coefBuf, tmp, blk)
          var yy = 0
          while (yy < 8) {
            val rowBase = (by * 8 + yy) * planeW(c) + bx * 8
            var xx = 0
            while (xx < 8) {
              planes(c)(rowBase + xx) = blk(yy * 8 + xx); xx += 1
            }
            yy += 1
          }
          bx += 1
        }
        by += 1
      }
      c += 1
    }
    val outPlanes = Array.tabulate(nc) { cc =>
      val o = new Array[Int](meta.width * meta.height)
      val hs = sofH(cc)
      val vs = sofV(cc)
      var y = 0
      while (y < meta.height) {
        val srcBase = (y * vs / vMax) * planeW(cc)
        val dstBase = y * meta.width
        var x = 0
        while (x < meta.width) {
          o(dstBase + x) = planes(cc)(srcBase + x * hs / hMax)
          x += 1
        }
        y += 1
      }
      o
    }
    Some((meta.width, meta.height, outPlanes))
  }

  /** [[decodeJpegPixels]] + the JFIF color transform: grayscale
    * replicates, YCbCr converts (CCIR 601 full-range, the JFIF
    * convention), 4-component (Adobe CMYK-shaped) streams return None
    * (pixels are decodable via [[decodeJpegPixels]], but there is no
    * ICC-free RGB contract for them). Output layout matches
    * [[decodePngPixels]]: 3 bytes/pixel RGB, row-major.
    */
  def decodeJpegRgb(bytes: Array[Byte]): Option[(Int, Int, Array[Byte])] =
    decodeJpegPixels(bytes).flatMap { case (w, h, planes) =>
      val n = w * h
      def clamp(v: Int): Byte =
        (if (v < 0) 0 else if (v > 255) 255 else v).toByte
      planes.length match {
        case 1 =>
          val rgb = new Array[Byte](n * 3)
          var i = 0
          while (i < n) {
            val g = planes(0)(i).toByte
            rgb(i * 3) = g; rgb(i * 3 + 1) = g; rgb(i * 3 + 2) = g
            i += 1
          }
          Some((w, h, rgb))
        case 3 =>
          val rgb = new Array[Byte](n * 3)
          var i = 0
          while (i < n) {
            val y = planes(0)(i)
            val cb = planes(1)(i) - 128
            val cr = planes(2)(i) - 128
            rgb(i * 3) = clamp(Math.round(y + 1.402 * cr).toInt)
            rgb(i * 3 + 1) =
              clamp(Math.round(y - 0.344136 * cb - 0.714136 * cr).toInt)
            rgb(i * 3 + 2) = clamp(Math.round(y + 1.772 * cb).toInt)
            i += 1
          }
          Some((w, h, rgb))
        case _ => None
      }
    }

  /** Encode arbitrary PIXELS as a real baseline JPEG — the AC-capable
    * generalization of [[jpegEncode]]'s flat-block writer: per 8×8
    * block (edge-replicated padding), forward DCT, Annex-K
    * quantization, and full run/size AC Huffman coding (ZRL + EOB)
    * with the Annex-K tables. One component (grayscale), quant table
    * 0 = Annex K luminance. `gray` is row-major w·h values 0-255.
    */
  def jpegEncodeGrayPixels(width: Int, height: Int, gray: Array[Int],
                           restartInterval: Int = 0): Array[Byte] = {
    require(gray.length == width * height,
      s"need ${width * height} pixels, got ${gray.length}")
    jpegEncodePlanes(width, height, Array(gray),
      Array(JpegQuantLum), Array(0), restartInterval)
  }

  /** Color pixel encode: RGB → YCbCr (JFIF CCIR 601 full-range),
    * 4:4:4 (no subsampling — [[decodeJpegPixels]] handles foreign
    * subsampled input; our writer keeps every plane full-resolution),
    * Y on the Annex-K luminance quant table (id 0), chroma on the
    * chrominance table (id 1). `rgb` is [[decodePngPixels]]-layout:
    * 3 bytes/pixel row-major.
    */
  def jpegEncodeRgbPixels(width: Int, height: Int, rgb: Array[Byte],
                          restartInterval: Int = 0): Array[Byte] = {
    val (y, cb, cr) = rgbToYcbcr(width, height, rgb)
    jpegEncodeYcbcrPixels(width, height, y, cb, cr, restartInterval)
  }

  /** JFIF CCIR 601 full-range RGB → YCbCr planes. */
  private def rgbToYcbcr(width: Int, height: Int, rgb: Array[Byte])
      : (Array[Int], Array[Int], Array[Int]) = {
    require(rgb.length == width * height * 3,
      s"need ${width * height * 3} bytes, got ${rgb.length}")
    val n = width * height
    val y = new Array[Int](n)
    val cb = new Array[Int](n)
    val cr = new Array[Int](n)
    var i = 0
    while (i < n) {
      val r = rgb(i * 3) & 0xff
      val g = rgb(i * 3 + 1) & 0xff
      val b = rgb(i * 3 + 2) & 0xff
      def cl(v: Long): Int =
        (if (v < 0) 0 else if (v > 255) 255 else v).toInt
      y(i) = cl(Math.round(0.299 * r + 0.587 * g + 0.114 * b))
      cb(i) = cl(Math.round(-0.168736 * r - 0.331264 * g + 0.5 * b + 128))
      cr(i) = cl(Math.round(0.5 * r - 0.418688 * g - 0.081312 * b + 128))
      i += 1
    }
    (y, cb, cr)
  }

  /** 4:2:0 subsampled color encode — the layout real web encoders
    * default to (half-resolution chroma = half the chroma data of
    * 4:4:4, invisible on photographic content): Y at full resolution
    * with 2×2 sampling, Cb/Cr box-mean-downsampled to
    * ceil(w/2)×ceil(h/2) at 1×1. [[decodeJpegPixels]] reverses it
    * with box-replication upsampling; spec pins the round-trip and
    * ImageIO agreement, and that the stream is smaller than the
    * 4:4:4 encoding of the same pixels.
    */
  def jpegEncodeRgb420(width: Int, height: Int, rgb: Array[Byte],
                       restartInterval: Int = 0): Array[Byte] = {
    val (y, cb, cr) = rgbToYcbcr(width, height, rgb)
    jpegEncodeYcbcr420(width, height, y, cb, cr, restartInterval)
  }

  /** [[jpegEncodeRgb420]] over full-resolution YCbCr planes (chroma
    * downsampled here) — lets [[resizeJpeg]] preserve a subsampled
    * input's layout without an RGB detour.
    */
  def jpegEncodeYcbcr420(width: Int, height: Int, y: Array[Int],
                         cb: Array[Int], cr: Array[Int],
                         restartInterval: Int = 0): Array[Byte] = {
    val cw = (width + 1) / 2
    val ch = (height + 1) / 2
    def down(p: Array[Int]): Array[Int] = {
      val o = new Array[Int](cw * ch)
      var yy = 0
      while (yy < ch) {
        var xx = 0
        while (xx < cw) {
          var sum = 0
          var cnt = 0
          var dy = 0
          while (dy < 2) {
            val sy = yy * 2 + dy
            var dx = 0
            while (dx < 2) {
              val sx = xx * 2 + dx
              if (sx < width && sy < height) {
                sum += p(sy * width + sx); cnt += 1
              }
              dx += 1
            }
            dy += 1
          }
          o(yy * cw + xx) = (sum + cnt / 2) / cnt
          xx += 1
        }
        yy += 1
      }
      o
    }
    require(y.length == width * height && cb.length == y.length &&
      cr.length == y.length, s"need ${width * height} pixels per plane")
    jpegEncodePlanesSampled(width, height, Array(y, down(cb), down(cr)),
      Array((width, height), (cw, ch), (cw, ch)),
      Array((2, 2), (1, 1), (1, 1)),
      Array(JpegQuantLum, JpegQuantChrom), Array(0, 1, 1),
      restartInterval)
  }

  /** YCbCr-plane pixel encode (4:4:4). Exposed separately so
    * [[resizeJpeg]] can resample decoded planes without an RGB
    * detour's extra rounding.
    */
  def jpegEncodeYcbcrPixels(width: Int, height: Int, y: Array[Int],
                            cb: Array[Int], cr: Array[Int],
                            restartInterval: Int = 0): Array[Byte] = {
    require(y.length == width * height && cb.length == y.length &&
      cr.length == y.length, s"need ${width * height} pixels per plane")
    jpegEncodePlanes(width, height, Array(y, cb, cr),
      Array(JpegQuantLum, JpegQuantChrom), Array(0, 1, 1),
      restartInterval)
  }

  /** Shared pixel-plane baseline writer: headers (SOI/APP0/DQTs/SOF0/
    * DHT/SOS), then interleaved 1×1-sampled MCUs — fdct → quantize →
    * DC-diff + run/size AC Huffman per block. All components share the
    * Annex-K luminance Huffman pair (legal: tables and components are
    * independently numbered); quantization varies per component via
    * `tqOf` into `quantTables`. `restartInterval` > 0 writes a DRI
    * segment and emits RSTn markers (byte-aligned, predictors reset)
    * every that-many MCUs — spec F.2.1.3.1, the resync machinery real
    * encoders use on large images; [[decodeJpegPixels]] consumes it.
    * All components 1×1 (4:4:4 / grayscale); the sampled writer
    * below generalizes.
    */
  private def jpegEncodePlanes(width: Int, height: Int,
                               planes: Array[Array[Int]],
                               quantTables: Array[Array[Int]],
                               tqOf: Array[Int],
                               restartInterval: Int = 0): Array[Byte] =
    jpegEncodePlanesSampled(width, height, planes,
      Array.fill(planes.length)((width, height)),
      Array.fill(planes.length)((1, 1)), quantTables, tqOf,
      restartInterval)

  /** Fully general interleaved baseline writer: per-component
    * sampling factors (hc, vc) and plane dimensions — 4:2:0 passes
    * Y at (2,2)/full-res and chroma at (1,1)/half-res, exactly the
    * layout every real web encoder emits. MCUs are hMax·8 × vMax·8
    * pixel tiles; each component contributes hc×vc blocks per MCU
    * from its own (possibly downsampled) plane, edge-replicated at
    * the borders.
    */
  private def jpegEncodePlanesSampled(width: Int, height: Int,
                                      planes: Array[Array[Int]],
                                      planeDims: Array[(Int, Int)],
                                      sampling: Array[(Int, Int)],
                                      quantTables: Array[Array[Int]],
                                      tqOf: Array[Int],
                                      restartInterval: Int = 0)
      : Array[Byte] = {
    require(width > 0 && height > 0 && width < 65536 && height < 65536)
    val nc = planes.length
    val out = new java.io.ByteArrayOutputStream(1024 + width * height)
    def u16(v: Int): Unit = { out.write(v >>> 8); out.write(v & 0xff) }
    def marker(m: Int): Unit = { out.write(0xff); out.write(m) }
    marker(0xd8)
    marker(0xe0); u16(16)
    out.write("JFIF".getBytes("US-ASCII")); out.write(0)
    out.write(1); out.write(1)
    out.write(0); u16(1); u16(1); out.write(0); out.write(0)
    quantTables.zipWithIndex.foreach { case (q, id) =>  // DQT in zigzag
      marker(0xdb); u16(67); out.write(id)
      var k = 0
      while (k < 64) { out.write(q(JpegZigZag(k))); k += 1 }
    }
    marker(0xc0); u16(8 + 3 * nc)
    out.write(8); u16(height); u16(width)
    out.write(nc)
    var ci = 0
    while (ci < nc) {
      out.write(ci + 1)
      out.write((sampling(ci)._1 << 4) | sampling(ci)._2)
      out.write(tqOf(ci))
      ci += 1
    }
    def dht(cls: Int, bits: Array[Int], vals: Array[Byte]): Unit = {
      marker(0xc4); u16(2 + 1 + 16 + vals.length)
      out.write(cls << 4)
      bits.foreach(out.write)
      out.write(vals, 0, vals.length)
    }
    dht(0, JpegDcBits, JpegDcVals)
    dht(1, JpegAcBits, JpegAcVals)
    if (restartInterval > 0) { marker(0xdd); u16(4); u16(restartInterval) }
    marker(0xda); u16(6 + 2 * nc)
    out.write(nc)
    ci = 0
    while (ci < nc) { out.write(ci + 1); out.write(0x00); ci += 1 }
    out.write(0); out.write(63); out.write(0)
    val dcCodes = canonicalCodes(JpegDcBits, JpegDcVals)
    val acCodes = canonicalCodes(JpegAcBits, JpegAcVals)
    var acc = 0L
    var nbits = 0
    def put(code: Int, len: Int): Unit = {
      acc = (acc << len) | (code & ((1L << len) - 1)); nbits += len
      while (nbits >= 8) {
        val b = ((acc >>> (nbits - 8)) & 0xff).toInt
        out.write(b); if (b == 0xff) out.write(0x00)
        nbits -= 8
      }
    }
    def putMag(v: Int): Int = {          // category; writes code+bits
      var cat = 0
      var mag = Math.abs(v)
      while (mag != 0) { cat += 1; mag >>= 1 }
      cat
    }
    val hMax = sampling.map(_._1).max
    val vMax = sampling.map(_._2).max
    val mcusX = (width + 8 * hMax - 1) / (8 * hMax)
    val mcusY = (height + 8 * vMax - 1) / (8 * vMax)
    val px = new Array[Int](64)
    val tmp = new Array[Double](64)
    val fcoef = new Array[Double](64)
    val zq = new Array[Int](64)
    val prevDc = new Array[Int](nc)
    var rstIdx = 0
    var myi = 0
    while (myi < mcusY) {
      var mxi = 0
      while (mxi < mcusX) {
        val mcuIdx = myi * mcusX + mxi
        if (restartInterval > 0 && mcuIdx > 0 &&
          mcuIdx % restartInterval == 0) {
          if (nbits > 0) put((1 << (8 - nbits)) - 1, 8 - nbits)
          marker(0xd0 | rstIdx)
          rstIdx = (rstIdx + 1) & 7
          java.util.Arrays.fill(prevDc, 0)
        }
        var c = 0
        while (c < nc) {
          val plane = planes(c)
          val (cw, ch) = planeDims(c)
          val (hc, vc) = sampling(c)
          val q = quantTables(tqOf(c))
          var bj = 0
          while (bj < vc) {
           var bi = 0
           while (bi < hc) {
          val px0 = (mxi * hc + bi) * 8
          val py0 = (myi * vc + bj) * 8
          var yy = 0
          while (yy < 8) {                 // edge-replicated 8×8 fetch
            val sy = math.min(ch - 1, py0 + yy)
            var xx = 0
            while (xx < 8) {
              val sx = math.min(cw - 1, px0 + xx)
              px(yy * 8 + xx) = plane(sy * cw + sx) & 0xff
              xx += 1
            }
            yy += 1
          }
          fdct8x8(px, tmp, fcoef)
          var k = 0
          while (k < 64) {                 // quantize into zigzag order
            zq(k) = Math.round(fcoef(JpegZigZag(k)) / q(JpegZigZag(k))).toInt
            k += 1
          }
          var diff = zq(0) - prevDc(c)
          prevDc(c) = zq(0)
          val dcCat = putMag(diff)
          val (dcCode, dcLen) = dcCodes(dcCat)
          put(dcCode, dcLen)
          if (dcCat > 0) {
            if (diff < 0) diff += (1 << dcCat) - 1
            put(diff, dcCat)
          }
          var run = 0
          k = 1
          while (k < 64) {
            val v = zq(k)
            if (v == 0) run += 1
            else {
              while (run > 15) {
                val (z, zl) = acCodes(0xf0)  // ZRL
                put(z, zl); run -= 16
              }
              val cat = putMag(v)
              val (ac, al) = acCodes((run << 4) | cat)
              put(ac, al)
              var bitsV = v
              if (v < 0) bitsV += (1 << cat) - 1
              put(bitsV, cat)
              run = 0
            }
            k += 1
          }
          if (run > 0) { val (e, el) = acCodes(0x00); put(e, el) }  // EOB
           bi += 1
           }
           bj += 1
          }
          c += 1
        }
        mxi += 1
      }
      myi += 1
    }
    if (nbits > 0) put((1 << (8 - nbits)) - 1, 8 - nbits)
    marker(0xd9)
    out.toByteArray
  }

  /** Deterministic id-seeded PHOTO-LIKE color JPEG: smooth gradients
    * plus a low-frequency sine so the encoded stream carries REAL AC
    * coefficients — the fixture for the AC decode path. StrictMath
    * keeps the pixels bit-identical across executors.
    */
  def syntheticJpegPhoto(id: Long, width: Int, height: Int): MediaBlob =
    MediaBlob(id, "image",
      jpegEncodeRgbPixels(width, height, syntheticPhotoRgb(id, width, height)))

  /** The raw pixels behind [[syntheticJpegPhoto]], exposed so fidelity
    * checks can replay the generator and measure decode error against
    * ground truth.
    */
  def syntheticPhotoRgb(id: Long, width: Int, height: Int): Array[Byte] = {
    val rgb = new Array[Byte](width * height * 3)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        val i = (y * width + x) * 3
        rgb(i) = (x * 255 / math.max(1, width - 1)).toByte
        rgb(i + 1) = (y * 255 / math.max(1, height - 1)).toByte
        rgb(i + 2) = (128 + 90 * StrictMath.sin(
          (x + y) / 11.0 + (id % 17) / 3.0)).toInt.toByte
        x += 1
      }
      y += 1
    }
    rgb
  }

  /** First SOF0 component's sampling byte ((h<<4)|v), or -1 — how
    * [[resizeJpeg]] learns whether its input was chroma-subsampled so
    * the re-encode can preserve the layout class.
    */
  private def jpegLumaSampling(bytes: Array[Byte]): Int = {
    def u8(i: Int): Int = bytes(i) & 0xff
    def u16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
    if (bytes.length < 4 || u8(0) != 0xff || u8(1) != 0xd8) return -1
    var off = 2
    while (off + 4 <= bytes.length) {
      while (off + 4 <= bytes.length && u8(off + 1) == 0xff) off += 1
      val m = u8(off + 1)
      if (m == 0xd8 || (m >= 0xd0 && m <= 0xd7) || m == 0x01) off += 2
      else {
        val len = u16(off + 2)
        if (len < 2 || off + 2 + len > bytes.length) return -1
        if (m == 0xc0) return if (len >= 9) u8(off + 11) else -1
        if (m == 0xda) return -1
        off += 2 + len
      }
    }
    -1
  }

  /** Byte-level JPEG resize — [[resizePng]]'s contract for this codec:
    * full AC-capable pixel decode ([[decodeJpegPixels]]), never
    * upscale (within-budget images return their ORIGINAL bytes
    * untouched), exact integer target dims (`w' = max(1,
    * w·maxEdge/max(w,h))` in longs), nearest-neighbor floor-mapping
    * resample of each YCbCr/gray plane (no RGB detour — resampling
    * commutes with the color transform under nearest-neighbor), then
    * re-encode through the Annex-K pixel writer, PRESERVING the
    * input's layout class (grayscale stays 1-component; a 4:2:0
    * input re-encodes 4:2:0; everything else 4:4:4). Undecodable
    * streams (progressive, truncated, CMYK-shaped) return None.
    */
  def resizeJpeg(bytes: Array[Byte], maxEdge: Int)
      : Option[(Int, Int, Array[Byte])] = {
    require(maxEdge >= 1)
    decodeJpegPixels(bytes).flatMap { case (w, h, planes) =>
      if (planes.length != 1 && planes.length != 3) None
      else {
        val m = math.max(w, h)
        if (m <= maxEdge) Some((w, h, bytes))
        else {
          val w2 = math.max(1L, w.toLong * maxEdge / m).toInt
          val h2 = math.max(1L, h.toLong * maxEdge / m).toInt
          val sampled = planes.map { p =>
            val o = new Array[Int](w2 * h2)
            var y = 0
            while (y < h2) {
              val sy = (y.toLong * h / h2).toInt
              var x = 0
              while (x < w2) {
                o(y * w2 + x) = p(sy * w + (x.toLong * w / w2).toInt)
                x += 1
              }
              y += 1
            }
            o
          }
          val enc =
            if (sampled.length == 1) jpegEncodeGrayPixels(w2, h2, sampled(0))
            else if (jpegLumaSampling(bytes) == 0x22)
              // a 4:2:0 input re-encodes 4:2:0 — a resize must not
              // silently double the chroma data of a subsampled crawl
              jpegEncodeYcbcr420(w2, h2, sampled(0), sampled(1),
                sampled(2))
            else jpegEncodeYcbcrPixels(w2, h2, sampled(0), sampled(1),
              sampled(2))
          Some((w2, h2, enc))
        }
      }
    }
  }

  /** Partition-wise JPEG blob resize — [[resizePngBlobs]]'s contract:
    * one decoder per partition, blobs never shuffle; undecodable blobs
    * come back with EMPTY content so the downstream [[decodeJpeg]]
    * routes them to `decode_ok = false` (a row property, never a task
    * failure).
    */
  def resizeJpegBlobs(blobs: Dataset[MediaBlob],
                      maxEdge: Int): Dataset[MediaBlob] = {
    import blobs.sparkSession.implicits._
    blobs.mapPartitions(_.map { b =>
      resizeJpeg(b.content, maxEdge) match {
        case Some((_, _, outBytes)) =>
          MediaBlob(b.media_id, b.media_type, outBytes)
        case None => MediaBlob(b.media_id, b.media_type,
          Array.emptyByteArray)
      }
    })
  }
}
