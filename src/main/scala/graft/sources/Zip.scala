package graft.sources

import org.apache.spark.sql.Dataset
import graft.multimodal.Multimodal
import graft.multimodal.MediaBlob

/** One archive member: `method` ∈ {"stored","deflate","other"};
  * `digest` = md5 hex of the DECOMPRESSED member bytes (the
  * downstream dedup key — same contract as [[TarEntry]]); `crc_ok`
  * compares the stored CRC-32 against the extracted bytes. A
  * structurally malformed archive yields ONE all-sentinel row with
  * ok=false; a member that fails extraction (bad local header,
  * deflate error, bomb cap) keeps its inventory row with ok=false.
  */
case class ZipEntry(media_id: Long, entry_no: Int, name: String,
                    method: String, compressed_size: Long, size: Long,
                    crc_ok: Boolean, digest: String, ok: Boolean)

/** ZIP (PKWARE) central-directory walk — the THIRD crawl envelope
  * next to [[Tar]] and [[Warc]]: data dumps ship as .zip at least as
  * often as tarballs. The reader is spec-shaped, not stream-shaped:
  * it finds the end-of-central-directory record by scanning back
  * from the tail (comments up to 64 KiB), walks the central
  * directory for the authoritative inventory, then extracts each
  * member through its local header (stored copied, deflate inflated
  * RAW with the shared bomb cap) and verifies its CRC-32. Pure
  * partition-local byte work — blobs never shuffle; any structural
  * bound violation is a ROW property, never a task failure.
  */
object Zip {

  private val BadEntry =
    ZipEntry(0L, 0, "", "", -1L, -1L, crc_ok = false, "", ok = false)

  def parse(id: Long, bytes: Array[Byte],
            maxOut: Int = 1 << 26,
            onMember: (String, Array[Byte]) => Unit = null)
      : Seq[ZipEntry] = {
    def bad = Seq(BadEntry.copy(media_id = id))
    def u(i: Int): Int = bytes(i) & 0xff
    def u16(i: Int): Int = u(i) | (u(i + 1) << 8)
    def u32(i: Int): Long =
      (u(i) | (u(i + 1) << 8) | (u(i + 2) << 16)).toLong |
        (u(i + 3).toLong << 24)
    def u64(i: Int): Long = u32(i) | (u32(i + 4) << 32)
    // EOCD: PK\5\6 + 18 fixed bytes + comment; scan back ≤64 KiB
    if (bytes.length < 22) return bad
    var eocd = -1
    var i = bytes.length - 22
    val lo = math.max(0, bytes.length - 22 - 0xffff)
    while (eocd < 0 && i >= lo) {
      if (bytes(i) == 'P' && bytes(i + 1) == 'K' &&
        bytes(i + 2) == 5 && bytes(i + 3) == 6) eocd = i
      i -= 1
    }
    if (eocd < 0) return bad
    var nEntries: Long = u16(eocd + 10)
    var cdOff = u32(eocd + 16)
    // ZIP64 (>4 GiB archives / >65535 members — how big corpus dumps
    // actually ship): saturated EOCD fields defer to the ZIP64 EOCD
    // record, found through the 20-byte locator just before the EOCD
    if ((nEntries == 0xffff || cdOff == 0xffffffffL) && eocd >= 20 &&
      bytes(eocd - 20) == 'P' && bytes(eocd - 19) == 'K' &&
      bytes(eocd - 18) == 6 && bytes(eocd - 17) == 7) {
      val z64At = u64(eocd - 12)
      if (z64At < 0 || z64At + 56 > bytes.length) return bad
      val z = z64At.toInt
      if (!(bytes(z) == 'P' && bytes(z + 1) == 'K' &&
        bytes(z + 2) == 6 && bytes(z + 3) == 6)) return bad
      nEntries = u64(z + 32)
      cdOff = u64(z + 48)
      if (nEntries < 0 || nEntries > (1 << 22)) return bad
    }
    if (cdOff + 46 > bytes.length && nEntries > 0) return bad
    val out = Seq.newBuilder[ZipEntry]
    var off = cdOff
    var no = 0
    while (no < nEntries) {
      if (off + 46 > bytes.length) return bad
      val o = off.toInt
      if (!(bytes(o) == 'P' && bytes(o + 1) == 'K' &&
        bytes(o + 2) == 1 && bytes(o + 3) == 2)) return bad
      val method = u16(o + 10)
      val crc = u32(o + 16)
      var compSize = u32(o + 20)
      var size = u32(o + 24)
      val nameLen = u16(o + 28)
      val extraLen = u16(o + 30)
      val commentLen = u16(o + 32)
      var lho = u32(o + 42)
      if (off + 46 + nameLen + extraLen > bytes.length) return bad
      val name = new String(bytes, o + 46, nameLen, "UTF-8")
      // ZIP64 extra (tag 0x0001): 8-byte values replace exactly the
      // saturated 32-bit fields, in uncompressed/compressed/offset
      // order
      if (size == 0xffffffffL || compSize == 0xffffffffL ||
        lho == 0xffffffffL) {
        var x = o + 46 + nameLen
        val xEnd = x + extraLen
        while (x + 4 <= xEnd) {
          val tag = u16(x)
          val tlen = u16(x + 2)
          if (tag == 1 && x + 4 + tlen <= xEnd) {
            var p = x + 4
            if (size == 0xffffffffL && p + 8 <= x + 4 + tlen) {
              size = u64(p); p += 8
            }
            if (compSize == 0xffffffffL && p + 8 <= x + 4 + tlen) {
              compSize = u64(p); p += 8
            }
            if (lho == 0xffffffffL && p + 8 <= x + 4 + tlen) {
              lho = u64(p); p += 8
            }
          }
          x += 4 + tlen
        }
        if (size == 0xffffffffL || compSize == 0xffffffffL ||
          lho == 0xffffffffL) return bad
      }
      val methodName = method match {
        case 0 => "stored"
        case 8 => "deflate"
        case _ => "other"
      }
      // extraction through the LOCAL header (its name/extra lengths
      // may differ from the central directory's)
      val extracted: Option[Array[Byte]] =
        if (methodName == "other") None
        else if (lho + 30 > bytes.length ||
          !(bytes(lho.toInt) == 'P' && bytes(lho.toInt + 1) == 'K' &&
            bytes(lho.toInt + 2) == 3 && bytes(lho.toInt + 3) == 4))
          None
        else {
          val l = lho.toInt
          val dataOff = lho + 30 + u16(l + 26) + u16(l + 28)
          if (dataOff + compSize > bytes.length ||
            compSize > Int.MaxValue) None
          else if (method == 0) {
            if (compSize > maxOut) None
            else Some(java.util.Arrays.copyOfRange(bytes,
              dataOff.toInt, (dataOff + compSize).toInt))
          } else Multimodal.inflateBounded(bytes, dataOff.toInt,
            compSize.toInt, maxOut, nowrap = true)
        }
      out += (extracted match {
        case Some(data) =>
          if (onMember != null) onMember(name, data)
          val c = new java.util.zip.CRC32()
          c.update(data)
          val md = java.security.MessageDigest.getInstance("MD5")
          val digest = md.digest(data).map("%02x".format(_)).mkString
          ZipEntry(id, no, name, methodName, compSize, data.length.toLong,
            crc_ok = c.getValue == crc, digest, ok = true)
        case None =>
          ZipEntry(id, no, name, methodName, compSize, size,
            crc_ok = false, "", ok = methodName == "other")
      })
      no += 1
      off += 46 + nameLen + extraLen + commentLen
    }
    val r = out.result()
    if (r.isEmpty) bad else r
  }

  /** Partition-wise member walk — the [[Tar.entries]] contract. */
  def entries(blobs: Dataset[MediaBlob],
              maxOut: Int = 1 << 26): Dataset[ZipEntry] = {
    import blobs.sparkSession.implicits._
    blobs.mapPartitions(_.flatMap(b => parse(b.media_id, b.content,
      maxOut)))
  }

  /** Genuine ZIP archive: local headers + member data (method
    * "stored" or "deflate" per member), central directory, EOCD —
    * any unzip tool lists it. Deterministic: time/date fields zero,
    * fixed deflate settings. `corruptCrc` member indexes get their
    * stored CRC fields (both copies) off by one — the bad-checksum
    * row property without touching the data bytes.
    */
  def synthetic(id: Long, members: Seq[(String, Array[Byte], String)],
                corruptCrc: Set[Int] = Set.empty,
                zip64: Boolean = false): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def w32(v: Long): Unit = {
      out.write((v & 0xff).toInt); out.write(((v >> 8) & 0xff).toInt)
      out.write(((v >> 16) & 0xff).toInt)
      out.write(((v >> 24) & 0xff).toInt)
    }
    def w64(v: Long): Unit = { w32(v & 0xffffffffL); w32(v >>> 32) }
    case class Central(name: Array[Byte], method: Int, crc: Long,
                       comp: Long, size: Long, lho: Long)
    val centrals = members.zipWithIndex.map {
      case ((name, data, methodName), idx) =>
        val method = if (methodName == "deflate") 8 else 0
        val comp: Array[Byte] =
          if (method == 8) {
            val d = new java.util.zip.Deflater(
              java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
            d.setInput(data); d.finish()
            val buf = new Array[Byte](8192)
            val bos = new java.io.ByteArrayOutputStream()
            while (!d.finished()) bos.write(buf, 0, d.deflate(buf))
            d.end()
            bos.toByteArray
          } else data
        val c = new java.util.zip.CRC32()
        c.update(data)
        val crc = (c.getValue + (if (corruptCrc(idx)) 1L else 0L)) &
          0xffffffffL
        val nb = name.getBytes("UTF-8")
        val lho = out.size().toLong
        out.write('P'); out.write('K'); out.write(3); out.write(4)
        w16(20); w16(0); w16(method); w16(0); w16(0) // ver/flag/time
        w32(crc); w32(comp.length.toLong); w32(data.length.toLong)
        w16(nb.length); w16(0)
        out.write(nb); out.write(comp)
        Central(nb, method, crc, comp.length.toLong,
          data.length.toLong, lho)
    }
    val cdStart = out.size().toLong
    centrals.foreach { e =>
      out.write('P'); out.write('K'); out.write(1); out.write(2)
      w16(if (zip64) 45 else 20); w16(if (zip64) 45 else 20)
      w16(0); w16(e.method); w16(0); w16(0)
      if (zip64) {
        // saturate size/comp/lho into the 0x0001 extra — the layout
        // real zip64 writers emit even for small values when forced
        w32(e.crc); w32(0xffffffffL); w32(0xffffffffL)
        w16(e.name.length); w16(4 + 24); w16(0); w16(0); w16(0)
        w32(0L); w32(0xffffffffL)
        out.write(e.name)
        w16(1); w16(24); w64(e.size); w64(e.comp); w64(e.lho)
      } else {
        w32(e.crc); w32(e.comp); w32(e.size)
        w16(e.name.length); w16(0); w16(0); w16(0); w16(0)
        w32(0L); w32(e.lho)
        out.write(e.name)
      }
    }
    val cdSize = out.size().toLong - cdStart
    if (zip64) {
      val z64At = out.size().toLong
      out.write('P'); out.write('K'); out.write(6); out.write(6)
      w64(44L) // record size after this field
      w16(45); w16(45); w32(0L); w32(0L)
      w64(centrals.length.toLong); w64(centrals.length.toLong)
      w64(cdSize); w64(cdStart)
      out.write('P'); out.write('K'); out.write(6); out.write(7)
      w32(0L); w64(z64At); w32(1L)
      out.write('P'); out.write('K'); out.write(5); out.write(6)
      w16(0); w16(0); w16(0xffff); w16(0xffff)
      w32(0xffffffffL); w32(0xffffffffL); w16(0)
    } else {
      out.write('P'); out.write('K'); out.write(5); out.write(6)
      w16(0); w16(0); w16(centrals.length); w16(centrals.length)
      w32(cdSize); w32(cdStart); w16(0)
    }
    out.toByteArray
  }
}
