package graft.sources

import org.apache.spark.sql.Dataset
import graft.multimodal.MediaBlob

/** One archive member: `type_flag` ∈ {"file","dir"}; `digest` = md5
  * hex of the member bytes (files only — the downstream dedup key);
  * a malformed archive yields ONE all-sentinel row with ok=false.
  */
case class TarEntry(media_id: Long, entry_no: Int, name: String,
                    size: Long, type_flag: String, digest: String,
                    ok: Boolean)

/** USTAR (POSIX tar) member walk — the OTHER crawl envelope next to
  * [[Warc]]: corpus dumps and model-data drops ship as tarballs, and
  * a 100 TB ingest wants the member inventory (names, sizes, content
  * digests) without untarring to a filesystem. Pure header
  * arithmetic — 512-byte blocks, octal size fields, checksum over a
  * spaced-out chksum field — one partition-local pass, blobs never
  * shuffle. Any bound violation, bad magic, unparseable octal or
  * checksum mismatch is a ROW property (a single ok=false row), never
  * a task failure.
  */
object Tar {

  private val BadEntry = TarEntry(0L, 0, "", -1L, "", "", ok = false)

  def parse(id: Long, bytes: Array[Byte]): Seq[TarEntry] = {
    def bad = Seq(BadEntry.copy(media_id = id))
    val out = Seq.newBuilder[TarEntry]
    var off = 0
    var no = 0
    var done = false
    // metadata headers override fields of the NEXT member: GNU 'L'
    // long names and PAX 'x' path/size records — corpus tars use
    // both for >100-char paths, and PAX size for >8 GiB members
    var pendingName: String = null
    var pendingSize = -1L
    while (!done) {
      if (off + 512 > bytes.length) return bad
      var allZero = true
      var i = 0
      while (allZero && i < 512) {
        if (bytes(off + i) != 0) allZero = false; i += 1
      }
      if (allZero) done = true
      else {
        // magic "ustar" at 257 ("ustar\0" POSIX or "ustar " GNU)
        if (!(bytes(off + 257) == 'u' && bytes(off + 258) == 's' &&
          bytes(off + 259) == 't' && bytes(off + 260) == 'a' &&
          bytes(off + 261) == 'r')) return bad
        def str(at: Int, len: Int): String = {
          var end = at
          while (end < at + len && bytes(off + end) != 0) end += 1
          new String(bytes, off + at, end - at, "US-ASCII")
        }
        // octal, or GNU base-256 (leading bit set: big-endian binary
        // in the remaining bytes — how tar encodes sizes >= 8 GiB)
        def num(at: Int, len: Int): Long = {
          if ((bytes(off + at) & 0x80) != 0) {
            var v = (bytes(off + at) & 0x7f).toLong
            var k = 1
            while (k < len) {
              // a 12-byte field folds up to 95 bits; reject anything
              // wider than 63 so a crafted header (the checksum is
              // attacker-computable) cannot overflow v negative and
              // slip past the size bounds checks below
              if (v > (Long.MaxValue >> 8)) return -1L
              v = (v << 8) | (bytes(off + at + k) & 0xff); k += 1
            }
            v
          } else {
            val s = str(at, len).trim
            if (s.isEmpty || !s.forall(c => c >= '0' && c <= '7')) -1L
            else java.lang.Long.parseLong(s, 8)
          }
        }
        val rawSize = num(124, 12)
        val stored = num(148, 8)
        if (rawSize < 0 || stored < 0) return bad
        // checksum: header bytes summed with the chksum field spaced
        var sum = 0L
        i = 0
        while (i < 512) {
          sum += (if (i >= 148 && i < 156) 0x20
            else bytes(off + i) & 0xff)
          i += 1
        }
        if (sum != stored) return bad
        val flag = bytes(off + 156)
        val dataStart = off + 512
        // effective data length: a PAX size record overrides the
        // header field for the next member (and governs the block
        // advance), per POSIX
        var advance = rawSize
        // overflow-safe form: dataStart + rawSize can wrap negative
        // for a near-Long.MaxValue size and bypass the check
        if (rawSize > 0 && rawSize > bytes.length - dataStart) return bad
        if (flag == 'L') {
          // GNU long name: the data IS the next member's name
          var end = dataStart
          val lim = dataStart + rawSize.toInt
          while (end < lim && bytes(end) != 0) end += 1
          pendingName = new String(bytes, dataStart, end - dataStart,
            "US-ASCII")
        } else if (flag == 'x' || flag == 'g') {
          // PAX records: "<len> <key>=<value>\n", len counts the
          // whole record incl. its own digits; 'g' (global) records
          // are read but only 'x' overrides the next member
          var p = dataStart
          val lim = dataStart + rawSize.toInt
          while (p < lim) {
            var q = p
            while (q < lim && bytes(q) != ' ') q += 1
            val recLen =
              try new String(bytes, p, q - p, "US-ASCII").toInt
              catch { case _: NumberFormatException => return bad }
            if (recLen <= 0 || p + recLen > lim) return bad
            val rec = new String(bytes, q + 1, p + recLen - q - 2,
              "UTF-8") // drop the trailing '\n'
            val eq = rec.indexOf('=')
            if (eq > 0 && flag == 'x') {
              val key = rec.substring(0, eq)
              val value = rec.substring(eq + 1)
              if (key == "path") pendingName = value
              else if (key == "size") {
                try pendingSize = value.toLong
                catch { case _: NumberFormatException => return bad }
                if (pendingSize < 0) return bad
              }
            }
            p += recLen
          }
        } else {
          val name =
            if (pendingName != null) pendingName else str(0, 100)
          val size =
            if (pendingSize >= 0) pendingSize else rawSize
          pendingName = null; pendingSize = -1L
          advance = size
          if (size > 0 && size > bytes.length - dataStart) return bad
          if (flag == '5') {
            out += TarEntry(id, no, name, 0L, "dir", "", ok = true)
            no += 1
          } else if (flag == '0' || flag == 0) {
            val md = java.security.MessageDigest.getInstance("MD5")
            md.update(bytes, dataStart, size.toInt)
            val digest = md.digest().map("%02x".format(_)).mkString
            out += TarEntry(id, no, name, size, "file", digest,
              ok = true)
            no += 1
          }
          // other typeflags (links, ...) skipped, not errors
        }
        off = dataStart + (((advance + 511) / 512) * 512).toInt
      }
    }
    val r = out.result()
    if (r.isEmpty) bad else r
  }

  /** Partition-wise member walk — the [[Warc.records]] contract. */
  def entries(blobs: Dataset[MediaBlob]): Dataset[TarEntry] = {
    import blobs.sparkSession.implicits._
    blobs.mapPartitions(_.flatMap(b => parse(b.media_id, b.content)))
  }

  /** Genuine USTAR archive: correct octal fields, checksums, 512-byte
    * padding, two terminating zero blocks — any tar tool lists it.
    * A member named with a trailing '/' is written as a directory.
    */
  def synthetic(id: Long,
                members: Seq[(String, Array[Byte])],
                longNameMode: String = "truncate",
                base256Size: Boolean = false): Array[Byte] = {
    require(Set("truncate", "gnu", "pax")(longNameMode))
    val out = new java.io.ByteArrayOutputStream()
    def header(name: String, flag: Byte, size: Int): Array[Byte] = {
      val hdr = new Array[Byte](512)
      val nb = name.getBytes("US-ASCII")
      System.arraycopy(nb, 0, hdr, 0, math.min(nb.length, 100))
      def put(at: Int, s: String): Unit = {
        val b = s.getBytes("US-ASCII")
        System.arraycopy(b, 0, hdr, at, b.length)
      }
      put(100, "0000644"); put(108, "0000000"); put(116, "0000000")
      if (base256Size && flag == '0') {
        // GNU base-256: leading bit set, big-endian value — how real
        // tars encode sizes >= 8 GiB (exercised here on small ones;
        // the encoding is value-independent)
        hdr(124) = 0x80.toByte
        var k = 0
        while (k < 8) { // bytes above Long's 8 stay zero
          hdr(124 + 11 - k) =
            ((size.toLong >> (8 * k)) & 0xff).toByte
          k += 1
        }
      } else put(124, f"$size%011o")
      put(136, "00000000000")
      hdr(156) = flag
      put(257, "ustar"); put(263, "00")
      java.util.Arrays.fill(hdr, 148, 156, 0x20.toByte)
      var sum = 0L
      hdr.foreach(b => sum += b & 0xff)
      put(148, f"$sum%06o")
      hdr(155) = 0x20
      hdr
    }
    def writeData(data: Array[Byte]): Unit =
      if (data.nonEmpty) {
        out.write(data)
        val pad = ((data.length + 511) / 512) * 512 - data.length
        out.write(new Array[Byte](pad))
      }
    members.foreach { case (name, data) =>
      val isDir = name.endsWith("/")
      if (name.length > 100 && longNameMode == "gnu") {
        // GNU 'L': a metadata member whose data is the full name
        val nd = (name + "\u0000").getBytes("US-ASCII")
        out.write(header("././@LongLink", 'L', nd.length))
        writeData(nd)
      } else if (name.length > 100 && longNameMode == "pax") {
        // PAX 'x': "<len> path=<name>\n" with self-counting length
        val base = s" path=$name\n".getBytes("UTF-8").length
        var total = base + 1
        while ((total.toString.length + base) != total)
          total = total.toString.length + base
        val rec = s"$total path=$name\n".getBytes("UTF-8")
        out.write(header("PaxHeader", 'x', rec.length))
        writeData(rec)
      }
      out.write(header(name, if (isDir) '5' else '0',
        if (isDir) 0 else data.length))
      if (!isDir) writeData(data)
    }
    out.write(new Array[Byte](1024))
    out.toByteArray
  }
}
