package graft.sources

import org.apache.spark.sql.Dataset
import graft.multimodal.MediaBlob

/** One 7z archive member: `method` is the first coder's name (lzma2,
  * copy, ...), `digest` = md5 of the DECOMPRESSED bytes (the
  * [[TarEntry]]/[[ZipEntry]] dedup-key contract). A structurally
  * malformed archive yields ONE all-sentinel row.
  */
case class SevenZEntry(media_id: Long, entry_no: Int, name: String,
                       method: String, size: Long, digest: String,
                       ok: Boolean)

/** 7z member inventory — the FOURTH crawl envelope next to [[Zip]],
  * [[Tar]] and [[Warc]]: software and dataset dumps ship as .7z
  * (LZMA2) at least as often as .tar.xz. Decode rides
  * commons-compress + the XZ library on Spark's classpath (the
  * [[graft.multimodal.CompressionCodec]] unzstd/unlz4 stance — a
  * maintained reference implementation beats a clean-room LZMA for a
  * format whose value is the inventory, not the codec). The same
  * bomb cap: a member whose declared size exceeds the cap reports
  * ok=false rather than inflating. Partition-wise over the blob
  * column — blobs never shuffle.
  */
object SevenZip {

  private val Bad =
    SevenZEntry(0L, 0, "", "", -1L, "", ok = false)

  def parse(id: Long, bytes: Array[Byte],
            maxOut: Int = 1 << 26): Seq[SevenZEntry] = {
    def bad = Seq(Bad.copy(media_id = id))
    if (bytes.length < 32 || bytes(0) != '7' || bytes(1) != 'z' ||
      (bytes(2) & 0xff) != 0xbc || (bytes(3) & 0xff) != 0xaf ||
      (bytes(4) & 0xff) != 0x27 || (bytes(5) & 0xff) != 0x1c)
      return bad
    try {
      val ch = new org.apache.commons.compress.utils
        .SeekableInMemoryByteChannel(bytes)
      val sz = new org.apache.commons.compress.archivers.sevenz
        .SevenZFile(ch)
      try {
        val out = Seq.newBuilder[SevenZEntry]
        var no = 0
        var e = sz.getNextEntry
        while (e != null) {
          if (e.isDirectory) {
            out += SevenZEntry(id, no, e.getName, "dir", 0L, "",
              ok = true)
            no += 1
          } else {
            val method = {
              val it = e.getContentMethods
              if (it == null || !it.iterator().hasNext) "copy"
              else it.iterator().next().getMethod.toString
                .toLowerCase(java.util.Locale.ROOT)
            }
            if (e.getSize > maxOut) {
              out += SevenZEntry(id, no, e.getName, method, e.getSize,
                "", ok = false)
              no += 1
            } else {
              val data = new Array[Byte](e.getSize.toInt)
              var at = 0
              while (at < data.length) {
                val n = sz.read(data, at, data.length - at)
                if (n <= 0) return bad
                at += n
              }
              val md = java.security.MessageDigest.getInstance("MD5")
              val digest =
                md.digest(data).map("%02x".format(_)).mkString
              out += SevenZEntry(id, no, e.getName, method,
                e.getSize, digest, ok = true)
              no += 1
            }
          }
          e = sz.getNextEntry
        }
        val r = out.result()
        if (r.isEmpty) bad else r
      } finally sz.close()
    } catch {
      case _: java.io.IOException => bad
      case _: RuntimeException => bad
    }
  }

  /** Partition-wise member walk — the [[Tar.entries]] contract. */
  def entries(blobs: Dataset[MediaBlob],
              maxOut: Int = 1 << 26): Dataset[SevenZEntry] = {
    import blobs.sparkSession.implicits._
    blobs.mapPartitions(_.flatMap(b => parse(b.media_id, b.content,
      maxOut)))
  }

  /** Genuine 7z archive (LZMA2 via the same reference library; any
    * 7z tool opens it). Deterministic apart from codec internals —
    * the INVENTORY (names, sizes, digests) is what q-entries oracle.
    */
  def synthetic(id: Long,
                members: Seq[(String, Array[Byte])]): Array[Byte] = {
    val ch = new org.apache.commons.compress.utils
      .SeekableInMemoryByteChannel()
    val out = new org.apache.commons.compress.archivers.sevenz
      .SevenZOutputFile(ch)
    // small LZMA2 dictionary: the default 8 MiB preset allocates
    // ~100 MB of encoder state PER ARCHIVE — a 25 s/150-blob bench
    // outlier for KB-sized members; 64 KiB is plenty and the
    // declared dict also keeps the decode side allocation-light
    out.setContentMethods(java.util.Collections.singletonList(
      new org.apache.commons.compress.archivers.sevenz
        .SevenZMethodConfiguration(
          org.apache.commons.compress.archivers.sevenz.SevenZMethod
            .LZMA2,
          Integer.valueOf(1 << 16))))
    members.foreach { case (name, data) =>
      val e = new org.apache.commons.compress.archivers.sevenz
        .SevenZArchiveEntry()
      e.setName(name)
      e.setDirectory(name.endsWith("/"))
      out.putArchiveEntry(e)
      if (!e.isDirectory) out.write(data)
      out.closeArchiveEntry()
    }
    out.finish(); out.close()
    java.util.Arrays.copyOf(ch.array(), ch.size().toInt)
  }
}
