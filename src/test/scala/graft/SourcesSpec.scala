package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.{MediaBlob, Multimodal}
import graft.sources.{FileTreeSource, SourcePlugin, Sources}

/** The fetch seam: ingest resolves its raw-content source by name, so
  * swapping the offline stand-in for a live fetcher is a registration,
  * not a query change.
  */
class SourcesSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark

  private def feeds: DataFrame = {
    import spark.implicits._
    Seq(("tin", "sport", "feed_sample.xml")).toDF("source", "topic", "url")
  }

  // the q50 item-parse chain, over whatever content a source fetched
  private def parseItems(raw: DataFrame): DataFrame =
    raw.select(col("source"), col("topic"),
        explode(split(col("content"), "<item>")).as("x"))
      .filter(col("x").contains("</item>"))
      .select(col("source"),
        regexp_extract(col("x"), "<link>([^<]*)</link>", 1).as("link"))

  test("filetree source fetches by path suffix with no driver collect") {
    val src = FileTreeSource("/root/repo/fixtures")
    val items = parseItems(src.fetch(spark, feeds))
    // feed_sample.xml carries the 4 items q50 asserts against
    assert(items.count() == 4)
    assert(items.select("link").as[String](spark.implicits.newStringEncoder)
      .collect().forall(_.nonEmpty))
  }

  test("default synthetic feed source drives the same parse chain") {
    val items = parseItems(Sources("feed").fetch(spark, feeds))
    assert(items.count() == 3) // perFeed = 3 entries per feed
  }

  test("a swapped-in plugin replaces the fetch stage by name") {
    Sources.register(new SourcePlugin {
      def name = "feed" // same name as the default: swap-in, not add
      def fetch(s: SparkSession, f: DataFrame): DataFrame =
        f.withColumn("content",
          lit("<rss><item><link>http://live/1</link></item></rss>"))
    })
    try {
      val items = parseItems(Sources("feed").fetch(spark, feeds))
      assert(items.count() == 1)
      assert(items.head.getString(1) == "http://live/1")
    } finally Sources.register(graft.sources.SyntheticFeedSource(name = "feed"))
  }

  test("unknown source names fail with the available list") {
    val err = intercept[NoSuchElementException](Sources("nope"))
    assert(err.getMessage.contains("no SourcePlugin 'nope'"))
  }

  test("Warc.parse round-trips the synthetic archive, survives a cut " +
    "mid-payload by emitting the complete prefix plus one bad row, " +
    "and rejects structural garbage as a row property") {
    import graft.sources.{Warc, WarcRecord}
    val full = Warc.synthetic(7L, 3)
    val recs = Warc.parse(7L, full)
    assert(recs.length == 3 && recs.forall(_.ok))
    assert(recs.map(_.warc_type) ==
      Seq("response", "request", "metadata"))
    assert(recs(1).target_uri == "http://ex.com/7/1")
    // checksum matches an independent digest of the same payload
    val p1 = ("payload-7-1;" * (1 + ((7 + 1) % 5)).toInt)
      .getBytes("UTF-8")
    val md = java.security.MessageDigest.getInstance("MD5")
    assert(recs(1).digest ==
      md.digest(p1).map("%02x".format(_)).mkString)
    assert(recs(1).content_length == p1.length.toLong)
    // cut inside record 2's payload: records 0-1 survive, then ok=false
    val cut = java.util.Arrays.copyOf(full, full.length - 6)
    val partial = Warc.parse(7L, cut)
    assert(partial.length == 3)
    assert(partial.take(2).forall(_.ok))
    assert(partial(2) == WarcRecord(7L, 2, "", "", -1L, "", ok = false))
    // a gzip-framed archive composes with gunzip upstream
    val m = graft.multimodal.Multimodal
    assert(Warc.parse(7L, m.gunzip(m.gzipBytes(full)).get) == recs)
    // garbage and empty input: one bad row, never a throw
    assert(Warc.parse(1L, "not a warc".getBytes("UTF-8")) ==
      Seq(WarcRecord(1L, 0, "", "", -1L, "", ok = false)))
    assert(Warc.parse(1L, Array.emptyByteArray) ==
      Seq(WarcRecord(1L, 0, "", "", -1L, "", ok = false)))
  }

  test("Warc.textRecords composes gzip-unwrap, record walk and " +
    "charset decode in one pass: Latin-1 and UTF-8 spellings of the " +
    "same text hash identically") {
    import java.nio.charset.StandardCharsets
    import graft.sources.Warc
    val m = graft.multimodal.Multimodal
    import spark.implicits._
    val text = "café!"
    val archive = Warc.syntheticRecords(9L, Seq(
      ("conversion", "http://a", text.getBytes(StandardCharsets.UTF_8)),
      ("conversion", "http://b",
        text.getBytes(StandardCharsets.ISO_8859_1))))
    val blobs = Seq(
      MediaBlob(9L, "warc", m.gzipBytes(archive)), // gzip-framed
      MediaBlob(10L, "warc", archive))             // raw
      .toDS()
    val rows = Warc.textRecords(blobs).collect()
      .sortBy(r => (r.media_id, r.rec_no))
    assert(rows.length == 4 && rows.forall(_.ok))
    // framed and raw archives decode identically
    assert(rows.take(2).map(r => (r.rec_no, r.encoding, r.digest))
      .toSeq ==
      rows.drop(2).map(r => (r.rec_no, r.encoding, r.digest)).toSeq)
    // the two spellings: different encodings, SAME decoded digest
    assert(rows(0).encoding == "utf-8" && rows(1).encoding == "latin-1")
    assert(rows(0).digest == rows(1).digest)
    assert(rows(0).n_chars == text.length.toLong)
  }

  test("Warc.httpRecords unwraps HTTP framing and honors the " +
    "declared Content-Encoding: identity, gzip and headerless brotli") {
    import graft.sources.Warc
    val spark = SharedSpark.spark
    import spark.implicits._
    val blobs = Seq(
      graft.multimodal.MediaBlob(1L, "application/warc",
        Warc.syntheticHttp(1L, 3, gzipFramed = false)),
      graft.multimodal.MediaBlob(2L, "application/warc",
        Warc.syntheticHttp(2L, 3, gzipFramed = true)),
      graft.multimodal.MediaBlob(3L, "application/warc",
        Warc.syntheticHttp(3L, 3, gzipFramed = false).take(40))
    ).toDS()
    val rows = Warc.httpRecords(blobs).collect()
      .groupBy(_.media_id).map { case (k, v) => k -> v.sortBy(_.rec_no) }
    Seq(1L, 2L).foreach { id =>
      val rs = rows(id)
      assert(rs.length == 3 && rs.forall(_.ok))
      assert(rs.map(_.content_encoding).toSeq ==
        Seq("identity", "gzip", "br"))
      rs.foreach { r =>
        val text = ("resp-" + id + "-" + r.rec_no + ";") *
          (1 + ((id + r.rec_no) % 6)).toInt
        assert(r.n_chars == text.length)
        assert(r.charset == "utf-8")
        assert(r.status == (if ((id + r.rec_no) % 7 == 0) 404 else 200))
        val md = java.security.MessageDigest.getInstance("MD5")
        assert(r.digest == md.digest(text.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString)
      }
    }
    assert(rows(3L).length == 1 && !rows(3L).head.ok)
    // a declared-but-wrong encoding is a row property
    val lying = Warc.syntheticRecords(9L, Seq(("response",
      "http://x/1",
      ("HTTP/1.1 200 OK\r\nContent-Encoding: br\r\n\r\n".getBytes("ISO-8859-1")
        ++ "this is not brotli at all, definitely not".getBytes))))
    val bad = Warc.httpRecords(Seq(graft.multimodal.MediaBlob(9L, "w",
      lying)).toDS()).collect()
    assert(bad.length == 1 && !bad.head.ok &&
      bad.head.content_encoding == "br" && bad.head.status == 200)
  }

  test("Tar.parse inventories a genuine USTAR archive — octal sizes, " +
    "spaced-checksum verification, padding, dirs — and rejects " +
    "truncation, bad checksums and bad magic as one row property") {
    import graft.sources.{Tar, TarEntry}
    val data0 = "hello tar".getBytes("UTF-8")
    val data1 = new Array[Byte](600) // crosses a block boundary
    (0 until 600).foreach(i => data1(i) = (i % 251).toByte)
    val bytes = Tar.synthetic(5L, Seq(
      "d/" -> Array.emptyByteArray,
      "d/a.txt" -> data0,
      "d/b.bin" -> data1))
    val es = Tar.parse(5L, bytes)
    assert(es.map(e => (e.entry_no, e.name, e.size, e.type_flag)) ==
      Seq((0, "d/", 0L, "dir"), (1, "d/a.txt", 9L, "file"),
        (2, "d/b.bin", 600L, "file")))
    val md = java.security.MessageDigest.getInstance("MD5")
    assert(es(2).digest ==
      md.digest(data1).map("%02x".format(_)).mkString)
    // zero-length member digests as md5 of empty
    val e0 = Tar.parse(6L, Tar.synthetic(6L, Seq(
      "z" -> Array.emptyByteArray)))
    assert(e0.head.digest == "d41d8cd98f00b204e9800998ecf8427e")
    // truncation mid-data, flipped checksum, wrong magic: one bad row
    val badRow = TarEntry(5L, 0, "", -1L, "", "", ok = false)
    assert(Tar.parse(5L, bytes.take(700)) == Seq(badRow))
    val flip = bytes.clone(); flip(148) = '7'
    assert(Tar.parse(5L, flip) == Seq(badRow))
    val magic = bytes.clone(); magic(257) = 'x'
    assert(Tar.parse(5L, magic) == Seq(badRow))
    assert(Tar.parse(5L, "short".getBytes("UTF-8")) == Seq(badRow))
  }

  test("Zip.parse inventories a genuine archive through the central " +
    "directory: stored + deflate members, CRC verification, digests") {
    import graft.sources.Zip
    val a = "alpha content ".getBytes("UTF-8")
    val b = ("beta " * 50).getBytes("UTF-8") // compressible
    val bytes = Zip.synthetic(7L, Seq(
      ("a.txt", a, "stored"), ("b/bb.txt", b, "deflate")))
    val es = Zip.parse(7L, bytes)
    assert(es.map(e => (e.entry_no, e.name, e.method, e.size,
      e.crc_ok, e.ok)) == Seq(
      (0, "a.txt", "stored", a.length.toLong, true, true),
      (1, "b/bb.txt", "deflate", b.length.toLong, true, true)))
    // deflate genuinely compressed the repetitive member
    assert(es(1).compressed_size < b.length)
    def md5(d: Array[Byte]) = java.security.MessageDigest
      .getInstance("MD5").digest(d).map("%02x".format(_)).mkString
    assert(es.map(_.digest) == Seq(md5(a), md5(b)))
    // a lying CRC is a per-entry property; the data still digests
    val lied = Zip.parse(8L,
      Zip.synthetic(8L, Seq(("a.txt", a, "deflate")), Set(0)))
    assert(lied.head.ok && !lied.head.crc_ok &&
      lied.head.digest == md5(a))
  }

  test("Zip.parse structural violations are one sentinel row; data " +
    "problems stay per-entry; the bomb cap bounds extraction") {
    import graft.sources.{Zip, ZipEntry}
    val badRow = ZipEntry(9L, 0, "", "", -1L, -1L, crc_ok = false, "",
      ok = false)
    val bytes = Zip.synthetic(9L, Seq(
      ("x.txt", "xx".getBytes, "stored"),
      ("y.txt", ("y" * 1000).getBytes, "deflate")))
    // cutting the EOCD/central directory is structural
    assert(Zip.parse(9L, bytes.take(bytes.length - 25)) == Seq(badRow))
    assert(Zip.parse(9L, "PK".getBytes) == Seq(badRow))
    // corrupting one member's deflate stream keeps the other entries
    val lho = bytes.length // find y's data by re-parse offsets: flip a
    val flip = bytes.clone()
    // y.txt's deflate data sits after its 30+5-byte local header;
    // x.txt occupies 30+5+2 bytes first
    flip(30 + 5 + 2 + 30 + 5 + 3) = (flip(70) ^ 0x55).toByte
    val es = Zip.parse(9L, flip)
    assert(es.length == 2 && es(0).ok &&
      (!es(1).ok || !es(1).crc_ok)) // bitflip: inflate dies or CRC lies
    // bomb cap: a member larger than maxOut dies as a row property
    val esCap = Zip.parse(9L, bytes, maxOut = 100)
    assert(esCap(0).ok && !esCap(1).ok)
    assert(lho > 0)
  }


  test("tar long names: FOREIGN GNU ('L') and PAX ('x' path) archives " +
    "resolve the full 206-char member path; our gnu/pax/base-256 " +
    "writers round-trip; PAX size records override the header field") {
    import graft.sources.Tar
    def b64(x: String) = java.util.Base64.getDecoder.decode(x)
    val want = TarForeignFixtures.longPath
    Seq("gnu" -> TarForeignFixtures.gnuLongB64,
        "pax" -> TarForeignFixtures.paxLongB64).foreach { case (m, fx) =>
      val rows = Tar.parse(1L, b64(fx))
      assert(rows.forall(_.ok), m)
      assert(rows.length == 2, m) // metadata headers are NOT entries
      assert(rows.map(_.name) == Seq("short.txt", want), m)
      assert(rows(1).size == 11L, m)
      assert(rows.map(_.entry_no) == Seq(0, 1), m)
    }
    // our writers: gnu + pax long-name modes and base-256 sizes all
    // round-trip through our parser with full names
    val long = "d/" + ("sub/" * 30) + "leaf.txt" // 130 chars
    Seq(("gnu", false), ("pax", false), ("truncate", true)).foreach {
      case (mode, b256) =>
        val bytes = Tar.synthetic(2L,
          Seq("a.txt" -> "abc".getBytes,
            (if (mode == "truncate") "b.txt" else long) ->
              "defg".getBytes),
          longNameMode = mode, base256Size = b256)
        val rows = Tar.parse(2L, bytes)
        assert(rows.forall(_.ok), s"$mode b256=$b256")
        assert(rows.map(_.size) == Seq(3L, 4L), s"$mode b256=$b256")
        if (mode != "truncate") assert(rows(1).name == long, mode)
    }
    // PAX size override: hand-patch a pax record with size=3 before a
    // member whose header claims 4 — the record wins for BOTH the
    // digest span and the data advance
    val base = Tar.synthetic(3L, Seq("x.bin" -> "abcd".getBytes))
    val rec = "16 size=3\n".getBytes("US-ASCII") // 10 chars -> len 16? no: compute
    val recStr = {
      var total = " size=3\n".length + 1
      while (total.toString.length + " size=3\n".length != total)
        total = total.toString.length + " size=3\n".length
      s"$total size=3\n"
    }
    val paxData = recStr.getBytes("US-ASCII")
    val out = new java.io.ByteArrayOutputStream()
    // reuse the writer for a wellformed 'x' header by crafting via
    // synthetic is not exposed; emit header bytes by hand off a
    // template: take base's first header and rewrite
    val hdrTemplate = java.util.Arrays.copyOf(base, 512)
    def put(hdr: Array[Byte], at: Int, str: String): Unit = {
      java.util.Arrays.fill(hdr, at, math.min(at + 12, 148), 0.toByte)
      val b = str.getBytes("US-ASCII")
      System.arraycopy(b, 0, hdr, at, b.length)
    }
    val xhdr = hdrTemplate.clone()
    java.util.Arrays.fill(xhdr, 0, 100, 0.toByte)
    System.arraycopy("PaxHdr".getBytes, 0, xhdr, 0, 6)
    put(xhdr, 124, f"${paxData.length}%011o")
    xhdr(156) = 'x'
    java.util.Arrays.fill(xhdr, 148, 156, 0x20.toByte)
    var sum = 0L
    xhdr.foreach(b => sum += b & 0xff)
    put(xhdr, 148, f"$sum%06o")
    xhdr(154) = 0; xhdr(155) = 0x20
    out.write(xhdr)
    out.write(paxData)
    out.write(new Array[Byte](512 - paxData.length))
    out.write(base) // the original member + terminator
    val rows = Tar.parse(4L, out.toByteArray)
    assert(rows.length == 1 && rows.head.ok)
    assert(rows.head.size == 3L)
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update("abc".getBytes)
    assert(rows.head.digest ==
      md.digest().map("%02x".format(_)).mkString)
  }


  test("ZIP64: a FOREIGN forced-zip64 archive (saturated EOCD + " +
    "0x0001 extras) inventories fully, and our zip64 writer " +
    "round-trips with correct digests") {
    import graft.sources.Zip
    val rows = Zip.parse(1L, java.util.Base64.getDecoder
      .decode(ZipForeignFixtures.forced64B64))
    assert(rows.forall(_.ok) && rows.forall(_.crc_ok))
    assert(rows.map(_.name) == Seq("m1.txt", "m2.txt"))
    assert(rows.map(_.size) == Seq(19L, 24L))
    val mine = Zip.synthetic(2L, Seq(
      ("a.txt", "alpha-bytes".getBytes, "deflate"),
      ("b.bin", Array.tabulate(500)(i => (i * 7).toByte), "stored")),
      zip64 = true)
    val r2 = Zip.parse(2L, mine)
    assert(r2.forall(e => e.ok && e.crc_ok))
    assert(r2.map(_.size) == Seq(11L, 500L))
    // layout-invariance: same members, zip64 off, same inventory
    val plain = Zip.parse(2L, Zip.synthetic(2L, Seq(
      ("a.txt", "alpha-bytes".getBytes, "deflate"),
      ("b.bin", Array.tabulate(500)(i => (i * 7).toByte), "stored"))))
    assert(r2.map(e => (e.name, e.size, e.digest)) ==
      plain.map(e => (e.name, e.size, e.digest)))
  }


  test("cross-library conformance: commons-compress reads our tar " +
    "(gnu/pax long names, base-256 sizes) and zip (incl. zip64), and " +
    "our walks read ITS archives — both directions, permanently") {
    import graft.sources.{Tar, Zip}
    import org.apache.commons.compress.archivers.tar.{
      TarArchiveInputStream, TarArchiveOutputStream, TarArchiveEntry}
    import org.apache.commons.compress.archivers.zip.{
      ZipArchiveInputStream, ZipArchiveOutputStream, ZipArchiveEntry}
    val long = "d/" + ("sub/" * 30) + "leaf.txt"
    // ours -> commons-compress
    Seq(("gnu", false), ("pax", false), ("truncate", true)).foreach {
      case (mode, b256) =>
        val mine = Tar.synthetic(1L,
          Seq("a.txt" -> "abc".getBytes,
            (if (mode == "truncate") "b.txt" else long) ->
              "defg".getBytes),
          longNameMode = mode, base256Size = b256)
        val in = new TarArchiveInputStream(
          new java.io.ByteArrayInputStream(mine))
        val names = Iterator.continually(in.getNextEntry)
          .takeWhile(_ != null).map(_.getName).toList
        assert(names.head == "a.txt", s"$mode b256=$b256")
        assert(names(1) ==
          (if (mode == "truncate") "b.txt" else long),
          s"$mode b256=$b256")
    }
    val myZip = Zip.synthetic(2L, Seq(
      ("x.txt", "hello x".getBytes, "deflate"),
      ("y.bin", Array.tabulate(64)(_.toByte), "stored")), zip64 = true)
    val zin = new ZipArchiveInputStream(
      new java.io.ByteArrayInputStream(myZip))
    val zn = Iterator.continually(zin.getNextEntry)
      .takeWhile(_ != null).map(_.getName).toList
    assert(zn == List("x.txt", "y.bin"))
    // commons-compress -> ours
    val tbos = new java.io.ByteArrayOutputStream()
    val tout = new TarArchiveOutputStream(tbos)
    tout.setLongFileMode(TarArchiveOutputStream.LONGFILE_POSIX)
    Seq("first.txt" -> "one", long -> "two").foreach { case (n, c) =>
      val e = new TarArchiveEntry(n)
      e.setSize(c.length)
      tout.putArchiveEntry(e)
      tout.write(c.getBytes)
      tout.closeArchiveEntry()
    }
    tout.close()
    val trows = Tar.parse(3L, tbos.toByteArray)
    assert(trows.forall(_.ok))
    assert(trows.map(_.name) == Seq("first.txt", long))
    val zbos = new java.io.ByteArrayOutputStream()
    val zout = new ZipArchiveOutputStream(zbos)
    Seq("m.txt" -> "em", "n.txt" -> "en").foreach { case (n, c) =>
      zout.putArchiveEntry(new ZipArchiveEntry(n))
      zout.write(c.getBytes)
      zout.closeArchiveEntry()
    }
    zout.close()
    val zrows = Zip.parse(4L, zbos.toByteArray)
    assert(zrows.forall(e => e.ok && e.crc_ok))
    assert(zrows.map(_.name) == Seq("m.txt", "n.txt"))
  }


  test("7z member inventory: names/sizes/digests through the " +
    "reference LZMA2 decoder; dirs, sniff+dispatch, truncation and " +
    "bomb-cap row properties") {
    import graft.sources.SevenZip
    val data = Seq("docs/" -> Array.emptyByteArray,
      "docs/a.txt" -> "alpha body".getBytes,
      "docs/b.txt" -> ("bee " * 50).getBytes)
    val bytes = SevenZip.synthetic(9L, data)
    val rows = SevenZip.parse(9L, bytes)
    assert(rows.map(_.name) == Seq("docs/", "docs/a.txt", "docs/b.txt"))
    assert(rows.forall(_.ok))
    assert(rows(1).size == 10L && rows(2).size == 200L)
    val md = java.security.MessageDigest.getInstance("MD5")
    assert(rows(1).digest ==
      md.digest("alpha body".getBytes).map("%02x".format(_)).mkString)
    assert(rows(1).method == "lzma2")
    assert(Multimodal.sniffFormat(bytes) == "7z")
    val dm = Multimodal.dispatchOne(9L, bytes)
    assert(dm.format == "7z" && dm.decode_ok && dm.frames == 3)
    // truncation and bomb cap are row properties
    assert(SevenZip.parse(9L, bytes.take(40)).forall(!_.ok))
    val capped = SevenZip.parse(9L, bytes, maxOut = 16)
    assert(capped.exists(!_.ok) && capped.exists(_.ok))
  }
}
