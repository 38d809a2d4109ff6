package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.multimodal.Multimodal

/** PDF text extraction: writer round-trips (literal + hex strings,
  * escapes, multi-page), hand-built documents exercising uncompressed
  * streams, UTF-16BE strings, content arrays and indirect /Length,
  * and the malformation/cycle rejection paths.
  */
class PdfSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark

  private def pageText(lines: Seq[String]): String =
    lines.map(_ + "\n").mkString

  test("syntheticPdf round-trips multi-page documents through " +
    "pdfExtractPages (FlateDecode content, literal strings)") {
    (0 until 8).foreach { k =>
      val pages = (0 until 1 + k % 3).map { p =>
        (0 until 1 + (k + p) % 4).map(j => s"doc $k page $p line $j")
      }
      val bytes = Multimodal.syntheticPdf(k.toLong, pages)
      val got = Multimodal.pdfExtractPages(bytes)
      assert(got.isDefined, s"k=$k")
      assert(got.get.length == pages.length)
      got.get.zip(pages).foreach { case ((no, text), lines) =>
        assert(text == pageText(lines), s"k=$k page=$no")
      }
    }
  }

  test("hex-string pages and parenthesis/backslash escapes survive") {
    val lines = Seq("""a (nested) \ line""", "b)c(d")
    val lit = Multimodal.syntheticPdf(1L, Seq(lines))
    assert(Multimodal.pdfExtractPages(lit).get.head._2 ==
      pageText(lines))
    val hexed = Multimodal.syntheticPdf(1L, Seq(lines),
      hexStrings = true)
    assert(Multimodal.pdfExtractPages(hexed).get.head._2 ==
      pageText(lines))
  }

  test("hand-built PDF: uncompressed stream, UTF-16BE hex string, " +
    "content array, indirect /Length") {
    val c1 = "BT (first ) Tj <FEFF00410042> Tj ET"
    val c2 = "BT (second) Tj ET"
    val pdf = ("%PDF-1.4\n" +
      "1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n" +
      "2 0 obj << /Type /Pages /Kids [ 3 0 R ] /Count 1 >> endobj\n" +
      "3 0 obj << /Type /Page /Parent 2 0 R /Contents [ 4 0 R 6 0 R ]" +
      " >> endobj\n" +
      s"4 0 obj << /Length 5 0 R >> stream\n$c1\nendstream endobj\n" +
      s"5 0 obj ${c1.length} endobj\n" +
      s"6 0 obj << /Length ${c2.length} >> stream\n$c2\nendstream" +
      " endobj\n" +
      "%%EOF\n").getBytes("ISO-8859-1")
    val got = Multimodal.pdfExtractPages(pdf)
    assert(got.isDefined)
    // ET flushes 'first AB' then the 2nd stream appends on a new line
    assert(got.get.head._2 == "first AB\nsecond\n")
  }

  test("quote operator starts a new line; TJ shows array strings " +
    "and skips kerns") {
    val c = "BT (one) Tj (two) ' [ (th) -120 (ree) ] TJ ET"
    val pdf = ("%PDF-1.4\n" +
      "1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n" +
      "2 0 obj << /Type /Pages /Kids [ 3 0 R ] /Count 1 >> endobj\n" +
      "3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n" +
      s"4 0 obj << /Length ${c.length} >> stream\n$c\nendstream endobj\n" +
      "%%EOF\n").getBytes("ISO-8859-1")
    assert(Multimodal.pdfExtractPages(pdf).get.head._2 ==
      "one\ntwothree\n")
  }

  test("object-stream (PDF 1.5 ObjStm) documents round-trip: the " +
    "catalog/pages/page dicts live inside a compressed container") {
    (0 until 4).foreach { k =>
      val pages = (0 until 1 + k % 2).map { p =>
        (0 until 1 + (k + p) % 3).map(j => s"stm $k/$p/$j")
      }
      val bytes = Multimodal.syntheticPdf(k.toLong, pages,
        objStm = true)
      // the page dictionaries must NOT be scannable at top level
      assert(!new String(bytes, "ISO-8859-1").contains("/Type /Page "))
      val got = Multimodal.pdfExtractPages(bytes)
      assert(got.isDefined, s"k=$k")
      got.get.zip(pages).foreach { case ((no, text), lines) =>
        assert(text == pageText(lines), s"k=$k page=$no")
      }
    }
  }

  test("rejection: non-PDF, truncated stream, unsupported filter, " +
    "pages-tree cycle — all None, never a throw") {
    assert(Multimodal.pdfExtractPages("hello".getBytes).isEmpty)
    val good = Multimodal.syntheticPdf(2L, Seq(Seq("x")))
    assert(Multimodal.pdfExtractPages(good).isDefined)
    assert(Multimodal
      .pdfExtractPages(java.util.Arrays.copyOf(good, good.length / 2))
      .isEmpty)
    val lzw = ("%PDF-1.4\n" +
      "1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n" +
      "2 0 obj << /Type /Pages /Kids [ 3 0 R ] /Count 1 >> endobj\n" +
      "3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n" +
      "4 0 obj << /Length 4 /Filter /LZWDecode >> stream\nabcd\n" +
      "endstream endobj\n%%EOF\n").getBytes("ISO-8859-1")
    assert(Multimodal.pdfExtractPages(lzw).isEmpty)
    val cycle = ("%PDF-1.4\n" +
      "1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n" +
      "2 0 obj << /Type /Pages /Kids [ 2 0 R ] /Count 1 >> endobj\n" +
      "%%EOF\n").getBytes("ISO-8859-1")
    assert(Multimodal.pdfExtractPages(cycle).isEmpty)
  }

  test("pdfPages over a blob column: page rows for good docs, one " +
    "sentinel row for broken ones") {
    val s = spark
    import s.implicits._
    val blobs = spark.range(0, 12).as[Long].map { id =>
      val b = Multimodal.syntheticPdf(id,
        Seq(Seq(s"p0 of $id"), Seq(s"p1 of $id", "tail")))
      graft.multimodal.MediaBlob(id, "application/pdf",
        if (id % 5 == 0) b.take(60) else b)
    }
    val rows = Multimodal.pdfPages(blobs).collect()
      .sortBy(r => (r.media_id, r.page_no))
    (0L until 12L).foreach { id =>
      val mine = rows.filter(_.media_id == id)
      if (id % 5 == 0) {
        assert(mine.length == 1 && !mine.head.ok)
      } else {
        assert(mine.length == 2 && mine.forall(_.ok))
        assert(mine(0).text == s"p0 of $id\n")
        assert(mine(1).text == s"p1 of $id\ntail\n")
        assert(mine(1).n_chars == mine(1).text.length.toLong)
      }
    }
  }
}
