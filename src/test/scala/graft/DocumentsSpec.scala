package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{Documents, Docx, Epub, Zip}
import graft.multimodal.Multimodal

/** Heterogeneous document dispatch: each kind routes to its extractor,
  * non-document ZIPs and unknown blobs take their sentinels, broken
  * bodies keep their kind with ok=false.
  */
class DocumentsSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark

  test("routing: pdf, epub, docx, html, plain zip, junk, broken pdf") {
    val pdf = Multimodal.syntheticPdf(1L, Seq(Seq("one"), Seq("two", "3")))
    val r1 = Documents.docTextOne(1L, pdf)
    assert(r1.kind == "pdf" && r1.ok && r1.n_units == 2)
    assert(r1.n_chars == "one\n".length + "two\n3\n".length)

    val epub = Epub.synthetic(2L, Seq(Seq("a", "bb"), Seq("ccc")))
    val r2 = Documents.docTextOne(2L, epub)
    assert(r2.kind == "epub" && r2.ok && r2.n_units == 2)
    assert(r2.n_chars == "a bb".length + "ccc".length)

    val docx = Docx.synthetic(3L, Seq("hello", "world!"))
    val r3 = Documents.docTextOne(3L, docx)
    assert(r3.kind == "docx" && r3.ok && r3.n_units == 2)
    assert(r3.n_chars == 11)

    val html = "﻿ <html><head><script>junk</script></head>" +
      "<body><p>hi</p> <p>there</p></body></html>"
    val r4 = Documents.docTextOne(4L, html.getBytes("UTF-8"))
    assert(r4.kind == "html" && r4.ok && r4.n_units == 1)
    assert(r4.n_chars == "hi there".length)

    val zip = Zip.synthetic(5L,
      Seq(("data.bin", Array[Byte](1, 2, 3), "deflate")))
    val r5 = Documents.docTextOne(5L, zip)
    assert(r5.kind == "zip" && !r5.ok)

    // plain text is a DOCUMENT now (the md leg), not junk
    val r6 = Documents.docTextOne(6L, "plain words".getBytes("UTF-8"))
    assert(r6.kind == "md" && r6.ok && r6.n_units == 1 &&
      r6.n_chars == 11)

    val r7 = Documents.docTextOne(7L, pdf.take(pdf.length / 2))
    assert(r7.kind == "pdf" && !r7.ok)

    // true binary junk still takes the "" sentinel
    val r8 = Documents.docTextOne(8L,
      Array[Byte](0, 1, 2, 3, 4, 5, 6, 0))
    assert(r8.kind == "" && !r8.ok)
  }

  test("rtf: control words drop, destinations skip, escapes decode") {
    val rtf = graft.sources.Rtf.synthetic(Seq("rt-9-0", "rt-9-1"))
    val r = Documents.docTextOne(9L, rtf)
    assert(r.kind == "rtf" && r.ok && r.n_units == 2)
    assert(r.n_chars == 6 + 6 + 1)
    val paras = graft.sources.Rtf.extractParagraphs(rtf).get
    assert(paras == Seq("rt-9-0", "rt-9-1"))
    // \uN with \uc1 fallback skip, \tab, literal escapes
    val uni = ("{\\rtf1\\uc1 a\\u233 e b\\tab c\\{d\\}" +
      "{\\*\\unknowndest zap}\\par}").getBytes("ISO-8859-1")
    val p2 = graft.sources.Rtf.extractParagraphs(uni).get
    assert(p2 == Seq("aé b\tc{d}"))
    // broken: unbalanced groups reject; non-RTF rejects
    assert(graft.sources.Rtf
      .extractParagraphs("{\\rtf1 x}}".getBytes("ISO-8859-1")).isEmpty)
    assert(graft.sources.Rtf
      .extractParagraphs("hello".getBytes("UTF-8")).isEmpty)
    val rb = Documents.docTextOne(10L,
      "{\\rtf1 }".getBytes("ISO-8859-1"))
    assert(rb.kind == "rtf" && !rb.ok) // parses but has no text
  }

  test("md: heading/bullet/emphasis/link strip, line units") {
    val md = "# Title\n\n- item **bold** one\nplain [x](http://e) two\n"
    val r = Documents.docTextOne(11L, md.getBytes("UTF-8"))
    assert(r.kind == "md" && r.ok && r.n_units == 3)
    assert(r.n_chars == "Title".length + "item bold one".length +
      "plain x two".length + 2)
    assert(Documents.mdStripLine("## h `c` __b__") == "h c b")
    assert(Documents.mdStripLine("3. ![alt](u) t") == "alt t")
    // single-* emphasis deliberately passes through (arithmetic)
    assert(Documents.mdStripLine("2 * 3") == "2 * 3")
  }

  test("docTextDispatch over a mixed blob column") {
    val s = spark
    import s.implicits._
    val blobs = spark.range(0, 10).as[Long].map { id =>
      val b = (id % 3) match {
        case 0 => Multimodal.syntheticPdf(id, Seq(Seq(s"p$id")))
        case 1 => Epub.synthetic(id, Seq(Seq(s"e$id")))
        case _ => Docx.synthetic(id, Seq(s"d$id"))
      }
      graft.multimodal.MediaBlob(id, "application/octet-stream", b)
    }
    val rows = Documents.docTextDispatch(blobs).collect()
      .sortBy(_.media_id)
    (0L until 10L).foreach { id =>
      val exp = Seq("pdf", "epub", "docx")((id % 3).toInt)
      assert(rows(id.toInt).kind == exp && rows(id.toInt).ok)
      assert(rows(id.toInt).n_units == 1)
    }
  }


  test("odt: mimetype-gated routing, span flattening, tab/line-break " +
    "controls, headings as units, and sentinel contracts") {
    import graft.sources.{Documents, Odt, Zip}
    val odt = Odt.synthetic(7L, Seq("alpha & beta", "g<a>mma"),
      heading = "Head 7")
    val d = Documents.docTextOne(7L, odt)
    assert(d.kind == "odt" && d.ok)
    assert(d.n_units == 3L) // heading + 2 paragraphs
    assert(d.n_chars ==
      "Head 7".length + "alpha & beta".length + "g<a>mma".length)
    // paragraph-level rows: span fragmentation flattens away and
    // entities round-trip
    val rows = Odt.parse(7L, odt)
    assert(rows.map(_.text) ==
      Seq("Head 7", "alpha & beta", "g<a>mma"))
    // tabs and line-breaks inside a paragraph become controls
    val xml = "<office:text><text:p>a<text:tab/>b" +
      "<text:line-break/>c</text:p></office:text>"
    assert(Odt.paragraphs(xml) == Vector("a\tb\nc"))
    // a content.xml ZIP WITHOUT the OpenDocument mimetype is NOT odt
    val fake = Zip.synthetic(8L, Seq(
      ("content.xml", "<text:p>x</text:p>".getBytes("UTF-8"),
        "deflate")))
    assert(Documents.docTextOne(8L, fake).kind == "zip")
    // truncation: the odt kind survives with ok=false? (the archive
    // itself breaks -> zip sentinel path)
    assert(!Documents.docTextOne(7L, odt.take(30)).ok)
    // empty-body odt collapses to the sentinel row
    val empty = Zip.synthetic(9L, Seq(
      ("mimetype",
        "application/vnd.oasis.opendocument.text".getBytes("UTF-8"),
        "store"),
      ("content.xml",
        "<office:text></office:text>".getBytes("UTF-8"), "deflate")))
    val de = Documents.docTextOne(9L, empty)
    assert(de.kind == "odt" && !de.ok)
  }
}
