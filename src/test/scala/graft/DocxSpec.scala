package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Docx
import graft.multimodal.MediaBlob

/** DOCX paragraph extraction: writer round-trips across fragmented
  * runs, entity unescaping, tab/break elements, and the failure
  * contracts.
  */
class DocxSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark

  test("synthetic documents round-trip: fragmented runs rejoin, " +
    "entities unescape, paragraph order preserved") {
    (0 until 6).foreach { k =>
      val paras = (0 until 1 + k % 4).map(p =>
        s"para $k/$p with <angles> & amp")
      val got = Docx.parse(k.toLong, Docx.synthetic(k.toLong, paras))
      assert(got.length == paras.length, s"k=$k")
      got.zip(paras).foreach { case (row, p) =>
        assert(row.ok && row.text == p)
        assert(row.n_chars == p.length.toLong)
      }
    }
  }

  test("tab and break elements become control characters; empty " +
    "paragraphs survive") {
    val xml = """<w:document><w:body>
      |<w:p><w:r><w:t>a</w:t></w:r><w:tab/><w:r><w:t>b</w:t></w:r>
      |<w:br/><w:r><w:t>c</w:t></w:r></w:p>
      |<w:p/>
      |<w:p><w:r><w:t xml:space="preserve"> spaced </w:t></w:r></w:p>
      |</w:body></w:document>""".stripMargin
    val paras = graft.sources.Docx.paragraphs(xml)
    assert(paras == Vector("a\tb\nc", "", " spaced "))
  }

  test("failure contracts: truncated archive and a zip without " +
    "word/document.xml both collapse to one sentinel row") {
    val good = Docx.synthetic(1L, Seq("hello"))
    assert(Docx.parse(1L, good).head.ok)
    assert(!Docx.parse(1L, good.take(good.length / 3)).head.ok)
    val notDocx = graft.sources.Zip.synthetic(2L,
      Seq(("other.txt", "x".getBytes("UTF-8"), "deflate")))
    val got = Docx.parse(2L, notDocx)
    assert(got.length == 1 && !got.head.ok)
  }

  test("paragraphRows over a blob column") {
    val s = spark
    import s.implicits._
    val blobs = spark.range(0, 8).as[Long].map { id =>
      val b =
        if (id % 5 == 4) "junk".getBytes("UTF-8")
        else Docx.synthetic(id,
          (0 until 1 + (id % 3).toInt).map(p => s"d-$id-$p"))
      MediaBlob(id, "application/vnd.openxmlformats", b)
    }
    val rows = Docx.paragraphRows(blobs).collect().groupBy(_.media_id)
    (0L until 8L).foreach { id =>
      if (id % 5 == 4) assert(rows(id).length == 1 && !rows(id).head.ok)
      else {
        assert(rows(id).length == 1 + (id % 3).toInt)
        assert(rows(id).forall(_.ok))
      }
    }
  }
}
