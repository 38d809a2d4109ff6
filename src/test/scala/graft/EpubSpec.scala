package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Epub
import graft.multimodal.MediaBlob

/** EPUB chapter extraction: writer round-trips in spine order, the
  * container→OPF→manifest→spine walk, href resolution, chrome-tag
  * stripping, and the per-chapter vs whole-book failure contracts.
  */
class EpubSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark

  test("synthetic books round-trip: chapters in spine order, script " +
    "blocks stripped, words joined by single spaces") {
    (0 until 6).foreach { k =>
      val chapters = (0 until 1 + k % 3).map { c =>
        (0 until 2 + (k + c) % 3).map(j => s"ep-$k-$c-w$j")
      }
      val bytes = Epub.synthetic(k.toLong, chapters)
      val got = Epub.parse(k.toLong, bytes)
      assert(got.length == chapters.length, s"k=$k")
      got.zip(chapters).foreach { case (ch, words) =>
        assert(ch.ok && ch.href == s"OEBPS/ch${ch.chapter_no}.xhtml")
        assert(ch.text == words.mkString(" "), s"k=$k ch=${ch.chapter_no}")
        assert(ch.n_chars == ch.text.length.toLong)
      }
    }
  }

  test("stripHtml mirrors the column rules: chrome dropped whole, " +
    "tags to spaces, whitespace collapsed") {
    val html = "<html><head><style>p{color:red}</style></head>" +
      "<body><nav>menu</nav><p>keep  this</p>\n<div>and</div>" +
      "<footer>not this</footer> that</body></html>"
    assert(Epub.stripHtml(html) == "keep this and that")
  }

  test("href resolution collapses dot segments relative to the OPF " +
    "directory") {
    // hand-build: OPF in OEBPS/, href ../text/ch.xhtml → text/ch.xhtml
    val container =
      """<container><rootfiles><rootfile full-path="OEBPS/pkg.opf"
        |media-type="x"/></rootfiles></container>""".stripMargin
    val opf =
      """<package><manifest>
        |<item href="../text/ch.xhtml" id="a" media-type="x"/>
        |</manifest><spine><itemref idref="a"/></spine></package>"""
        .stripMargin
    val xhtml = "<body><p>resolved</p></body>"
    val members = Seq(
      ("META-INF/container.xml", container.getBytes("UTF-8"), "deflate"),
      ("OEBPS/pkg.opf", opf.getBytes("UTF-8"), "deflate"),
      ("text/ch.xhtml", xhtml.getBytes("UTF-8"), "deflate"))
    val bytes = graft.sources.Zip.synthetic(9L, members)
    val got = Epub.parse(9L, bytes)
    assert(got.length == 1 && got.head.ok)
    assert(got.head.href == "text/ch.xhtml")
    assert(got.head.text == "resolved")
  }

  test("failure contracts: truncated book → one sentinel; missing " +
    "chapter member → that chapter's row ok=false, others fine") {
    val good = Epub.synthetic(3L, Seq(Seq("a"), Seq("b")))
    assert(Epub.parse(3L, good.take(good.length / 3)).head.ok == false)
    // build a book whose spine names a manifest id with no member
    val container =
      """<container><rootfiles><rootfile full-path="c.opf"
        |media-type="x"/></rootfiles></container>""".stripMargin
    val opf =
      """<package><manifest>
        |<item id="a" href="ok.xhtml" media-type="x"/>
        |<item id="b" href="gone.xhtml" media-type="x"/>
        |</manifest><spine><itemref idref="a"/><itemref idref="b"/>
        |</spine></package>""".stripMargin
    val members = Seq(
      ("META-INF/container.xml", container.getBytes("UTF-8"), "deflate"),
      ("c.opf", opf.getBytes("UTF-8"), "deflate"),
      ("ok.xhtml", "<p>here</p>".getBytes("UTF-8"), "deflate"))
    val got = Epub.parse(4L, graft.sources.Zip.synthetic(4L, members))
    assert(got.length == 2)
    assert(got(0).ok && got(0).text == "here")
    assert(!got(1).ok && got(1).href == "gone.xhtml")
  }

  test("chapters over a blob column: rows per book, sentinel for " +
    "non-EPUB zips") {
    val s = spark
    import s.implicits._
    val blobs = spark.range(0, 9).as[Long].map { id =>
      val b =
        if (id % 4 == 3)
          graft.sources.Zip.synthetic(id,
            Seq(("just.txt", "not an epub".getBytes("UTF-8"),
              "deflate")))
        else Epub.synthetic(id,
          (0 until 1 + (id % 2).toInt).map(c => Seq(s"w-$id-$c")))
      MediaBlob(id, "application/epub+zip", b)
    }
    val rows = Epub.chapters(blobs).collect().groupBy(_.media_id)
    (0L until 9L).foreach { id =>
      if (id % 4 == 3)
        assert(rows(id).length == 1 && !rows(id).head.ok)
      else assert(rows(id).forall(_.ok) &&
        rows(id).length == 1 + (id % 2).toInt)
    }
  }
}
