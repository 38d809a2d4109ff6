package graft.sources

import org.apache.spark.sql.Dataset
import graft.multimodal.MediaBlob

/** One EPUB chapter in spine (reading) order: `href` is the
  * manifest-resolved member path, `text` the chapter's XHTML body
  * stripped to main text (the same chrome-tag + tag-strip + whitespace
  * collapse rules as `Text.htmlMainText`, applied blob-side). A
  * chapter whose member is missing or unextractable keeps its row
  * with `ok=false`; a book whose container/OPF/spine cannot be walked
  * collapses to ONE all-sentinel row.
  */
case class EpubChapter(media_id: Long, chapter_no: Int, href: String,
                       n_chars: Long, text: String, ok: Boolean)

/** EPUB text extraction — books are the densest long-form text in an
  * LLM corpus and EPUB is their dominant open format: a ZIP
  * ([[Zip]]'s walk does the envelope work) whose
  * `META-INF/container.xml` names an OPF package document, whose
  * manifest maps ids to member hrefs and whose spine lists the
  * reading order. The XML lookups are attribute-regex based (the
  * offline-RSS stance — lenient against the attribute-order and
  * namespace variety real books carry), hrefs resolve relative to the
  * OPF directory with `..` collapsing, and each chapter's XHTML is
  * reduced to text with the same rules the HTML main-text column
  * function applies (script/style/iframe/nav/header/footer dropped
  * whole, tags to spaces, whitespace collapsed). Partition-wise over
  * the blob column — the [[Tar.entries]] contract.
  */
object Epub {

  private val Bad = EpubChapter(0L, 0, "", -1L, "", ok = false)

  private val ChromeTags =
    Seq("script", "style", "iframe", "nav", "header", "footer")

  /** blob-side mirror of `Text.htmlMainText`'s column rules */
  def stripHtml(html: String): String = {
    val noChrome = ChromeTags.foldLeft(html)((h, tag) =>
      h.replaceAll(s"(?is)<$tag[^>]*>.*?</$tag>", " "))
    noChrome.replaceAll("<[^>]+>", " ")
      .replaceAll("\\s+", " ").trim
  }

  private def attr(tag: String, name: String): Option[String] = {
    val m = java.util.regex.Pattern
      .compile(name + "\\s*=\\s*\"([^\"]*)\"")
      .matcher(tag)
    if (m.find()) Some(m.group(1)) else None
  }

  /** resolve `href` against the OPF's directory, collapsing `..` */
  private def resolvePath(opfDir: String, href: String): String = {
    val joined = if (opfDir.isEmpty) href else s"$opfDir/$href"
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    joined.split('/').foreach {
      case ".." => if (out.nonEmpty) out.remove(out.length - 1)
      case "."  =>
      case seg if seg.nonEmpty => out += seg
      case _ =>
    }
    out.mkString("/")
  }

  def parse(id: Long, bytes: Array[Byte]): Seq[EpubChapter] = {
    def bad = Seq(Bad.copy(media_id = id))
    val members =
      scala.collection.mutable.LinkedHashMap.empty[String, Array[Byte]]
    val entries = Zip.parse(id, bytes,
      onMember = (n, d) => members(n) = d)
    if (entries.length == 1 && !entries.head.ok) return bad
    val container = members.get("META-INF/container.xml")
      .map(new String(_, "UTF-8")).getOrElse(return bad)
    val rootM = java.util.regex.Pattern
      .compile("full-path\\s*=\\s*\"([^\"]+)\"").matcher(container)
    if (!rootM.find()) return bad
    val opfPath = rootM.group(1)
    val opf = members.get(opfPath).map(new String(_, "UTF-8"))
      .getOrElse(return bad)
    val opfDir = {
      val cut = opfPath.lastIndexOf('/')
      if (cut < 0) "" else opfPath.substring(0, cut)
    }
    // manifest: id → href over <item …> tags, attribute order free
    val hrefById = scala.collection.mutable.HashMap.empty[String, String]
    val itemM = java.util.regex.Pattern
      .compile("(?is)<item\\b[^>]*>").matcher(opf)
    while (itemM.find()) {
      val tag = itemM.group()
      for (i <- attr(tag, "id"); h <- attr(tag, "href"))
        hrefById(i) = h
    }
    // spine: ordered idrefs
    val spine = Vector.newBuilder[String]
    val refM = java.util.regex.Pattern
      .compile("(?is)<itemref\\b[^>]*>").matcher(opf)
    while (refM.find()) attr(refM.group(), "idref").foreach(spine += _)
    val order = spine.result()
    if (order.isEmpty) return bad
    order.zipWithIndex.map { case (idref, no) =>
      hrefById.get(idref).map(resolvePath(opfDir, _)) match {
        case Some(path) =>
          members.get(path) match {
            case Some(data) =>
              val text = stripHtml(new String(data, "UTF-8"))
              EpubChapter(id, no, path, text.length.toLong, text,
                ok = true)
            case None =>
              EpubChapter(id, no, path, -1L, "", ok = false)
          }
        case None => EpubChapter(id, no, "", -1L, "", ok = false)
      }
    }
  }

  /** Partition-wise chapter walk — the [[Tar.entries]] contract. */
  def chapters(blobs: Dataset[MediaBlob]): Dataset[EpubChapter] = {
    import blobs.sparkSession.implicits._
    blobs.mapPartitions(_.flatMap(b => parse(b.media_id, b.content)))
  }

  /** Genuine minimal EPUB: `mimetype` (stored, first — the spec's
    * layout), container.xml, an OPF with manifest+spine, and one
    * XHTML member per chapter (each body word in its own paragraph;
    * head carries a script block the stripper must drop). Member
    * XHTML deflated via [[Zip.synthetic]].
    */
  def synthetic(id: Long, chapterWords: Seq[Seq[String]]): Array[Byte] = {
    val items = chapterWords.indices.map { c =>
      val href = s"ch$c.xhtml"
      (s"c$c", href)
    }
    val manifest = items.map { case (cid, href) =>
      s"""<item id="$cid" href="$href" media-type="application/xhtml+xml"/>"""
    }.mkString("\n    ")
    val spine = items.map { case (cid, _) =>
      s"""<itemref idref="$cid"/>"""
    }.mkString("\n    ")
    val opf =
      s"""<?xml version="1.0"?>
         |<package xmlns="http://www.idpf.org/2007/opf" version="3.0">
         |  <manifest>
         |    $manifest
         |  </manifest>
         |  <spine>
         |    $spine
         |  </spine>
         |</package>""".stripMargin
    val container =
      """<?xml version="1.0"?>
        |<container version="1.0">
        |  <rootfiles>
        |    <rootfile full-path="OEBPS/content.opf"
        |      media-type="application/oebps-package+xml"/>
        |  </rootfiles>
        |</container>""".stripMargin
    val xhtmls = chapterWords.zipWithIndex.map { case (words, c) =>
      val paras = words.map(w => s"<p>$w</p>").mkString("\n  ")
      s"OEBPS/ch$c.xhtml" ->
        s"""<html><head><title/>
           |<script>var junk = $id;</script></head>
           |<body>
           |  $paras
           |</body></html>""".stripMargin
    }
    val members: Seq[(String, Array[Byte], String)] =
      Seq(("mimetype", "application/epub+zip".getBytes("UTF-8"),
        "stored"),
        ("META-INF/container.xml", container.getBytes("UTF-8"),
          "deflate"),
        ("OEBPS/content.opf", opf.getBytes("UTF-8"), "deflate")) ++
        xhtmls.map { case (n, x) => (n, x.getBytes("UTF-8"), "deflate") }
    Zip.synthetic(id, members)
  }
}
