package graft.sources

import org.apache.spark.sql.Dataset
import graft.multimodal.MediaBlob

/** One ODT paragraph: `text` concatenates the paragraph's character
  * data with nested spans flattened, `<text:tab/>` as '\t' and
  * `<text:line-break/>` as '\n'; headings (`<text:h>`) count as
  * paragraphs — they are text units a corpus keeps. A document whose
  * archive or `content.xml` cannot be read collapses to ONE
  * all-sentinel row.
  */
case class OdtParagraph(media_id: Long, para_no: Int, n_chars: Long,
                        text: String, ok: Boolean)

/** OpenDocument Text extraction — the LibreOffice/OpenOffice share of
  * a crawled corpus, the third office container next to [[Docx]] and
  * [[Epub]]: a ZIP whose `content.xml` holds the document body, with
  * visible text in `<text:p>` paragraphs and `<text:h>` headings
  * under `<office:text>`. The parser is regex-shaped over the XML
  * (the [[Epub]]/[[Docx]] stance — attribute order, namespace
  * prefixes and self-closed variants all appear in the wild):
  * paragraph/heading elements split the body, nested markup
  * (`<text:span>`, bookmarks, ...) is flattened to its character
  * data, `<text:tab/>` becomes '\t', `<text:line-break/>` '\n', and
  * the five XML entities unescape. Partition-wise over the blob
  * column — the [[Tar.entries]] contract.
  */
object Odt {

  private val Bad = OdtParagraph(0L, 0, -1L, "", ok = false)

  /** paragraphs + headings of an ODT content.xml body */
  def paragraphs(xml: String): Vector[String] = {
    val para = java.util.regex.Pattern
      .compile("(?is)<text:(p|h)[\\s>].*?</text:\\1>|<text:(p|h)/>")
    val out = Vector.newBuilder[String]
    val pm = para.matcher(xml)
    while (pm.find()) {
      val inner = {
        val g = pm.group()
        val open = g.indexOf('>')
        val close = g.lastIndexOf('<')
        if (g.endsWith("/>") || close <= open) ""
        else g.substring(open + 1, close)
      }
      // flatten nested markup: tabs and line-breaks become control
      // characters, every other tag drops, entities unescape
      val flat = inner
        .replaceAll("(?is)<text:tab\\s*/>", "\t")
        .replaceAll("(?is)<text:line-break\\s*/>", "\n")
        .replaceAll("(?is)<[^>]*>", "")
      out += Docx.unescapeXml(flat)
    }
    out.result()
  }

  def parse(id: Long, bytes: Array[Byte]): Seq[OdtParagraph] = {
    def bad = Seq(Bad.copy(media_id = id))
    var contentXml: String = null
    val entries = Zip.parse(id, bytes, onMember = (n, d) =>
      if (n == "content.xml") contentXml = new String(d, "UTF-8"))
    if ((entries.length == 1 && !entries.head.ok) || contentXml == null)
      return bad
    val paras = paragraphs(contentXml)
    if (paras.isEmpty) bad
    else paras.zipWithIndex.map { case (text, no) =>
      OdtParagraph(id, no, text.length.toLong, text, ok = true)
    }
  }

  /** Partition-wise paragraph walk — the [[Tar.entries]] contract. */
  def paragraphRows(blobs: Dataset[MediaBlob]): Dataset[OdtParagraph] = {
    import blobs.sparkSession.implicits._
    blobs.mapPartitions(_.flatMap(b => parse(b.media_id, b.content)))
  }

  /** Genuine minimal ODT: the `mimetype` member FIRST and STORED
    * (the OpenDocument package rule), `META-INF/manifest.xml`, and a
    * `content.xml` whose paragraphs carry nested spans (the styling
    * fragmentation real writers produce), escaped entities, and a
    * heading. Deflated via [[Zip.synthetic]].
    */
  def synthetic(id: Long, paras: Seq[String],
                heading: String = null): Array[Byte] = {
    def esc(s: String): String =
      s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    val body = new StringBuilder
    if (heading != null)
      body ++= s"""<text:h text:outline-level="1">${esc(heading)}</text:h>\n      """
    paras.zipWithIndex.foreach { case (p, i) =>
      // nest half the paragraph in a span like real writers do
      val cut = p.length / 2
      val (a, b) = p.splitAt(cut)
      body ++= s"""<text:p text:style-name="P${i % 3}">${esc(a)}""" +
        s"""<text:span text:style-name="T1">${esc(b)}</text:span>""" +
        "</text:p>\n      "
    }
    val content =
      s"""<?xml version="1.0" encoding="UTF-8"?>
         |<office:document-content
         | xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0"
         | xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0">
         | <office:body>
         |  <office:text>
         |      ${body.toString.trim}
         |  </office:text>
         | </office:body>
         |</office:document-content>""".stripMargin
    val manifest =
      """<?xml version="1.0" encoding="UTF-8"?>
        |<manifest:manifest
        | xmlns:manifest="urn:oasis:names:tc:opendocument:xmlns:manifest:1.0">
        | <manifest:file-entry manifest:full-path="/"
        |  manifest:media-type="application/vnd.oasis.opendocument.text"/>
        | <manifest:file-entry manifest:full-path="content.xml"
        |  manifest:media-type="text/xml"/>
        |</manifest:manifest>""".stripMargin
    Zip.synthetic(id, Seq(
      ("mimetype",
        "application/vnd.oasis.opendocument.text".getBytes("UTF-8"),
        "store"),
      ("META-INF/manifest.xml", manifest.getBytes("UTF-8"), "deflate"),
      ("content.xml", content.getBytes("UTF-8"), "deflate")))
  }
}
