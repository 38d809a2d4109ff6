package graft.sources

import org.apache.spark.sql.Dataset
import graft.multimodal.MediaBlob

/** One DOCX paragraph: `text` is the concatenation of the paragraph's
  * `<w:t>` runs (tab elements become '\t', explicit breaks within a
  * paragraph '\n'); `n_chars` = text.length. Empty paragraphs are
  * kept (they carry document structure). A book whose archive or
  * `word/document.xml` cannot be read collapses to ONE all-sentinel
  * row.
  */
case class DocxParagraph(media_id: Long, para_no: Int, n_chars: Long,
                         text: String, ok: Boolean)

/** DOCX text extraction — the office-document share of a crawled
  * corpus: a ZIP ([[Zip]]'s walk) whose `word/document.xml` holds
  * WordprocessingML, where visible text lives in `<w:t>` runs inside
  * `<w:p>` paragraphs. The parser is regex-shaped over the XML (the
  * [[Epub]] stance — attribute order, namespace prefixes and
  * self-closed variants all appear in the wild): paragraphs split on
  * `<w:p>` boundaries, runs collected per paragraph, `<w:tab/>` as
  * '\t', `<w:br/>` as '\n', and the five XML entities unescaped.
  * Partition-wise over the blob column — the [[Tar.entries]]
  * contract.
  */
object Docx {

  private val Bad = DocxParagraph(0L, 0, -1L, "", ok = false)

  private[sources] def unescapeXml(s: String): String =
    s.replace("&lt;", "<").replace("&gt;", ">")
      .replace("&quot;", "\"").replace("&apos;", "'")
      .replace("&amp;", "&")

  /** paragraphs of a WordprocessingML body */
  def paragraphs(xml: String): Vector[String] = {
    val para = java.util.regex.Pattern
      .compile("(?is)<w:p[\\s>].*?</w:p>|<w:p/>")
    val piece = java.util.regex.Pattern
      .compile("(?is)<w:t(?:\\s[^>]*)?>(.*?)</w:t>|<w:tab\\s*/>|" +
        "<w:br\\s*/>")
    val out = Vector.newBuilder[String]
    val pm = para.matcher(xml)
    while (pm.find()) {
      val sb = new java.lang.StringBuilder()
      val im = piece.matcher(pm.group())
      while (im.find()) {
        val t = im.group(1)
        if (t != null) sb.append(unescapeXml(t))
        else if (im.group().startsWith("<w:tab")) sb.append('\t')
        else sb.append('\n')
      }
      out += sb.toString
    }
    out.result()
  }

  def parse(id: Long, bytes: Array[Byte]): Seq[DocxParagraph] = {
    def bad = Seq(Bad.copy(media_id = id))
    var docXml: String = null
    val entries = Zip.parse(id, bytes, onMember = (n, d) =>
      if (n == "word/document.xml") docXml = new String(d, "UTF-8"))
    if ((entries.length == 1 && !entries.head.ok) || docXml == null)
      return bad
    val paras = paragraphs(docXml)
    if (paras.isEmpty) bad
    else paras.zipWithIndex.map { case (text, no) =>
      DocxParagraph(id, no, text.length.toLong, text, ok = true)
    }
  }

  /** Partition-wise paragraph walk — the [[Tar.entries]] contract. */
  def paragraphRows(blobs: Dataset[MediaBlob]): Dataset[DocxParagraph] = {
    import blobs.sparkSession.implicits._
    blobs.mapPartitions(_.flatMap(b => parse(b.media_id, b.content)))
  }

  /** Genuine minimal DOCX: [Content_Types].xml, the package rels, and
    * a WordprocessingML document whose paragraphs split their text
    * across MULTIPLE runs (the run fragmentation real writers
    * produce), with XML entities escaped. Deflated via
    * [[Zip.synthetic]].
    */
  def synthetic(id: Long, paras: Seq[String]): Array[Byte] = {
    def esc(s: String): String =
      s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    val body = paras.map { p =>
      // fragment each paragraph into ~2 runs like real writers do
      val cut = p.length / 2
      val (a, b) = p.splitAt(cut)
      s"""<w:p><w:r><w:t xml:space="preserve">${esc(a)}</w:t></w:r>""" +
        s"""<w:r><w:t xml:space="preserve">${esc(b)}</w:t></w:r></w:p>"""
    }.mkString("\n    ")
    val doc =
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<w:document
         | xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">
         |  <w:body>
         |    $body
         |  </w:body>
         |</w:document>""".stripMargin
    val contentTypes =
      """<?xml version="1.0"?>
        |<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
        |  <Default Extension="xml" ContentType="application/xml"/>
        |</Types>""".stripMargin
    val rels =
      """<?xml version="1.0"?>
        |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |  <Relationship Id="rId1" Target="word/document.xml"
        |   Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument"/>
        |</Relationships>""".stripMargin
    Zip.synthetic(id, Seq(
      ("[Content_Types].xml", contentTypes.getBytes("UTF-8"), "deflate"),
      ("_rels/.rels", rels.getBytes("UTF-8"), "deflate"),
      ("word/document.xml", doc.getBytes("UTF-8"), "deflate")))
  }
}
