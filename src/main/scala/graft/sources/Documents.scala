package graft.sources

import org.apache.spark.sql.Dataset
import graft.multimodal.Multimodal
import graft.multimodal.MediaBlob

/** One document-column row: `kind` ∈ {"pdf", "epub", "docx", "odt",
  * "html", "rtf", "md", "zip", ""}; `n_units` counts the format's natural
  * text unit (pages / chapters / paragraphs / lines / 1), `n_chars`
  * total extracted characters. A recognized container whose body
  * fails keeps its kind with ok=false; an unrecognized blob is the
  * "" sentinel.
  */
case class DocText(media_id: Long, kind: String, n_units: Long,
                   n_chars: Long, ok: Boolean)

/** Heterogeneous DOCUMENT dispatch — the text-corpus capstone the way
  * the envelope dispatch is for archives: one crawl column carries
  * PDFs next to EPUBs next to DOCX next to raw HTML, and the curation
  * funnel wants (kind, units, chars) per blob in ONE partition-wise
  * pass. Routing is sniff-shaped: `%PDF-` → the scan-based page
  * extractor; `PK..` → ZIP, then `word/document.xml` claims DOCX,
  * `content.xml` + the OpenDocument-text mimetype member claims ODT,
  * and `META-INF/container.xml` claims EPUB (a ZIP that is none of
  * these stays `kind=zip, ok=false` — an archive, not a document);
  * a leading `<`
  * (after whitespace/BOM) → HTML main-text; `{\rtf` → the RTF
  * paragraph extractor; any OTHER blob that decodes as ≥90%-printable
  * UTF-8 text routes to the Markdown/plain-text leg ([[mdStripLine]]
  * per line) instead of the junk sentinel — on a real crawl column
  * the text long-tail dwarfs true junk. Each container leg reuses its
  * dedicated extractor verbatim — this operator adds only the
  * routing, so every format fact here is already under its own
  * oracle (q200/q202/q203).
  */
object Documents {

  private val Bad = DocText(0L, "", -1L, -1L, ok = false)

  def docTextOne(id: Long, bytes: Array[Byte]): DocText = {
    if (bytes.length >= 5 && bytes(0) == '%' && bytes(1) == 'P' &&
      bytes(2) == 'D' && bytes(3) == 'F' && bytes(4) == '-') {
      Multimodal.pdfExtractPages(bytes) match {
        case Some(pages) =>
          DocText(id, "pdf", pages.length.toLong,
            pages.map(_._2.length.toLong).sum, ok = true)
        case None => DocText(id, "pdf", -1L, -1L, ok = false)
      }
    } else if (bytes.length >= 4 && bytes(0) == 'P' && bytes(1) == 'K' &&
      bytes(2) == 3 && bytes(3) == 4) {
      val names = scala.collection.mutable.Set.empty[String]
      var mimetype = ""
      val entries = Zip.parse(id, bytes, onMember = (n, d) => {
        names += n
        if (n == "mimetype") mimetype = new String(d, "UTF-8").trim
      })
      if (entries.length == 1 && !entries.head.ok)
        DocText(id, "zip", -1L, -1L, ok = false)
      else if (names("word/document.xml")) {
        val paras = Docx.parse(id, bytes)
        if (paras.forall(_.ok))
          DocText(id, "docx", paras.length.toLong,
            paras.map(_.n_chars).sum, ok = true)
        else DocText(id, "docx", -1L, -1L, ok = false)
      } else if (names("content.xml") &&
        mimetype == "application/vnd.oasis.opendocument.text") {
        val paras = Odt.parse(id, bytes)
        if (paras.forall(_.ok))
          DocText(id, "odt", paras.length.toLong,
            paras.map(_.n_chars).sum, ok = true)
        else DocText(id, "odt", -1L, -1L, ok = false)
      } else if (names("META-INF/container.xml")) {
        val chapters = Epub.parse(id, bytes)
        if (chapters.forall(_.ok))
          DocText(id, "epub", chapters.length.toLong,
            chapters.map(_.n_chars).sum, ok = true)
        else DocText(id, "epub", -1L, -1L, ok = false)
      } else DocText(id, "zip", -1L, -1L, ok = false)
    } else {
      val text = new String(bytes, "UTF-8")
      val trimmed = text.dropWhile(c => c.isWhitespace || c == '\ufeff')
      if (trimmed.startsWith("{\\rtf")) {
        Rtf.extractParagraphs(bytes) match {
          case Some(paras) if paras.nonEmpty =>
            DocText(id, "rtf", paras.length.toLong,
              paras.map(_.length.toLong).sum + (paras.length - 1),
              ok = true)
          case _ => DocText(id, "rtf", -1L, -1L, ok = false)
        }
      } else if (trimmed.startsWith("<")) {
        val main = Epub.stripHtml(trimmed)
        DocText(id, "html", 1L, main.length.toLong, ok = true)
      } else if (trimmed.nonEmpty && printableRatio(text) >= 0.9) {
        val lines = trimmed.linesIterator.map(mdStripLine)
          .filter(_.nonEmpty).toSeq
        if (lines.isEmpty) Bad.copy(media_id = id)
        else DocText(id, "md", lines.length.toLong,
          lines.map(_.length.toLong).sum + (lines.length - 1),
          ok = true)
      } else Bad.copy(media_id = id)
    }
  }

  /** Printable fraction of a decoded string: tab/newline and
    * non-control chars count; U+FFFD (invalid UTF-8) and other
    * controls don't \u2014 the binary-vs-text gate for the fallback leg.
    */
  private[graft] def printableRatio(text: String): Double = {
    if (text.isEmpty) return 0.0
    var ok = 0
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if ((!c.isControl || c == '\n' || c == '\r' || c == '\t') &&
        c != '\ufffd') ok += 1
      i += 1
    }
    ok.toDouble / text.length
  }

  /** Light Markdown-to-plain strip, one line at a time: heading
    * markers (`#{1,6} `), list bullets (`- `, `* `, `+ `, `N. `),
    * emphasis runs (`**`, `__`), inline code backticks, and
    * link/image syntax (`[text](url)` / `![alt](url)` \u2192 text) are
    * removed; everything else passes through. Deliberately a SUBSET
    * (single-`*` emphasis stays \u2014 it collides with arithmetic), so
    * the transform is closed-form replayable by the q209 oracle.
    */
  private[graft] def mdStripLine(line: String): String = {
    var s = line.trim
    s = s.replaceFirst("^#{1,6} ", "")
    s = s.replaceFirst("^([-*+]|\\d{1,3}\\.) ", "")
    s = s.replaceAll("!?\\[([^\\]]*)\\]\\([^)]*\\)", "$1")
    s = s.replace("**", "").replace("__", "").replace("`", "")
    s.trim
  }

  /** Partition-wise document dispatch — the [[Tar.entries]] contract */
  def docTextDispatch(blobs: Dataset[MediaBlob]): Dataset[DocText] = {
    import blobs.sparkSession.implicits._
    blobs.mapPartitions(_.map(b => docTextOne(b.media_id, b.content)))
  }
}
