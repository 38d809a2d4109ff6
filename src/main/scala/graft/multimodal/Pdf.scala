package graft.multimodal

import org.apache.spark.sql.Dataset

/** One extracted PDF page: `text` is the concatenation of the page's
  * content-stream show operations (Tj, TJ, quote forms), with a
  * newline at each text-line advance (Td, TD, T-star, quote) inside a
  * BT..ET block; `n_chars` = text.length. A malformed document yields
  * ONE all-sentinel row.
  */
case class PdfPage(media_id: Long, page_no: Int, n_chars: Long,
                   text: String, ok: Boolean)

/** PDF text extraction — the dominant document format of any
  * LLM-training corpus (papers, books, reports) and until now the one
  * text-bearing container this engine could not open. Clean-room
  * ISO 32000 subset, scan-shaped for robustness the way real-world
  * extractors are:
  *
  *  - objects are found by scanning for `N G obj` … `endobj` spans
  *    (no reliance on the xref table, which is wrong in a large
  *    fraction of crawled PDFs); the trailer dictionary (or any
  *    /Type /Catalog object) roots the walk;
  *  - the object grammar: dictionaries, arrays, names, numbers,
  *    literal strings with all escapes (octal, line continuations),
  *    hex strings, booleans/null, and `N G R` indirect references;
  *  - streams honor /Length (direct or indirect) and decode
  *    /FlateDecode (zlib via `java.util.zip.Inflater`) and
  *    /ASCIIHexDecode, under a shared bomb cap; other filters make
  *    the page a row-level failure, not a task failure;
  *  - the catalog's /Pages tree is walked depth-first (/Kids
  *    recursion with a visited set against reference cycles) to
  *    order pages; each page's /Contents (one stream or an array,
  *    concatenated per spec) is tokenized with the same lexer and
  *    the text operators interpreted: BT/ET state, Tj, TJ (strings
  *    shown, kern numbers ignored), the quote operators (newline +
  *    show), and the Td/TD/T-star/Tm line advances emitting a
  *    newline;
  *  - strings decode as PDFDocEncoding (latin-1 superset for the
  *    printable range) or UTF-16BE under a BOM.
  *
  * Partition-wise over the blob column — documents never shuffle, one
  * parser instance per partition. Reference behavioral analogue: the
  * reference treats fetched documents as opaque text sources
  * (extract_utils.py:50-59); this is the Spark-side seam that turns a
  * 100 TB crawl's PDF column into text rows.
  */
private[multimodal] trait PdfCodec extends Serializable {
  this: CompressionCodec =>

  private val PdfBadPage = PdfPage(0L, 0, -1L, "", ok = false)
  private val PdfStreamCap = 1 << 26

  // ------------------------------------------------------ object model

  private[multimodal] sealed trait PdfObj
  private[multimodal] case class PNum(v: Double) extends PdfObj
  private[multimodal] case class PStr(v: String) extends PdfObj
  private[multimodal] case class PName(v: String) extends PdfObj
  private[multimodal] case class PBool(v: Boolean) extends PdfObj
  private[multimodal] case object PNull extends PdfObj
  private[multimodal] case class PArr(v: Vector[PdfObj]) extends PdfObj
  private[multimodal] case class PDict(v: Map[String, PdfObj])
      extends PdfObj
  private[multimodal] case class PRef(num: Int, gen: Int) extends PdfObj
  /** dictionary + raw-stream span (decoded lazily) */
  private[multimodal] case class PStream(dict: PDict, dataOff: Int,
      declaredLen: Int) extends PdfObj

  // ----------------------------------------------------------- lexer

  /** Single-pass recursive-descent parser over a byte span. PDF is a
    * byte format: comments (%…), the six delimiter classes and
    * whitespace incl. NUL are handled per ISO 32000 §7.2.
    */
  private[multimodal] final class PdfLexer(val bytes: Array[Byte],
      var pos: Int, val end: Int) {
    def ws(c: Int): Boolean =
      c == ' ' || c == '\n' || c == '\r' || c == '\t' || c == '\f' ||
        c == 0
    def delim(c: Int): Boolean =
      c == '(' || c == ')' || c == '<' || c == '>' || c == '[' ||
        c == ']' || c == '{' || c == '}' || c == '/' || c == '%'
    def cur: Int = if (pos < end) bytes(pos) & 0xff else -1
    def skipWs(): Unit = {
      var going = true
      while (going) {
        while (pos < end && ws(cur)) pos += 1
        if (cur == '%') { // comment to EOL
          while (pos < end && cur != '\n' && cur != '\r') pos += 1
        } else going = false
      }
    }

    /** next token as an object; None at a delimiter that ends the
      * caller's scope or on malformation
      */
    def obj(): Option[PdfObj] = {
      skipWs()
      cur match {
        case -1 => None
        case '/' =>
          pos += 1
          val s = pos
          while (pos < end && !ws(cur) && !delim(cur)) pos += 1
          Some(PName(new String(bytes, s, pos - s, "ISO-8859-1")))
        case '(' => literalString()
        case '<' =>
          if (pos + 1 < end && bytes(pos + 1) == '<') dict()
          else hexString()
        case '[' =>
          pos += 1
          val items = Vector.newBuilder[PdfObj]
          var going = true
          while (going) {
            skipWs()
            if (cur == ']') { pos += 1; going = false }
            else if (cur == -1) return None
            else obj() match {
              case Some(o) => items += o
              case None    => return None
            }
          }
          Some(PArr(resolveRefs(items.result())))
        case c if c == '+' || c == '-' || c == '.' ||
            (c >= '0' && c <= '9') =>
          number()
        case _ =>
          // keyword: true / false / null — anything else is the
          // caller's operator (content streams) or a syntax error
          val s = pos
          while (pos < end && !ws(cur) && !delim(cur)) pos += 1
          new String(bytes, s, pos - s, "ISO-8859-1") match {
            case "true"  => Some(PBool(true))
            case "false" => Some(PBool(false))
            case "null"  => Some(PNull)
            case kw      => Some(PName("##op:" + kw)) // operator token
          }
      }
    }

    /** after a number: `G R` lookahead turns `N G R` into a PRef —
      * handled by folding the raw token stream in [[resolveRefs]]
      */
    private def number(): Option[PdfObj] = {
      val s = pos
      if (cur == '+' || cur == '-') pos += 1
      while (pos < end && ((cur >= '0' && cur <= '9') || cur == '.'))
        pos += 1
      val str = new String(bytes, s, pos - s, "ISO-8859-1")
      try Some(PNum(str.toDouble))
      catch { case _: NumberFormatException => None }
    }

    private def literalString(): Option[PdfObj] = {
      pos += 1
      val sb = new java.lang.StringBuilder()
      var depth = 1
      while (depth > 0) {
        if (pos >= end) return None
        val c = bytes(pos) & 0xff
        pos += 1
        c match {
          case '(' => depth += 1; sb.append('(')
          case ')' =>
            depth -= 1; if (depth > 0) sb.append(')')
          case '\\' =>
            if (pos >= end) return None
            val e = bytes(pos) & 0xff
            pos += 1
            e match {
              case 'n' => sb.append('\n')
              case 'r' => sb.append('\r')
              case 't' => sb.append('\t')
              case 'b' => sb.append('\b')
              case 'f' => sb.append('\f')
              case '(' => sb.append('(')
              case ')' => sb.append(')')
              case '\\' => sb.append('\\')
              case '\r' => // line continuation (swallow optional \n)
                if (pos < end && bytes(pos) == '\n') pos += 1
              case '\n' => // line continuation
              case d if d >= '0' && d <= '7' =>
                var v = d - '0'
                var k = 0
                while (k < 2 && pos < end && bytes(pos) >= '0' &&
                  bytes(pos) <= '7') {
                  v = v * 8 + (bytes(pos) - '0'); pos += 1; k += 1
                }
                sb.append((v & 0xff).toChar)
              case other => sb.append(other.toChar)
            }
          case other => sb.append(other.toChar)
        }
      }
      Some(PStr(decodePdfText(sb.toString)))
    }

    private def hexString(): Option[PdfObj] = {
      pos += 1
      val sb = new java.lang.StringBuilder()
      var hi = -1
      while (true) {
        if (pos >= end) return None
        val c = bytes(pos) & 0xff
        pos += 1
        if (c == '>') {
          if (hi >= 0) sb.append((hi << 4).toChar) // odd count: pad 0
          return Some(PStr(decodePdfText(sb.toString)))
        } else if (!ws(c)) {
          val d = Character.digit(c, 16)
          if (d < 0) return None
          if (hi < 0) hi = d
          else { sb.append(((hi << 4) | d).toChar); hi = -1 }
        }
      }
      None
    }

    private def dict(): Option[PdfObj] = {
      pos += 2
      val m = Map.newBuilder[String, PdfObj]
      var going = true
      val order = Vector.newBuilder[PdfObj]
      while (going) {
        skipWs()
        if (cur == '>' && pos + 1 < end && bytes(pos + 1) == '>') {
          pos += 2; going = false
        } else if (cur == -1) return None
        else obj() match {
          case Some(o) => order += o
          case None    => return None
        }
      }
      val items = resolveRefs(order.result())
      var i = 0
      while (i < items.length) {
        if (i + 1 >= items.length) return None
        items(i) match {
          case PName(k) => m += (k -> items(i + 1))
          case _        => return None
        }
        i += 2
      }
      Some(PDict(m.result()))
    }

    /** fold `PNum PNum ##op:R` triples into [[PRef]] */
    private def resolveRefs(items: Vector[PdfObj]): Vector[PdfObj] = {
      val out = Vector.newBuilder[PdfObj]
      var i = 0
      while (i < items.length) {
        if (i + 2 < items.length) {
          (items(i), items(i + 1), items(i + 2)) match {
            case (PNum(n), PNum(g), PName("##op:R")) =>
              out += PRef(n.toInt, g.toInt)
              i += 3
            case _ => out += items(i); i += 1
          }
        } else { out += items(i); i += 1 }
      }
      out.result()
    }
  }

  /** PDFDocEncoding-ish: UTF-16BE under a BOM, else latin-1 as read */
  private def decodePdfText(raw: String): String =
    if (raw.length >= 2 && raw.charAt(0) == 0xfe.toChar &&
      raw.charAt(1) == 0xff.toChar) {
      val bs = new Array[Byte](raw.length - 2)
      var i = 2
      while (i < raw.length) { bs(i - 2) = raw.charAt(i).toByte; i += 1 }
      new String(bs, "UTF-16BE")
    } else raw

  // ----------------------------------------------------- object scan

  /** scan for `N G obj` spans; last definition of an object number
    * wins (incremental updates append re-definitions)
    */
  private def scanObjects(bytes: Array[Byte])
      : scala.collection.mutable.LinkedHashMap[Int, PdfObj] = {
    val objs = scala.collection.mutable.LinkedHashMap.empty[Int, PdfObj]
    val n = bytes.length
    var i = 0
    while (i + 3 < n) {
      if (bytes(i) == 'o' && bytes(i + 1) == 'b' && bytes(i + 2) == 'j' &&
        (i + 3 >= n || delimOrWs(bytes(i + 3) & 0xff))) {
        // walk back: gen number, obj number
        var j = i - 1
        def skipBackWs(): Unit =
          while (j >= 0 && (bytes(j) == ' ' || bytes(j) == '\r' ||
            bytes(j) == '\n' || bytes(j) == '\t')) j -= 1
        def numBack(): Int = {
          val e = j
          while (j >= 0 && bytes(j) >= '0' && bytes(j) <= '9') j -= 1
          if (j == e) -1
          else new String(bytes, j + 1, e - j, "ISO-8859-1").toInt
        }
        skipBackWs()
        val gen = numBack()
        skipBackWs()
        val num = numBack()
        if (gen >= 0 && num >= 0) {
          val lx = new PdfLexer(bytes, i + 3, n)
          lx.obj() match {
            case Some(body) =>
              // a following `stream` keyword makes it a stream object
              lx.skipWs()
              val isStream = lx.pos + 6 <= n &&
                bytes(lx.pos) == 's' && bytes(lx.pos + 1) == 't' &&
                bytes(lx.pos + 2) == 'r' && bytes(lx.pos + 3) == 'e' &&
                bytes(lx.pos + 4) == 'a' && bytes(lx.pos + 5) == 'm'
              body match {
                case d: PDict if isStream =>
                  var p = lx.pos + 6
                  if (p < n && bytes(p) == '\r') p += 1
                  if (p < n && bytes(p) == '\n') p += 1
                  val len = d.v.get("Length") match {
                    case Some(PNum(v)) => v.toInt
                    case Some(_: PRef) => -1 // resolved at decode time
                    case _             => -1
                  }
                  objs(num) = PStream(d, p, len)
                  i = p // continue the scan after the stream data
                case other =>
                  objs(num) = other
              }
            case None =>
          }
        }
      }
      i += 1
    }
    objs
  }

  private def delimOrWs(c: Int): Boolean =
    c == ' ' || c == '\n' || c == '\r' || c == '\t' || c == '\f' ||
      c == 0 || c == '(' || c == ')' || c == '<' || c == '>' ||
      c == '[' || c == ']' || c == '/' || c == '%'

  // ------------------------------------------------------ navigation

  private def resolve(o: PdfObj,
      objs: collection.Map[Int, PdfObj]): PdfObj = o match {
    case PRef(num, _) => objs.getOrElse(num, PNull)
    case other        => other
  }

  private def decodeStream(s: PStream, bytes: Array[Byte],
      objs: collection.Map[Int, PdfObj]): Option[Array[Byte]] = {
    val len = s.dict.v.get("Length") match {
      case Some(PNum(v)) => v.toInt
      case Some(r: PRef) => resolve(r, objs) match {
        case PNum(v) => v.toInt
        case _       => -1
      }
      case _ => -1
    }
    if (len < 0 || s.dataOff + len > bytes.length) return None
    val raw = java.util.Arrays.copyOfRange(bytes, s.dataOff,
      s.dataOff + len)
    val filters: Seq[String] = resolve(
      s.dict.v.getOrElse("Filter", PNull), objs) match {
      case PName(f) => Seq(f)
      case PArr(fs) => fs.map { case PName(f) => f; case _ => "?" }
      case PNull    => Seq.empty
      case _        => Seq("?")
    }
    filters.foldLeft(Option(raw)) { (accOpt, f) =>
      accOpt.flatMap { acc =>
        f match {
          case "FlateDecode" =>
            inflateBounded(acc, 0, acc.length, PdfStreamCap,
              nowrap = false)
          case "ASCIIHexDecode" =>
            val out = new java.io.ByteArrayOutputStream()
            var hi = -1
            var okFlag = true
            var i = 0
            var done = false
            while (i < acc.length && !done && okFlag) {
              val c = acc(i) & 0xff
              if (c == '>') done = true
              else if (!(c == ' ' || c == '\n' || c == '\r' ||
                c == '\t')) {
                val d = Character.digit(c, 16)
                if (d < 0) okFlag = false
                else if (hi < 0) hi = d
                else { out.write((hi << 4) | d); hi = -1 }
              }
              i += 1
            }
            if (!okFlag) None
            else {
              if (hi >= 0) out.write(hi << 4)
              Some(out.toByteArray)
            }
          case _ => None // unsupported filter → row-level failure
        }
      }
    }
  }

  /** page objects in document order via the /Pages tree */
  private def pageOrder(objs: collection.Map[Int, PdfObj])
      : Option[Vector[PDict]] = {
    val catalog = objs.values.collectFirst {
      case d @ PDict(m) if m.get("Type").contains(PName("Catalog")) => d
    }
    val rootRef = catalog.flatMap(_.v.get("Pages"))
    val pages = Vector.newBuilder[PDict]
    val visited = scala.collection.mutable.Set.empty[Int]
    def walk(o: PdfObj): Boolean = resolve(o, objs) match {
      case d @ PDict(m) =>
        m.get("Type") match {
          case Some(PName("Pages")) =>
            o match {
              case PRef(num, _) =>
                if (!visited.add(num)) return false // cycle
              case _ =>
            }
            resolve(m.getOrElse("Kids", PNull), objs) match {
              case PArr(kids) => kids.forall(walk)
              case _          => false
            }
          case Some(PName("Page")) => pages += d; true
          case _                   => false
        }
      case _ => false
    }
    rootRef match {
      case Some(r) if walk(r) => Some(pages.result())
      case _                  => None
    }
  }

  // -------------------------------------------------- text operators

  /** interpret one content stream's text operators */
  private def extractText(content: Array[Byte],
      sb: java.lang.StringBuilder): Boolean = {
    val lx = new PdfLexer(content, 0, content.length)
    val stack = scala.collection.mutable.ArrayBuffer.empty[PdfObj]
    var inText = false
    var lineHasText = false
    def newline(): Unit = {
      if (sb.length() > 0 && sb.charAt(sb.length() - 1) != '\n')
        sb.append('\n')
      lineHasText = false
    }
    var going = true
    while (going) {
      lx.skipWs()
      if (lx.cur == -1) going = false
      else lx.obj() match {
        case None => return false
        case Some(PName(op)) if op.startsWith("##op:") =>
          op.substring(5) match {
            case "BT" => inText = true; lineHasText = false
            case "ET" =>
              inText = false
              if (lineHasText) newline()
            case "Tj" if inText =>
              stack.lastOption match {
                case Some(PStr(s)) => sb.append(s); lineHasText = true
                case _             =>
              }
            case "TJ" if inText =>
              stack.lastOption match {
                case Some(PArr(items)) =>
                  items.foreach {
                    case PStr(s) => sb.append(s); lineHasText = true
                    case _       => // kern numbers
                  }
                case _ =>
              }
            case "'" if inText =>
              newline()
              stack.lastOption match {
                case Some(PStr(s)) => sb.append(s); lineHasText = true
                case _             =>
              }
            case "\"" if inText =>
              newline()
              stack.lastOption match {
                case Some(PStr(s)) => sb.append(s); lineHasText = true
                case _             =>
              }
            case "Td" | "TD" | "T*" | "Tm" if inText =>
              if (lineHasText) newline()
            case _ => // graphics / font / color operators
          }
          stack.clear()
        case Some(o) => stack += o
      }
    }
    true
  }

  // --------------------------------------------------------- surface

  /** expand /Type /ObjStm object streams (PDF 1.5+ keeps most
    * objects inside these compressed containers, where the raw scan
    * cannot see them): decode, read the N (objnum, offset) header
    * pairs, parse each embedded object at /First + offset. Scan-found
    * top-level definitions win on collision (they are the newer
    * incremental-update layer in the documents that have both).
    */
  private def expandObjectStreams(bytes: Array[Byte],
      objs: scala.collection.mutable.LinkedHashMap[Int, PdfObj]): Unit = {
    val streams = objs.collect {
      case (num, s: PStream)
        if s.dict.v.get("Type").contains(PName("ObjStm")) => (num, s)
    }.toVector
    streams.foreach { case (_, s) =>
      val nOpt = resolve(s.dict.v.getOrElse("N", PNull), objs)
      val firstOpt = resolve(s.dict.v.getOrElse("First", PNull), objs)
      (nOpt, firstOpt) match {
        case (PNum(nD), PNum(firstD)) =>
          decodeStream(s, bytes, objs).foreach { data =>
            val n = nD.toInt
            val first = firstD.toInt
            val hdr = new PdfLexer(data, 0, math.min(first, data.length))
            val pairs = Vector.newBuilder[(Int, Int)]
            var i = 0
            var okHdr = true
            while (okHdr && i < n) {
              (hdr.obj(), hdr.obj()) match {
                case (Some(PNum(num)), Some(PNum(off))) =>
                  pairs += ((num.toInt, off.toInt))
                case _ => okHdr = false
              }
              i += 1
            }
            if (okHdr) pairs.result().foreach { case (num, off) =>
              if (!objs.contains(num) && first + off < data.length) {
                val lx = new PdfLexer(data, first + off, data.length)
                lx.obj().foreach(o => objs(num) = o)
              }
            }
          }
        case _ =>
      }
    }
  }

  /** full text extraction: (page_no, text) pairs, or None when the
    * document structure is unwalkable
    */
  def pdfExtractPages(bytes: Array[Byte]): Option[Vector[(Int, String)]] = {
    if (bytes.length < 8 || !(bytes(0) == '%' && bytes(1) == 'P' &&
      bytes(2) == 'D' && bytes(3) == 'F' && bytes(4) == '-')) return None
    try {
      val objs = scanObjects(bytes)
      expandObjectStreams(bytes, objs)
      pageOrder(objs).flatMap { pages =>
        val out = Vector.newBuilder[(Int, String)]
        var pageNo = 0
        var okAll = true
        pages.foreach { page =>
          val contents = resolve(page.v.getOrElse("Contents", PNull),
            objs) match {
            case s: PStream => Vector(s)
            case PArr(items) => items.map(resolve(_, objs)).collect {
              case s: PStream => s
            }
            case _ => Vector.empty
          }
          val sb = new java.lang.StringBuilder()
          contents.foreach { s =>
            decodeStream(s, bytes, objs) match {
              case Some(data) => if (!extractText(data, sb)) okAll = false
              case None       => okAll = false
            }
          }
          out += ((pageNo, sb.toString))
          pageNo += 1
        }
        if (okAll) Some(out.result()) else None
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Partition-wise page-text extraction — one PdfPage row per page,
    * a single sentinel row for unwalkable documents. The
    * [[graft.sources.Tar.entries]] contract over the blob column.
    */
  def pdfPages(blobs: Dataset[MediaBlob]): Dataset[PdfPage] = {
    import blobs.sparkSession.implicits._
    blobs.mapPartitions(_.flatMap { b =>
      pdfExtractPages(b.content) match {
        case Some(pages) if pages.nonEmpty =>
          pages.map { case (no, text) =>
            PdfPage(b.media_id, no, text.length.toLong, text, ok = true)
          }
        case _ => Seq(PdfBadPage.copy(media_id = b.media_id))
      }
    })
  }

  // ----------------------------------------------------------- writer

  /** Genuine PDF 1.4 fixture: catalog → pages → one page per entry,
    * each with a FlateDecode content stream showing its lines via
    * `Td`/`Tj` — a correct xref table and trailer included (so any
    * conforming reader opens it), though [[pdfExtractPages]]
    * deliberately does not rely on them. With `objStm = true` the
    * dictionary objects move into a compressed /Type /ObjStm
    * container (the PDF 1.5+ layout; the plain xref table then
    * under-describes those objects — real 1.5 files use xref streams,
    * which this scan-based reader ignores anyway). Deterministic
    * byte-exact output for a given input.
    */
  def syntheticPdf(id: Long, pageLines: Seq[Seq[String]],
                   hexStrings: Boolean = false,
                   objStm: Boolean = false): Array[Byte] = {
    def esc(s: String): String =
      s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")
    def hex(s: String): String =
      s.getBytes("ISO-8859-1").map("%02x".format(_)).mkString
    val nPages = pageLines.length
    // object numbers: 1 catalog, 2 pages, 3 font; page i → 4+2i,
    // its content stream → 5+2i
    val objects = Vector.newBuilder[(Int, Array[Byte])]
    objects += 1 -> "<< /Type /Catalog /Pages 2 0 R >>"
      .getBytes("ISO-8859-1")
    val kids = (0 until nPages).map(i => s"${4 + 2 * i} 0 R")
      .mkString(" ")
    objects += 2 ->
      s"<< /Type /Pages /Kids [ $kids ] /Count $nPages >>"
        .getBytes("ISO-8859-1")
    objects += 3 ->
      "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
        .getBytes("ISO-8859-1")
    pageLines.zipWithIndex.foreach { case (lines, i) =>
      objects += (4 + 2 * i) ->
        (s"<< /Type /Page /Parent 2 0 R /MediaBox [ 0 0 612 792 ] " +
          s"/Resources << /Font << /F1 3 0 R >> >> " +
          s"/Contents ${5 + 2 * i} 0 R >>").getBytes("ISO-8859-1")
      val ops = new StringBuilder("BT /F1 12 Tf 72 720 Td\n")
      lines.foreach { line =>
        val shown =
          if (hexStrings) s"<${hex(line)}> Tj"
          else s"(${esc(line)}) Tj"
        ops.append(s"$shown 0 -14 Td\n")
      }
      ops.append("ET\n")
      val raw = ops.toString.getBytes("ISO-8859-1")
      val d = new java.util.zip.Deflater()
      d.setInput(raw); d.finish()
      val buf = new Array[Byte](8192)
      val bos = new java.io.ByteArrayOutputStream()
      while (!d.finished()) bos.write(buf, 0, d.deflate(buf))
      d.end()
      val flate = bos.toByteArray
      val head = (s"<< /Length ${flate.length} /Filter /FlateDecode " +
        s">>\nstream\n").getBytes("ISO-8859-1")
      val tail = "\nendstream".getBytes("ISO-8859-1")
      val body = new Array[Byte](head.length + flate.length + tail.length)
      System.arraycopy(head, 0, body, 0, head.length)
      System.arraycopy(flate, 0, body, head.length, flate.length)
      System.arraycopy(tail, 0, body, head.length + flate.length,
        tail.length)
      objects += (5 + 2 * i) -> body
    }
    val out = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
    w(s"%PDF-1.${if (objStm) 5 else 4}\n%âãÏÓ\n")
    val offsets = scala.collection.mutable.LinkedHashMap.empty[Int, Int]
    val allObjs = objects.result().sortBy(_._1)
    // objStm mode: dictionary objects (no streams allowed inside an
    // object stream per spec) move into a compressed /Type /ObjStm
    // container — the PDF 1.5+ layout the scan-based reader must see
    // through
    val (packed, topLevel) =
      if (objStm) allObjs.partition { case (_, body) =>
        !new String(body, "ISO-8859-1").contains("stream")
      }
      else (Vector.empty[(Int, Array[Byte])], allObjs)
    if (packed.nonEmpty) {
      val payload = new java.io.ByteArrayOutputStream()
      val header = new StringBuilder()
      packed.foreach { case (num, body) =>
        header.append(s"$num ${payload.size()} ")
        payload.write(body); payload.write('\n')
      }
      val hdrBytes = header.toString.getBytes("ISO-8859-1")
      val joined = new java.io.ByteArrayOutputStream()
      joined.write(hdrBytes); joined.write(payload.toByteArray)
      val d = new java.util.zip.Deflater()
      d.setInput(joined.toByteArray); d.finish()
      val buf = new Array[Byte](8192)
      val bos = new java.io.ByteArrayOutputStream()
      while (!d.finished()) bos.write(buf, 0, d.deflate(buf))
      d.end()
      val flate = bos.toByteArray
      val stmNum = allObjs.map(_._1).max + 1
      offsets(stmNum) = out.size()
      w(s"$stmNum 0 obj\n<< /Type /ObjStm /N ${packed.length} " +
        s"/First ${hdrBytes.length} /Length ${flate.length} " +
        s"/Filter /FlateDecode >>\nstream\n")
      out.write(flate)
      w("\nendstream\nendobj\n")
    }
    topLevel.foreach { case (num, body) =>
      offsets(num) = out.size()
      w(s"$num 0 obj\n")
      out.write(body)
      w("\nendobj\n")
    }
    val xrefAt = out.size()
    val maxObj = offsets.keys.max
    w(s"xref\n0 ${maxObj + 1}\n")
    w("0000000000 65535 f \n")
    (1 to maxObj).foreach { num =>
      w(f"${offsets.getOrElse(num, 0)}%010d 00000 n \n")
    }
    w(s"trailer\n<< /Size ${maxObj + 1} /Root 1 0 R >>\n")
    w(s"startxref\n$xrefAt\n%%EOF\n")
    out.toByteArray
  }
}
