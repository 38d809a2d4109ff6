package graft.sources

import org.apache.spark.sql.Dataset

import graft.multimodal.MediaBlob

/** One parsed WARC record: envelope headers + a payload checksum.
  * `digest` is the payload's lowercase-hex MD5 — exchanges move
  * METADATA, never the payload bytes (the blob-operator contract).
  */
case class WarcRecord(media_id: Long, rec_no: Int, warc_type: String,
                      target_uri: String, content_length: Long,
                      digest: String, ok: Boolean)

/** WARC (ISO 28500) record walk — the crawl SOURCE format itself:
  * 100 TB text pipelines start from WARC/WET archives (the reference
  * fetches live pages one by one, extract_utils.py; at corpus scale
  * the same content arrives as WARC members). Each record is
  * `WARC/x.y` + CRLF headers + empty line + Content-Length payload
  * bytes + CRLF CRLF. The walk is strict: a missing version line, a
  * header without a colon, a bad/absent Content-Length, a payload
  * running past the buffer, or a missing record terminator emits ONE
  * `ok=false` row at the failing record index and stops — truncated
  * archives are a row property, never a task failure, and the records
  * BEFORE the cut still surface.
  *
  * Gzip framing composes upstream: real `.warc.gz` members route
  * through [[graft.multimodal.Multimodal.gunzip]] first.
  */
object Warc {
  private val Bad = WarcRecord(0L, 0, "", "", -1L, "", ok = false)

  def parse(id: Long, bytes: Array[Byte]): Seq[WarcRecord] =
    parseFull(id, bytes).map(_._1)

  /** [[parse]] plus each record's payload bytes (empty for the bad
    * row) — the composition seam for same-pass payload decoding.
    */
  def parseFull(id: Long, bytes: Array[Byte])
      : Seq[(WarcRecord, Array[Byte])] = {
    val out = Seq.newBuilder[(WarcRecord, Array[Byte])]
    def line(at: Int): Option[(String, Int)] = {
      var i = at
      while (i + 1 < bytes.length &&
        !(bytes(i) == '\r' && bytes(i + 1) == '\n')) i += 1
      if (i + 1 >= bytes.length) None
      else Some((new String(bytes, at, i - at, "UTF-8"), i + 2))
    }
    var off = 0
    var rec = 0
    var done = false
    while (!done && off < bytes.length) {
      var ok = true
      var wtype = ""; var uri = ""; var clen = -1L
      line(off) match {
        case Some((v, afterVersion)) if v.startsWith("WARC/") =>
          var p = afterVersion
          var headersDone = false
          while (ok && !headersDone) {
            line(p) match {
              case Some(("", nx)) => headersDone = true; p = nx
              case Some((h, nx)) =>
                val ci = h.indexOf(':')
                if (ci < 0) ok = false
                else {
                  h.substring(0, ci).trim.toLowerCase match {
                    case "warc-type" => wtype = h.substring(ci + 1).trim
                    case "warc-target-uri" =>
                      uri = h.substring(ci + 1).trim
                    case "content-length" =>
                      clen = try h.substring(ci + 1).trim.toLong
                      catch { case _: NumberFormatException => -1L }
                    case _ => // WARC-Record-ID, WARC-Date, ...
                  }
                  p = nx
                }
              case None => ok = false
            }
          }
          // payload + the CRLFCRLF record terminator, bounds first
          if (ok && (clen < 0 || p.toLong + clen + 4 > bytes.length))
            ok = false
          if (ok) {
            val t = (p + clen).toInt
            if (bytes(t) != '\r' || bytes(t + 1) != '\n' ||
              bytes(t + 2) != '\r' || bytes(t + 3) != '\n') ok = false
            else {
              val payload = java.util.Arrays.copyOfRange(bytes, p, t)
              val md = java.security.MessageDigest.getInstance("MD5")
              val hex = md.digest(payload).map("%02x".format(_)).mkString
              out += ((WarcRecord(id, rec, wtype, uri, clen, hex,
                ok = true), payload))
              off = t + 4
              rec += 1
            }
          }
          if (!ok) {
            out += ((Bad.copy(media_id = id, rec_no = rec),
              Array.emptyByteArray))
            done = true
          }
        case _ =>
          out += ((Bad.copy(media_id = id, rec_no = rec),
            Array.emptyByteArray))
          done = true
      }
    }
    val res = out.result()
    if (res.isEmpty) Seq((Bad.copy(media_id = id), Array.emptyByteArray))
    else res
  }

  /** Partition-wise record walk — one parser pass per partition,
    * archives never shuffle; one output row per record.
    */
  def records(blobs: Dataset[MediaBlob]): Dataset[WarcRecord] = {
    import blobs.sparkSession.implicits._
    blobs.mapPartitions(_.flatMap(b => parse(b.media_id, b.content)))
  }

  /** The WET ingest capstone row: envelope metadata + the payload
    * decoded through [[graft.multimodal.Multimodal.detectAndDecodeText]]
    * — `digest` hashes the decoded text's UTF-8 re-encoding (NOT the
    * raw payload; a Latin-1 and a UTF-8 spelling of the same text
    * hash identically here).
    */
  case class WarcTextRecord(media_id: Long, rec_no: Int,
                            warc_type: String, target_uri: String,
                            encoding: String, n_chars: Long,
                            digest: String, ok: Boolean)

  /** Gzip-unwrap (if framed) → record walk → per-payload charset
    * detect+decode, all in ONE partition-local pass — payload bytes
    * never cross an operator boundary, never shuffle, and are freed
    * record by record. This is the honest 100 TB WET-ingest shape: a
    * .warc.gz column in, decoded-text metadata out.
    */
  def textRecords(blobs: Dataset[MediaBlob]): Dataset[WarcTextRecord] = {
    import blobs.sparkSession.implicits._
    val m = graft.multimodal.Multimodal
    blobs.mapPartitions(_.flatMap { b =>
      val raw =
        if (m.sniffFormat(b.content) == "gzip")
          m.gunzip(b.content).orNull
        else b.content
      if (raw == null)
        Seq(WarcTextRecord(b.media_id, 0, "", "", "", -1L, "",
          ok = false))
      else parseFull(b.media_id, raw).map { case (r, payload) =>
        if (!r.ok)
          WarcTextRecord(b.media_id, r.rec_no, "", "", "", -1L, "",
            ok = false)
        else {
          val tb = m.detectAndDecodeText(b.media_id, payload)
          WarcTextRecord(b.media_id, r.rec_no, r.warc_type,
            r.target_uri, tb.encoding, tb.n_chars, tb.digest,
            ok = tb.decode_ok)
        }
      }
    })
  }

  /** One HTTP response unwrapped from a WARC `response` record:
    * status + declared `Content-Encoding` honored (identity / gzip /
    * deflate / brotli — brotli is HEADERLESS, so the declared header
    * is the ONLY routing signal, exactly why
    * [[graft.multimodal.Multimodal.unbrotli]] exists), body
    * decompressed under the shared bomb cap, then charset-detected;
    * `digest`/`n_chars` follow [[WarcTextRecord]]'s decoded-content
    * contract.
    */
  case class WarcHttpRecord(media_id: Long, rec_no: Int,
                            target_uri: String, status: Int,
                            content_encoding: String, charset: String,
                            n_chars: Long, digest: String, ok: Boolean)

  private val BadHttp =
    WarcHttpRecord(0L, 0, "", -1, "", "", -1L, "", ok = false)

  private def parseHttpResponse(id: Long, recNo: Int, uri: String,
                                payload: Array[Byte]): WarcHttpRecord = {
    val m = graft.multimodal.Multimodal
    var split = -1
    var i = 0
    while (split < 0 && i + 3 < payload.length) {
      if (payload(i) == '\r' && payload(i + 1) == '\n' &&
        payload(i + 2) == '\r' && payload(i + 3) == '\n') split = i
      i += 1
    }
    if (split < 0) return BadHttp.copy(media_id = id, rec_no = recNo,
      target_uri = uri)
    val head = new String(payload, 0, split, "ISO-8859-1")
    val lines = head.split("\r\n")
    val statusParts = lines.head.split(" ")
    val status =
      if (statusParts.length >= 2 && statusParts(0).startsWith("HTTP/"))
        try statusParts(1).toInt catch { case _: NumberFormatException => -1 }
      else -1
    if (status < 0) return BadHttp.copy(media_id = id, rec_no = recNo,
      target_uri = uri)
    val headers = lines.tail.flatMap { h =>
      val ci = h.indexOf(':')
      if (ci < 0) None
      else Some(h.substring(0, ci).trim
        .toLowerCase(java.util.Locale.ROOT) ->
        h.substring(ci + 1).trim)
    }.toMap
    val ce = headers.getOrElse("content-encoding", "identity")
      .toLowerCase(java.util.Locale.ROOT)
    val body = java.util.Arrays.copyOfRange(payload, split + 4,
      payload.length)
    val decoded = ce match {
      case "identity" | "" => Some(body)
      case "gzip" | "x-gzip" => m.gunzip(body)
      case "deflate" => m.inflateZlib(body)
      case "br" => m.unbrotli(body)
      case _ => None
    }
    decoded match {
      case Some(d) =>
        val tb = m.detectAndDecodeText(id, d)
        WarcHttpRecord(id, recNo, uri, status, ce, tb.encoding,
          tb.n_chars, tb.digest, ok = tb.decode_ok)
      case None =>
        WarcHttpRecord(id, recNo, uri, status, ce, "", -1L, "",
          ok = false)
    }
  }

  /** The HTTP ingest composition: gzip-unwrap the archive (if
    * framed) → record walk → per-response HTTP header parse →
    * `Content-Encoding`-declared body decompression (gzip / deflate /
    * BROTLI / identity) → charset detect+decode — one partition-local
    * pass, payload bytes never shuffle. This is what an actual crawl
    * response column needs that the WET text path does not: real
    * `response` records carry HTTP framing and a double-digit percent
    * of the modern web arrives `Content-Encoding: br`. Non-response
    * records are skipped; a malformed envelope or body stays a
    * row property.
    */
  def httpRecords(blobs: Dataset[MediaBlob])
      : Dataset[WarcHttpRecord] = {
    import blobs.sparkSession.implicits._
    val m = graft.multimodal.Multimodal
    blobs.mapPartitions(_.flatMap { b =>
      val raw =
        if (m.sniffFormat(b.content) == "gzip")
          m.gunzip(b.content).orNull
        else b.content
      if (raw == null) Seq(BadHttp.copy(media_id = b.media_id))
      else parseFull(b.media_id, raw).flatMap { case (r, payload) =>
        if (!r.ok) Some(BadHttp.copy(media_id = b.media_id,
          rec_no = r.rec_no))
        else if (r.warc_type != "response") None
        else Some(parseHttpResponse(b.media_id, r.rec_no,
          r.target_uri, payload))
      }
    })
  }

  /** Genuine minimal HTTP-response WARC archive: each record a full
    * status line + headers + body, with the body compressed per the
    * declared `Content-Encoding`. Fixture writer for [[httpRecords]].
    */
  def syntheticHttp(id: Long, nRecords: Int,
                    gzipFramed: Boolean): Array[Byte] = {
    val m = graft.multimodal.Multimodal
    val recs = (0 until nRecords).map { r =>
      val status = if ((id + r) % 7 == 0) 404 else 200
      val text = ("resp-" + id + "-" + r + ";") *
        (1 + ((id + r) % 6)).toInt
      val raw = text.getBytes("UTF-8")
      val (ce, body) = (r % 3) match {
        case 0 => ("identity", raw)
        case 1 => ("gzip", m.gzipBytes(raw))
        case _ => ("br", m.brotliBytes(raw))
      }
      val head = s"HTTP/1.1 $status X\r\n" +
        "Content-Type: text/html; charset=UTF-8\r\n" +
        s"Content-Encoding: $ce\r\n" +
        s"Content-Length: ${body.length}\r\n\r\n"
      ("response", s"http://ex.com/$id/$r",
        head.getBytes("ISO-8859-1") ++ body)
    }
    val archive = syntheticRecords(id, recs)
    if (gzipFramed) m.gzipBytes(archive) else archive
  }

  /** Genuine minimal WARC archive from explicit records
    * (type, target-uri, payload bytes). Any WARC tool reads it back.
    */
  def syntheticRecords(id: Long,
                       recs: Seq[(String, String, Array[Byte])])
      : Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    recs.zipWithIndex.foreach { case ((wtype, uri, payload), r) =>
      val hdr = "WARC/1.0\r\n" +
        s"WARC-Type: $wtype\r\n" +
        s"WARC-Target-URI: $uri\r\n" +
        s"WARC-Record-ID: <urn:uuid:$id-$r>\r\n" +
        s"Content-Length: ${payload.length}\r\n\r\n"
      bos.write(hdr.getBytes("UTF-8"))
      bos.write(payload)
      bos.write("\r\n\r\n".getBytes("UTF-8"))
    }
    bos.toByteArray
  }

  /** Deterministic n-record archive with closed-form payloads —
    * [[syntheticRecords]] specialized for the q158 fixture.
    */
  def synthetic(id: Long, nRecords: Int): Array[Byte] = {
    val types = Array("response", "request", "metadata")
    syntheticRecords(id, (0 until nRecords).map { r =>
      (types(r % 3), s"http://ex.com/$id/$r",
        (("payload-" + id + "-" + r + ";") *
          (1 + ((id + r) % 5)).toInt).getBytes("UTF-8"))
    })
  }
}
