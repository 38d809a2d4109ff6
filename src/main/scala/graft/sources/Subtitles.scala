package graft.sources

import org.apache.spark.sql.Dataset
import graft.multimodal.MediaBlob

/** One subtitle cue: `start_ms`/`end_ms` from the cue's timestamp
  * line, `text` the cue payload lines joined with '\n' (markup left
  * intact — stripping is a downstream column function), `format` ∈
  * {"srt", "vtt"}. A blob that parses to zero cues (wrong format,
  * mangled timestamps everywhere) yields ONE all-sentinel row.
  */
case class SubtitleCue(media_id: Long, cue_no: Int, start_ms: Long,
                       end_ms: Long, text: String, format: String,
                       ok: Boolean)

/** SRT + WebVTT cue parsing — the text half of every video/audio
  * training pair: caption tracks are how a 100 TB video crawl becomes
  * aligned (timestamp, text) supervision, and both formats are plain
  * text with per-cue timestamp lines. The parser is block-shaped and
  * lenient the way real subtitle files demand:
  *
  *  - WebVTT is detected by its `WEBVTT` header line (with optional
  *    BOM); NOTE/STYLE/REGION blocks are skipped; optional cue
  *    identifiers (any non-timestamp line before the arrow line) are
  *    accepted; cue settings after the end timestamp are ignored;
  *  - SRT blocks are `index`, timestamp line, payload; a missing or
  *    non-numeric index is tolerated (the arrow line identifies the
  *    block);
  *  - timestamps accept `HH:MM:SS,mmm` (SRT) and `[HH:]MM:SS.mmm`
  *    (VTT) on either side of `-->`; hours are optional in VTT and
  *    may exceed two digits; a malformed timestamp drops THAT block
  *    only, never the file.
  *
  * Partition-wise over the blob column, blobs never shuffle — the
  * [[Tar.entries]] contract.
  */
object Subtitles {

  private val BadCue =
    SubtitleCue(0L, 0, -1L, -1L, "", "", ok = false)

  private val Arrow = "-->"

  /** `[HH:]MM:SS(,|.)mmm` → milliseconds, or -1 */
  def parseTimestamp(raw: String): Long = {
    val s = raw.trim
    val parts = s.split(':')
    if (parts.length < 2 || parts.length > 3) return -1L
    val secMs = parts.last.replace(',', '.').split('.')
    if (secMs.length != 2) return -1L
    try {
      val hh = if (parts.length == 3) parts(0).trim.toLong else 0L
      val mm = parts(parts.length - 2).trim.toLong
      val ss = secMs(0).trim.toLong
      val msStr = secMs(1).trim
      if (msStr.isEmpty || msStr.length > 3 ||
        !msStr.forall(_.isDigit)) return -1L
      val ms = (msStr + "00").take(3).toLong
      if (hh < 0 || mm < 0 || mm > 59 || ss < 0 || ss > 59) -1L
      else ((hh * 60 + mm) * 60 + ss) * 1000 + ms
    } catch { case _: NumberFormatException => -1L }
  }

  def parse(id: Long, bytes: Array[Byte]): Seq[SubtitleCue] = {
    def bad = Seq(BadCue.copy(media_id = id))
    val raw = new String(bytes, "UTF-8")
    val body = if (raw.nonEmpty && raw.charAt(0) == '\ufeff') raw.substring(1)
      else raw
    val lines = body.split("\r\n|\r|\n", -1)
    val isVtt = lines.headOption.exists(_.trim.startsWith("WEBVTT"))
    val fmt = if (isVtt) "vtt" else "srt"
    val out = Seq.newBuilder[SubtitleCue]
    var no = 0
    var i = if (isVtt) 1 else 0
    while (i < lines.length) {
      // skip blank separators
      while (i < lines.length && lines(i).trim.isEmpty) i += 1
      if (i < lines.length) {
        val blockStart = i
        // collect the block (up to the next blank line)
        var j = i
        while (j < lines.length && lines(j).trim.nonEmpty) j += 1
        val block = lines.slice(blockStart, j)
        i = j
        val head = block.head.trim
        if (isVtt && (head.startsWith("NOTE") || head == "STYLE" ||
          head.startsWith("REGION"))) {
          // metadata block: skipped whole
        } else {
          // the arrow line may be line 0 (no id) or line 1 (id/index)
          val arrowAt = block.indexWhere(_.contains(Arrow))
          if (arrowAt >= 0 && arrowAt <= 1) {
            val ts = block(arrowAt).split(Arrow, 2)
            val startMs = parseTimestamp(ts(0))
            // VTT cue settings trail the end timestamp: first token only
            val endTok = ts(1).trim.split("[ \t]", 2)(0)
            val endMs = parseTimestamp(endTok)
            if (startMs >= 0 && endMs >= 0) {
              val text = block.drop(arrowAt + 1).mkString("\n")
              out += SubtitleCue(id, no, startMs, endMs, text, fmt,
                ok = true)
              no += 1
            } // malformed timestamps: drop this block only
          }
        }
      }
    }
    val r = out.result()
    if (r.isEmpty) bad else r
  }

  /** Partition-wise cue walk — the [[Tar.entries]] contract. */
  def cues(blobs: Dataset[MediaBlob]): Dataset[SubtitleCue] = {
    import blobs.sparkSession.implicits._
    blobs.mapPartitions(_.flatMap(b => parse(b.media_id, b.content)))
  }

  /** Genuine subtitle file of `n` cues: SRT (numbered blocks,
    * comma-millis) or WebVTT (header, id lines on even cues,
    * dot-millis, a NOTE block up front). `line` generates each cue's
    * payload; cue k spans [k·spanMs, k·spanMs + spanMs/2).
    */
  def synthetic(id: Long, n: Int, vtt: Boolean, spanMs: Long,
                line: Int => String): Array[Byte] = {
    def stamp(ms: Long, dot: Boolean): String = {
      val hh = ms / 3600000; val mm = (ms / 60000) % 60
      val ss = (ms / 1000) % 60; val mmm = ms % 1000
      f"$hh%02d:$mm%02d:$ss%02d${if (dot) "." else ","}$mmm%03d"
    }
    val sb = new StringBuilder()
    if (vtt) sb.append("WEBVTT\n\nNOTE generated fixture\n\n")
    (0 until n).foreach { k =>
      val s = k * spanMs
      val e = s + spanMs / 2
      if (vtt) {
        if (k % 2 == 0) sb.append(s"cue-$k\n")
        sb.append(s"${stamp(s, dot = true)} --> ${stamp(e, dot = true)}")
        sb.append(" align:start\n")
      } else {
        sb.append(s"${k + 1}\n")
        sb.append(s"${stamp(s, dot = false)} --> ${stamp(e, dot = false)}\n")
      }
      sb.append(line(k)).append('\n')
      sb.append('\n')
    }
    sb.toString.getBytes("UTF-8")
  }
}
