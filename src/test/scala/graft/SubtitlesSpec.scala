package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Subtitles
import graft.multimodal.MediaBlob

/** SRT/WebVTT cue parsing: writer round-trips, timestamp grammar
  * variants, VTT metadata/id/settings handling, lenient per-block
  * failure, and the blob-column contract.
  */
class SubtitlesSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark

  test("SRT and VTT writer round-trips: cue numbers, spans and " +
    "multi-line payloads come back exactly") {
    Seq(false, true).foreach { vtt =>
      val n = 5
      val span = 1500L
      val bytes = Subtitles.synthetic(7L, n, vtt, span, k =>
        if (k % 3 == 0) s"line-$k-a\nline-$k-b" else s"line-$k")
      val cues = Subtitles.parse(7L, bytes)
      assert(cues.length == n, s"vtt=$vtt")
      cues.zipWithIndex.foreach { case (c, k) =>
        assert(c.ok && c.cue_no == k)
        assert(c.start_ms == k * span && c.end_ms == k * span + span / 2)
        assert(c.format == (if (vtt) "vtt" else "srt"))
        val exp = if (k % 3 == 0) s"line-$k-a\nline-$k-b" else s"line-$k"
        assert(c.text == exp)
      }
    }
  }

  test("timestamp grammar: optional hours, 3+ digit hours, comma and " +
    "dot millis; out-of-range minutes/seconds rejected") {
    assert(Subtitles.parseTimestamp("01:02:03,456") ==
      ((1 * 60 + 2) * 60 + 3) * 1000L + 456)
    assert(Subtitles.parseTimestamp("02:03.456") ==
      (2 * 60 + 3) * 1000L + 456)
    assert(Subtitles.parseTimestamp("100:00:00.000") == 360000000L)
    assert(Subtitles.parseTimestamp("00:60:00.000") == -1L)
    assert(Subtitles.parseTimestamp("00:00:61.000") == -1L)
    assert(Subtitles.parseTimestamp("junk") == -1L)
  }

  test("VTT extras: BOM, NOTE blocks, cue ids, cue settings, CRLF") {
    val vtt = "﻿WEBVTT\r\n\r\nNOTE a comment\r\nmore note\r\n" +
      "\r\nid-1\r\n00:01.000 --> 00:02.500 align:start line:0\r\n" +
      "hello <b>bold</b>\r\n\r\n00:03.000 --> 00:04.000\r\nworld\r\n"
    val cues = Subtitles.parse(1L, vtt.getBytes("UTF-8"))
    assert(cues.length == 2)
    assert(cues(0).start_ms == 1000L && cues(0).end_ms == 2500L)
    assert(cues(0).text == "hello <b>bold</b>")
    assert(cues(1).start_ms == 3000L && cues(1).text == "world")
  }

  test("a malformed timestamp drops that block only; a cue-less blob " +
    "is one sentinel row") {
    val srt = "1\n00:00:01,000 --> 00:00:02,000\nfine\n\n" +
      "2\nbroken --> 00:00:04,000\nlost\n\n" +
      "3\n00:00:05,000 --> 00:00:06,000\nalso fine\n"
    val cues = Subtitles.parse(2L, srt.getBytes("UTF-8"))
    assert(cues.map(_.text) == Seq("fine", "also fine"))
    val bad = Subtitles.parse(3L, "not a subtitle file".getBytes)
    assert(bad.length == 1 && !bad.head.ok)
  }

  test("cues over a blob column: partition-wise rows, sentinel for " +
    "garbage") {
    val s = spark
    import s.implicits._
    val blobs = spark.range(0, 10).as[Long].map { id =>
      val b =
        if (id % 4 == 3) "garbage".getBytes("UTF-8")
        else Subtitles.synthetic(id, 2 + (id % 3).toInt,
          vtt = id % 2 == 1, 1000L, k => s"s-$id-$k")
      MediaBlob(id, "text/vtt", b)
    }
    val rows = Subtitles.cues(blobs).collect().groupBy(_.media_id)
    (0L until 10L).foreach { id =>
      if (id % 4 == 3)
        assert(rows(id).length == 1 && !rows(id).head.ok)
      else {
        assert(rows(id).length == 2 + (id % 3).toInt)
        assert(rows(id).forall(_.ok))
      }
    }
  }
}
