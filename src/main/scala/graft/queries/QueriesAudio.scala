package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.multimodal.MediaBlob

/** Audio-container queries: WAV decode/stats/windows/transcode/
  * normalize/trim, fractional resampling, MP3 and FLAC metadata, and
  * the heterogeneous audio dispatch.
  */
private[queries] trait QueriesAudio { this: Queries.type =>

  // ---------------------------------------------------------------- q94
  // Real-codec multimodal decode: REAL RIFF/WAVE bytes (canonical PCM
  // header + payload, the reference's actual blob type) synthesized
  // from doc_id parameters, parsed back by the chunk-walking wav codec
  // behind the decode seam; every 17th blob is truncated mid-header
  // and must route to decode_ok=false. The oracle recomputes the
  // expected header fields from the same id-derived parameters.
  private[queries] def q94(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val m = graft.multimodal.Multimodal
    val blobs = t(s, dir, "documents").filter($"doc_id" < 300)
      .select($"doc_id").as[Long]
      .map { id =>
        val rate = Array(8000, 16000, 22050, 44100)((id % 4).toInt)
        val w = m.syntheticWav(id, rate, 1 + (id % 2).toInt, 16,
          ((id % 100).toInt + 1) * 50)
        if (id % 17 == 0) w.copy(content = w.content.take(20)) else w
      }
    m.decodeWav(blobs).toDF()
      .select($"media_id", $"sample_rate", $"channels",
        $"bits_per_sample", $"data_bytes", $"duration_ms", $"decode_ok")
      .orderBy($"media_id")
  }
  private[queries] lazy val q94Sql =
    """WITH p AS (
      | SELECT doc_id,
      |  CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
      |   WHEN 2 THEN 22050 ELSE 44100 END AS rate,
      |  1 + doc_id % 2 AS ch,
      |  (doc_id % 100 + 1) * 50 AS frames,
      |  doc_id % 17 = 0 AS bad
      | FROM documents WHERE doc_id < 300)
      |SELECT doc_id AS media_id,
      | CAST(CASE WHEN bad THEN -1 ELSE rate END AS INT) AS sample_rate,
      | CAST(CASE WHEN bad THEN -1 ELSE ch END AS INT) AS channels,
      | CAST(CASE WHEN bad THEN -1 ELSE 16 END AS INT) AS bits_per_sample,
      | CAST(CASE WHEN bad THEN -1 ELSE frames * ch * 2 END AS BIGINT)
      |   AS data_bytes,
      | CAST(CASE WHEN bad THEN -1 ELSE (frames * 1000) // rate END
      |   AS BIGINT) AS duration_ms,
      | NOT bad AS decode_ok
      |FROM p ORDER BY media_id""".stripMargin

  // ---------------------------------------------------------------- q127
  // Byte-level AUDIO feature extraction — completes the per-modality
  // real transforms (q124 image resize, q121 video frame-sample):
  // genuine RIFF/WAVE containers whose 16-bit PCM samples follow a
  // closed-form id-derived pattern, decoded back out of the BYTES by
  // wavStats into per-channel peak / sum|s| / sum s² — all exact
  // integers, so the oracle recomputes them from the same closed form
  // (no float hazards anywhere). Every 13th blob is truncated
  // mid-header → one decode_ok=false row, a row property.
  private[queries] def q127(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val m = graft.multimodal.Multimodal
    val blobs = t(s, dir, "documents").filter($"doc_id" < 200)
      .select($"doc_id").as[Long]
      .map { id =>
        val ch = 1 + (id % 2).toInt
        val fr = 50 + (id % 100).toInt
        val samples = new Array[Short](fr * ch)
        var i = 0
        while (i < fr) {
          var c = 0
          while (c < ch) {
            samples(i * ch + c) =
              (((id * 7 + i * 13 + c * 17) % 65536) - 32768).toShort
            c += 1
          }
          i += 1
        }
        val b = m.syntheticWavPcm(id, 16000, ch, samples)
        if (id % 13 == 0) b.copy(content = b.content.take(30)) else b
      }
    m.decodeWavStats(blobs).toDF()
      .select($"media_id", $"channel", $"n_samples", $"peak",
        $"sum_abs", $"sum_sq", $"decode_ok")
      .orderBy($"media_id", $"channel")
  }
  private[queries] lazy val q127Sql =
    """WITH p AS (
      | SELECT doc_id, 1 + doc_id % 2 AS ch, 50 + doc_id % 100 AS fr,
      |  doc_id % 13 = 0 AS bad
      | FROM documents WHERE doc_id < 200),
      |fi AS (
      | SELECT doc_id, ch, fr, unnest(range(fr)) AS i
      | FROM p WHERE NOT bad),
      |sc AS (
      | SELECT doc_id, ch, fr, i, unnest(range(ch)) AS c FROM fi),
      |sv AS (
      | SELECT doc_id, c AS channel,
      |  ((doc_id*7 + i*13 + c*17) % 65536) - 32768 AS s
      | FROM sc),
      |agg AS (
      | SELECT doc_id, channel,
      |  CAST(count(*) AS BIGINT) AS n_samples,
      |  CAST(max(abs(s)) AS INT) AS peak,
      |  CAST(sum(abs(s)) AS BIGINT) AS sum_abs,
      |  CAST(sum(s*s) AS BIGINT) AS sum_sq
      | FROM sv GROUP BY 1, 2)
      |SELECT doc_id AS media_id, CAST(channel AS INT) AS channel,
      | n_samples, peak, sum_abs, sum_sq, true AS decode_ok
      |FROM agg
      |UNION ALL
      |SELECT doc_id, CAST(-1 AS INT), CAST(-1 AS BIGINT),
      | CAST(-1 AS INT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), false
      |FROM p WHERE bad
      |ORDER BY media_id, channel""".stripMargin

  // ---------------------------------------------------------------- q140
  // Byte-level AUDIO transcode under the oracle — the WAV leg of the
  // resize family (q124 PNG, q134 JPEG, q139 Y4M): q127's closed-form
  // PCM containers at mixed rates (8/16/24 kHz) and channel counts,
  // transcoded to 8 kHz MONO (the speech-prep shape) and decoded BACK
  // out of the emitted bytes by wavStats — so the oracle replays the
  // whole encode → mixdown → box-decimate → re-encode → decode chain
  // from the closed form in exact integer arithmetic: mixed(i) =
  // floorDiv(Σ_c s, ch); out(j) = floorDiv(Σ_{g<k} mixed, k) with
  // k = srcRate/8000 and the partial tail group dropped. Every 13th
  // blob is truncated mid-header → empty content → one
  // decode_ok=false row, a row property end to end.
  private[queries] def q140(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val m = graft.multimodal.Multimodal
    val blobs = t(s, dir, "documents").filter($"doc_id" < 150)
      .select($"doc_id").as[Long]
      .map { id =>
        val ch = 1 + (id % 2).toInt
        val fr = 40 + (id % 50).toInt
        val rate = 8000 * (1 + (id % 3).toInt)
        val samples = new Array[Short](fr * ch)
        var i = 0
        while (i < fr) {
          var c = 0
          while (c < ch) {
            samples(i * ch + c) =
              (((id * 7 + i * 13 + c * 17) % 65536) - 32768).toShort
            c += 1
          }
          i += 1
        }
        val b = m.syntheticWavPcm(id, rate, ch, samples)
        if (id % 13 == 0) b.copy(content = b.content.take(30)) else b
      }
    m.decodeWavStats(m.transcodeWavBlobs(blobs, targetRate = 8000,
        mono = true)).toDF()
      .select($"media_id", $"channel", $"n_samples", $"peak",
        $"sum_abs", $"sum_sq", $"decode_ok")
      .orderBy($"media_id", $"channel")
  }
  private[queries] lazy val q140Sql =
    """WITH p AS (
      | SELECT doc_id, 1 + doc_id % 2 AS ch, 40 + doc_id % 50 AS fr,
      |  1 + doc_id % 3 AS k, doc_id % 13 = 0 AS bad
      | FROM documents WHERE doc_id < 150),
      |fi AS (
      | SELECT doc_id, ch, fr, k, unnest(range(fr)) AS i
      | FROM p WHERE NOT bad),
      |sc AS (
      | SELECT doc_id, ch, fr, k, i, unnest(range(ch)) AS c FROM fi),
      |mx AS (
      | SELECT doc_id, fr, k, i,
      |  CAST(floor(sum(((doc_id*7 + i*13 + c*17) % 65536) - 32768)
      |    / any_value(ch)) AS BIGINT) AS m
      | FROM sc GROUP BY doc_id, fr, k, i),
      |ov AS (
      | SELECT doc_id, i // k AS j,
      |  CAST(floor(sum(m) / any_value(k)) AS BIGINT) AS o
      | FROM mx WHERE i < (fr // k) * k GROUP BY doc_id, i // k),
      |agg AS (
      | SELECT doc_id, CAST(count(*) AS BIGINT) AS n_samples,
      |  CAST(max(abs(o)) AS INT) AS peak,
      |  CAST(sum(abs(o)) AS BIGINT) AS sum_abs,
      |  CAST(sum(o*o) AS BIGINT) AS sum_sq
      | FROM ov GROUP BY doc_id)
      |SELECT doc_id AS media_id, CAST(0 AS INT) AS channel,
      | n_samples, peak, sum_abs, sum_sq, true AS decode_ok
      |FROM agg
      |UNION ALL
      |SELECT doc_id, CAST(-1 AS INT), CAST(-1 AS BIGINT),
      | CAST(-1 AS INT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), false
      |FROM p WHERE bad
      |ORDER BY media_id, channel""".stripMargin

  // ---------------------------------------------------------------- q143
  // WINDOWED audio features under the oracle — the audio counterpart
  // of q45's per-frame video features, at the byte level: q127's
  // closed-form PCM containers split into fixed 32-frame analysis
  // windows, each folding peak / Σ|s| / Σs² across all channels (the
  // energy contour a VAD / silence-trim curation stage consumes).
  // The trailing PARTIAL window is emitted with its real n_frames —
  // the oracle replays windows as i // 32 groups over the closed
  // form, so a dropped or padded tail would hash-mismatch. Every
  // 13th blob truncated → one decode_ok=false row.
  private[queries] def q143(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val m = graft.multimodal.Multimodal
    val blobs = t(s, dir, "documents").filter($"doc_id" < 200)
      .select($"doc_id").as[Long]
      .map { id =>
        val ch = 1 + (id % 2).toInt
        val fr = 50 + (id % 100).toInt
        val samples = new Array[Short](fr * ch)
        var i = 0
        while (i < fr) {
          var c = 0
          while (c < ch) {
            samples(i * ch + c) =
              (((id * 7 + i * 13 + c * 17) % 65536) - 32768).toShort
            c += 1
          }
          i += 1
        }
        val b = m.syntheticWavPcm(id, 16000, ch, samples)
        if (id % 13 == 0) b.copy(content = b.content.take(30)) else b
      }
    m.wavWindowsBlobs(blobs, winFrames = 32).toDF()
      .select($"media_id", $"window_no", $"start_ms", $"n_frames",
        $"peak", $"sum_abs", $"sum_sq", $"decode_ok")
      .orderBy($"media_id", $"window_no")
  }
  private[queries] lazy val q143Sql =
    """WITH p AS (
      | SELECT doc_id, 1 + doc_id % 2 AS ch, 50 + doc_id % 100 AS fr,
      |  doc_id % 13 = 0 AS bad
      | FROM documents WHERE doc_id < 200),
      |fi AS (
      | SELECT doc_id, ch, fr, unnest(range(fr)) AS i
      | FROM p WHERE NOT bad),
      |sc AS (
      | SELECT doc_id, ch, i, i // 32 AS w,
      |  unnest(range(ch)) AS c FROM fi),
      |sv AS (
      | SELECT doc_id, ch, w,
      |  ((doc_id*7 + i*13 + c*17) % 65536) - 32768 AS s
      | FROM sc),
      |agg AS (
      | SELECT doc_id, w,
      |  CAST(count(*) // any_value(ch) AS INT) AS n_frames,
      |  CAST(max(abs(s)) AS INT) AS peak,
      |  CAST(sum(abs(s)) AS BIGINT) AS sum_abs,
      |  CAST(sum(s*s) AS BIGINT) AS sum_sq
      | FROM sv GROUP BY doc_id, w)
      |SELECT doc_id AS media_id, CAST(w AS INT) AS window_no,
      | CAST(w * 32 * 1000 // 16000 AS BIGINT) AS start_ms,
      | n_frames, peak, sum_abs, sum_sq, true AS decode_ok
      |FROM agg
      |UNION ALL
      |SELECT doc_id, CAST(-1 AS INT), CAST(-1 AS BIGINT),
      | CAST(-1 AS INT), CAST(-1 AS INT), CAST(-1 AS BIGINT),
      | CAST(-1 AS BIGINT), false
      |FROM p WHERE bad
      |ORDER BY media_id, window_no""".stripMargin

  // ---------------------------------------------------------------- q152
  // FRACTIONAL audio resample under the oracle — q140's byte-level
  // transcode chain at the rates real corpora actually carry: 44.1 k /
  // 22.05 k / 24 k sources to the 16 kHz ASR ingest rate, none
  // divisible, so transcodeWav(fractional = true) runs the exact
  // fixed-point linear interpolation (output j at source position
  // j·S/16000; v = floorDiv(m[i0]·(T−rem) + m[i0+1]·rem, T)). The
  // oracle replays encode → mixdown → interpolate → re-encode →
  // decode closed-form: floor(x/16000.0) over exact-integer doubles
  // ≡ floorDiv because |x| < 2^30 and the fractional part is ≥ 1/T ≫
  // one double ulp. Every 13th blob truncated mid-header → one
  // decode_ok=false row.
  private[queries] def q152(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val m = graft.multimodal.Multimodal
    val blobs = t(s, dir, "documents").filter($"doc_id" < 150)
      .select($"doc_id").as[Long]
      .map { id =>
        val ch = 1 + (id % 2).toInt
        val fr = 40 + (id % 50).toInt
        val rate = (id % 3) match {
          case 0 => 44100
          case 1 => 22050
          case _ => 24000
        }
        val samples = new Array[Short](fr * ch)
        var i = 0
        while (i < fr) {
          var c = 0
          while (c < ch) {
            samples(i * ch + c) =
              (((id * 7 + i * 13 + c * 17) % 65536) - 32768).toShort
            c += 1
          }
          i += 1
        }
        val b = m.syntheticWavPcm(id, rate, ch, samples)
        if (id % 13 == 0) b.copy(content = b.content.take(30)) else b
      }
    m.decodeWavStats(m.transcodeWavBlobs(blobs, targetRate = 16000,
        mono = true, fractional = true)).toDF()
      .select($"media_id", $"channel", $"n_samples", $"peak",
        $"sum_abs", $"sum_sq", $"decode_ok")
      .orderBy($"media_id", $"channel")
  }
  private[queries] lazy val q152Sql =
    """WITH p AS (
      | SELECT doc_id, 1 + doc_id % 2 AS ch, 40 + doc_id % 50 AS fr,
      |  CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 22050
      |   ELSE 24000 END AS s,
      |  doc_id % 13 = 0 AS bad
      | FROM documents WHERE doc_id < 150),
      |fi AS (
      | SELECT doc_id, ch, fr, s, unnest(range(fr)) AS i
      | FROM p WHERE NOT bad),
      |sc AS (
      | SELECT doc_id, ch, fr, s, i, unnest(range(ch)) AS c FROM fi),
      |mx AS (
      | SELECT doc_id, fr, s, i,
      |  CAST(floor(sum(((doc_id*7 + i*13 + c*17) % 65536) - 32768)
      |    / any_value(ch)) AS BIGINT) AS m
      | FROM sc GROUP BY doc_id, fr, s, i),
      |jd AS (
      | SELECT doc_id, s, unnest(range((fr - 1) * 16000 // s + 1)) AS j
      | FROM p WHERE NOT bad),
      |ps AS (
      | SELECT doc_id, j, (j * s) // 16000 AS i0, (j * s) % 16000 AS rem
      | FROM jd),
      |ov AS (
      | SELECT ps.doc_id, ps.j,
      |  CASE WHEN ps.rem = 0 THEN m0.m
      |   ELSE CAST(floor((m0.m * (16000 - ps.rem) + m1.m * ps.rem)
      |     / 16000.0) AS BIGINT) END AS o
      | FROM ps
      | JOIN mx m0 ON m0.doc_id = ps.doc_id AND m0.i = ps.i0
      | LEFT JOIN mx m1 ON m1.doc_id = ps.doc_id AND m1.i = ps.i0 + 1),
      |agg AS (
      | SELECT doc_id, CAST(count(*) AS BIGINT) AS n_samples,
      |  CAST(max(abs(o)) AS INT) AS peak,
      |  CAST(sum(abs(o)) AS BIGINT) AS sum_abs,
      |  CAST(sum(o*o) AS BIGINT) AS sum_sq
      | FROM ov GROUP BY doc_id)
      |SELECT doc_id AS media_id, CAST(0 AS INT) AS channel,
      | n_samples, peak, sum_abs, sum_sq, true AS decode_ok
      |FROM agg
      |UNION ALL
      |SELECT doc_id, CAST(-1 AS INT), CAST(-1 AS BIGINT),
      | CAST(-1 AS INT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), false
      |FROM p WHERE bad
      |ORDER BY media_id, channel""".stripMargin

  // ---------------------------------------------------------------- q159
  // PEAK NORMALIZATION under the oracle — the gain stage of speech
  // prep over q127's closed-form PCM containers: one exact rational
  // gain per file (o = floorDiv(s·30000, max|s| over all channels) —
  // per-channel gains would break the stereo image), quiet files
  // amplify, hot files attenuate, output bounded by the target. The
  // oracle replays encode → peak scan → floorDiv gain → re-encode →
  // per-channel stats decode from the same closed form; floor(x/peak)
  // over exact-integer doubles ≡ floorDiv (|x| < 2^31, fractional
  // part ≥ 1/peak ≫ one ulp). Every 13th blob truncated mid-header →
  // one decode_ok=false row.
  private[queries] def q159(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val m = graft.multimodal.Multimodal
    val blobs = t(s, dir, "documents").filter($"doc_id" < 200)
      .select($"doc_id").as[Long]
      .map { id =>
        val ch = 1 + (id % 2).toInt
        val fr = 50 + (id % 100).toInt
        val samples = new Array[Short](fr * ch)
        var i = 0
        while (i < fr) {
          var c = 0
          while (c < ch) {
            samples(i * ch + c) =
              (((id * 7 + i * 13 + c * 17) % 65536) - 32768).toShort
            c += 1
          }
          i += 1
        }
        val b = m.syntheticWavPcm(id, 16000, ch, samples)
        if (id % 13 == 0) b.copy(content = b.content.take(30)) else b
      }
    m.decodeWavStats(m.normalizeWavPeakBlobs(blobs, targetPeak = 30000))
      .toDF()
      .select($"media_id", $"channel", $"n_samples", $"peak",
        $"sum_abs", $"sum_sq", $"decode_ok")
      .orderBy($"media_id", $"channel")
  }
  private[queries] lazy val q159Sql =
    """WITH p AS (
      | SELECT doc_id, 1 + doc_id % 2 AS ch, 50 + doc_id % 100 AS fr,
      |  doc_id % 13 = 0 AS bad
      | FROM documents WHERE doc_id < 200),
      |fi AS (
      | SELECT doc_id, ch, fr, unnest(range(fr)) AS i
      | FROM p WHERE NOT bad),
      |sc AS (
      | SELECT doc_id, ch, fr, i, unnest(range(ch)) AS c FROM fi),
      |sv AS (
      | SELECT doc_id, c AS channel,
      |  ((doc_id*7 + i*13 + c*17) % 65536) - 32768 AS s
      | FROM sc),
      |pk AS (
      | SELECT doc_id, max(abs(s)) AS peak FROM sv GROUP BY 1),
      |ov AS (
      | SELECT sv.doc_id, sv.channel,
      |  CASE WHEN pk.peak = 0 OR pk.peak = 30000 THEN sv.s
      |   ELSE CAST(floor(sv.s * 30000 / pk.peak) AS BIGINT) END AS o
      | FROM sv JOIN pk ON pk.doc_id = sv.doc_id),
      |agg AS (
      | SELECT doc_id, channel,
      |  CAST(count(*) AS BIGINT) AS n_samples,
      |  CAST(max(abs(o)) AS INT) AS peak,
      |  CAST(sum(abs(o)) AS BIGINT) AS sum_abs,
      |  CAST(sum(o*o) AS BIGINT) AS sum_sq
      | FROM ov GROUP BY 1, 2)
      |SELECT doc_id AS media_id, CAST(channel AS INT) AS channel,
      | n_samples, peak, sum_abs, sum_sq, true AS decode_ok
      |FROM agg
      |UNION ALL
      |SELECT doc_id, CAST(-1 AS INT), CAST(-1 AS BIGINT),
      | CAST(-1 AS INT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), false
      |FROM p WHERE bad
      |ORDER BY media_id, channel""".stripMargin

  // ---------------------------------------------------------------- q166
  // SILENCE TRIM under the oracle — speech-prep's other half next to
  // q159's gain: containers built with id%8 padding frames of
  // sub-threshold noise (|s| ≤ 600) around an interior whose every
  // sample is ≥ 20000, trimmed at threshold 1000 — so the kept span
  // is EXACTLY the interior, closed-form, and the oracle replays the
  // boundary arithmetic plus the per-channel stats of the trimmed
  // stream. id%8 == 0 exercises the byte-identical pass-through.
  // Every 13th blob truncated mid-header → decode_ok=false row.
  private[queries] def q166(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val m = graft.multimodal.Multimodal
    val blobs = t(s, dir, "documents").filter($"doc_id" < 200)
      .select($"doc_id").as[Long]
      .map { id =>
        val ch = 1 + (id % 2).toInt
        val fr = 40 + (id % 30).toInt
        val pd = (id % 8).toInt
        val samples = new Array[Short](fr * ch)
        var i = 0
        while (i < fr) {
          var c = 0
          while (c < ch) {
            samples(i * ch + c) =
              if (i < pd || i >= fr - pd) (100 * (i % 7)).toShort
              else (20000 + ((id * 7 + i * 13 + c * 17) % 10000)).toShort
            c += 1
          }
          i += 1
        }
        val b = m.syntheticWavPcm(id, 16000, ch, samples)
        if (id % 13 == 0) b.copy(content = b.content.take(30)) else b
      }
    m.decodeWavStats(m.trimWavSilenceBlobs(blobs, threshold = 1000))
      .toDF()
      .select($"media_id", $"channel", $"n_samples", $"peak",
        $"sum_abs", $"sum_sq", $"decode_ok")
      .orderBy($"media_id", $"channel")
  }
  private[queries] lazy val q166Sql =
    """WITH p AS (
      | SELECT doc_id, 1 + doc_id % 2 AS ch, 40 + doc_id % 30 AS fr,
      |  doc_id % 8 AS pd, doc_id % 13 = 0 AS bad
      | FROM documents WHERE doc_id < 200),
      |fi AS (
      | SELECT doc_id, ch, unnest(generate_series(pd, fr - pd - 1)) AS i
      | FROM p WHERE NOT bad),
      |sc AS (
      | SELECT doc_id, ch, i, unnest(range(ch)) AS c FROM fi),
      |sv AS (
      | SELECT doc_id, c AS channel,
      |  20000 + ((doc_id*7 + i*13 + c*17) % 10000) AS s
      | FROM sc),
      |agg AS (
      | SELECT doc_id, channel,
      |  CAST(count(*) AS BIGINT) AS n_samples,
      |  CAST(max(abs(s)) AS INT) AS peak,
      |  CAST(sum(abs(s)) AS BIGINT) AS sum_abs,
      |  CAST(sum(s*s) AS BIGINT) AS sum_sq
      | FROM sv GROUP BY 1, 2)
      |SELECT doc_id AS media_id, CAST(channel AS INT) AS channel,
      | n_samples, peak, sum_abs, sum_sq, true AS decode_ok
      |FROM agg
      |UNION ALL
      |SELECT doc_id, CAST(-1 AS INT), CAST(-1 AS BIGINT),
      | CAST(-1 AS INT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), false
      |FROM p WHERE bad
      |ORDER BY media_id, channel""".stripMargin

  // ---------------------------------------------------------------- q168
  // MP3 metadata under the oracle — the dominant-crawl-audio
  // counterpart of q153's MP4 walk: each row synthesizes a genuine
  // MPEG audio stream (optional ID3v2 tag with syncsafe size,
  // correctly-sized frames across MPEG-1/2/2.5 × layer 2/3 × the
  // public bitrate/samplerate header tables, optional trailing ID3v1
  // block) and parseMp3 reads back version/layer/bitrate/rate/mode
  // plus the CBR duration from the audio byte span — and, on the
  // layer-III rows carrying a Xing/Info/VBRI header (most web MP3 is
  // VBR, where the byte estimate is systematically wrong), the EXACT
  // duration from the declared frame count × samples-per-frame /
  // rate. The oracle's bitrate/samplerate CASEs are GENERATED from
  // the same ISO header tables the parser indexes, and it replays
  // the frame-length, VBR and CBR duration integer arithmetic
  // closed-form. Every 13th blob truncated to 2 bytes →
  // all-sentinel row property.
  private[queries] def q168(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val m = graft.multimodal.Multimodal
    val blobs = t(s, dir, "documents").filter($"doc_id" < 200)
      .select($"doc_id").as[Long]
      .map { id =>
        val vers = Array("1", "2", "2.5")
        val ver = vers((id % 3).toInt)
        val layer = if (id % 4 == 0) 2 else 3
        val table =
          if (ver == "1" && layer == 2)
            Array(32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256,
              320, 384)
          else if (ver == "1")
            Array(32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224,
              256, 320)
          else // MPEG-2/2.5 layers II and III share the low-rate table
            Array(8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144,
              160)
        val rateTables = Array(
          Array(44100, 48000, 32000), Array(22050, 24000, 16000),
          Array(11025, 12000, 8000))
        val rate = rateTables((id % 3).toInt)((id / 3 % 3).toInt)
        val vbrTag =
          if (layer != 3) ""
          else if (id % 5 == 2) "Xing"
          else if (id % 5 == 3) "Info"
          else if (id % 5 == 4 && ver == "1") "VBRI"
          else ""
        val b = m.syntheticMp3(id, ver, layer, table((id % 14).toInt),
          rate, mono = id % 2 == 0, nFrames = 3 + (id % 5).toInt,
          id3Body = if (id % 3 == 0) 64 + (id % 10).toInt * 7 else 0,
          id3v1 = id % 5 == 0, vbrTag = vbrTag)
        if (id % 13 == 0) b.copy(content = b.content.take(2)) else b
      }
    m.decodeMp3(blobs).toDF()
      .select($"media_id", $"version", $"layer", $"bitrate_kbps",
        $"sample_rate", $"channels", $"id3_size", $"vbr_frames",
        $"duration_ms", $"decode_ok")
      .orderBy($"media_id")
  }
  private[queries] lazy val q168Sql = {
    def lst(a: Seq[Int]) = a.mkString("[", ", ", "]")
    val v1l2 = lst(Seq(32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224,
      256, 320, 384))
    val v1l3 = lst(Seq(32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192,
      224, 256, 320))
    val v2l23 = lst(Seq(8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128,
      144, 160))
    s"""WITH p AS (
       | SELECT doc_id,
       |  CASE doc_id % 3 WHEN 0 THEN '1' WHEN 1 THEN '2'
       |   ELSE '2.5' END AS ver,
       |  CASE WHEN doc_id % 4 = 0 THEN 2 ELSE 3 END AS layer,
       |  doc_id % 14 AS bsel, (doc_id // 3) % 3 AS ssel,
       |  3 + doc_id % 5 AS nf,
       |  CASE WHEN doc_id % 3 = 0 THEN 64 + (doc_id % 10) * 7
       |   ELSE 0 END AS id3_body,
       |  doc_id % 5 = 0 AS has_v1,
       |  doc_id % 13 = 0 AS bad
       | FROM documents WHERE doc_id < 200),
       |d AS (
       | SELECT doc_id, ver, layer, nf, id3_body, has_v1, bad,
       |  list_extract(CASE WHEN ver = '1' AND layer = 2 THEN $v1l2
       |   WHEN ver = '1' THEN $v1l3
       |   ELSE $v2l23 END, 1 + bsel) AS br,
       |  list_extract(CASE ver WHEN '1' THEN [44100, 48000, 32000]
       |   WHEN '2' THEN [22050, 24000, 16000]
       |   ELSE [11025, 12000, 8000] END, 1 + ssel) AS sr
       | FROM p),
       |e AS (
       | SELECT doc_id, ver, layer, br, sr, nf, id3_body, has_v1, bad,
       |  (CASE WHEN layer = 3 AND ver <> '1' THEN 72 ELSE 144 END
       |    * br * 1000) // sr AS frame_len,
       |  layer = 3 AND (doc_id % 5 IN (2, 3)
       |   OR (doc_id % 5 = 4 AND ver = '1')) AS has_vbr,
       |  CASE WHEN ver = '1' THEN 1152 ELSE 576 END AS spf
       | FROM d)
       |SELECT doc_id AS media_id,
       | CASE WHEN bad THEN '' ELSE ver END AS version,
       | CAST(CASE WHEN bad THEN -1 ELSE layer END AS INT) AS layer,
       | CAST(CASE WHEN bad THEN -1 ELSE br END AS INT) AS bitrate_kbps,
       | CAST(CASE WHEN bad THEN -1 ELSE sr END AS INT) AS sample_rate,
       | CAST(CASE WHEN bad THEN -1
       |   WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END AS INT) AS channels,
       | CAST(CASE WHEN bad THEN -1
       |   WHEN id3_body > 0 THEN 10 + id3_body ELSE 0 END AS INT)
       |  AS id3_size,
       | CAST(CASE WHEN bad OR NOT has_vbr THEN -1 ELSE nf END AS INT)
       |  AS vbr_frames,
       | CAST(CASE WHEN bad THEN -1
       |   WHEN has_vbr THEN (nf * spf * 1000) // sr
       |   ELSE (nf * frame_len * 8) // br END AS BIGINT) AS duration_ms,
       | NOT bad AS decode_ok
       |FROM e ORDER BY media_id""".stripMargin
  }

  // ---------------------------------------------------------------- q169
  // Heterogeneous AUDIO dispatch under the oracle — q136's pattern
  // over the audio container family: one blob column carrying WAV
  // next to ID3-tagged MP3 next to FLAC next to bare-sync MP3 with an
  // ID3v1 trailer, routed by magic bytes (the bare frame sync is the
  // weakest magic and sniffs LAST). FLAC's unknown-length form
  // (total_samples=0 → duration -1) and the ID3v1 byte subtraction
  // are both exercised. Every 9th blob first-byte-zeroed → every
  // magic breaks → format='unknown' row property.
  private[queries] def q169(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val m = graft.multimodal.Multimodal
    val blobs = t(s, dir, "documents").filter($"doc_id" < 240)
      .select($"doc_id").as[Long]
      .map { id =>
        val j = id / 4
        val wavRates = Array(8000, 16000, 44100)
        val flacRates = Array(8000, 22050, 44100, 48000)
        val b = (id % 4) match {
          case 0 =>
            m.syntheticWav(id, wavRates((j % 3).toInt),
              1 + (j % 2).toInt, 16, ((j % 50).toInt + 1) * 40)
          case 1 =>
            m.syntheticMp3(id, "1", 3, 128, 44100, mono = j % 2 == 0,
              nFrames = 4 + (j % 6).toInt,
              id3Body = if (j % 2 == 0) 33 + (j % 7).toInt else 0)
          case 2 =>
            m.syntheticFlac(id, flacRates((j % 4).toInt),
              1 + (j % 2).toInt, if (j % 2 == 0) 16 else 24,
              if (j % 5 == 0) 0L else (j % 100 + 1) * 1000L)
          case _ =>
            m.syntheticMp3(id, "2", 3, 64, 22050, mono = true,
              nFrames = 3 + (j % 4).toInt, id3v1 = true)
        }
        if (id % 9 == 0) { b.content(0) = 0; b } else b
      }
    m.dispatchDecode(blobs).toDF()
      .select($"media_id", $"format", $"decode_ok", $"sample_rate",
        $"channels", $"duration_ms")
      .orderBy($"media_id")
  }
  private[queries] lazy val q169Sql =
    """WITH p AS (
      | SELECT doc_id, doc_id % 4 AS fam, doc_id // 4 AS j,
      |  doc_id % 9 = 0 AS bad
      | FROM documents WHERE doc_id < 240),
      |d AS (
      | SELECT doc_id, fam, j, bad,
      |  CASE j % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 44100 END
      |    AS wav_rate,
      |  1 + j % 2 AS wav_ch, (j % 50 + 1) * 40 AS wav_frames,
      |  4 + j % 6 AS mp3a_nf,
      |  3 + j % 4 AS mp3b_nf,
      |  list_extract([8000, 22050, 44100, 48000], 1 + j % 4)
      |    AS flac_rate,
      |  1 + j % 2 AS flac_ch,
      |  CASE WHEN j % 5 = 0 THEN 0 ELSE (j % 100 + 1) * 1000 END
      |    AS flac_total
      | FROM p),
      |e AS (
      | SELECT doc_id, fam, j, bad, wav_rate, wav_ch, wav_frames,
      |  flac_rate, flac_ch, flac_total,
      |  -- MPEG1 L3 128kbps @ 44100: 144·128000/44100; frames only
      |  (144 * 128 * 1000) // 44100 AS mp3a_fl, mp3a_nf,
      |  -- MPEG2 L3 64kbps @ 22050: 72·64000/22050; ID3v1 subtracted
      |  (72 * 64 * 1000) // 22050 AS mp3b_fl, mp3b_nf
      | FROM d)
      |SELECT doc_id AS media_id,
      | CASE WHEN bad THEN 'unknown'
      |  WHEN fam = 0 THEN 'wav' WHEN fam = 2 THEN 'flac'
      |  ELSE 'mp3' END AS format,
      | NOT bad AS decode_ok,
      | CAST(CASE WHEN bad THEN -1
      |  WHEN fam = 0 THEN wav_rate WHEN fam = 1 THEN 44100
      |  WHEN fam = 2 THEN flac_rate ELSE 22050 END AS INT)
      |  AS sample_rate,
      | CAST(CASE WHEN bad THEN -1
      |  WHEN fam = 0 THEN wav_ch
      |  WHEN fam = 1 THEN CASE WHEN j % 2 = 0 THEN 1 ELSE 2 END
      |  WHEN fam = 2 THEN flac_ch ELSE 1 END AS INT) AS channels,
      | CAST(CASE WHEN bad THEN -1
      |  WHEN fam = 0 THEN (wav_frames * 1000) // wav_rate
      |  WHEN fam = 1 THEN (mp3a_nf * mp3a_fl * 8) // 128
      |  WHEN fam = 2 THEN CASE WHEN flac_total = 0 THEN -1
      |   ELSE (flac_total * 1000) // flac_rate END
      |  ELSE (mp3b_nf * mp3b_fl * 8) // 64 END AS BIGINT)
      |  AS duration_ms
      |FROM e ORDER BY media_id""".stripMargin

  // ---------------------------------------------------------------- q175
  // ID3v2 text-frame extraction under the oracle — the tag metadata
  // an audio curation pipeline keys on (dedup by artist+title). Each
  // row builds a genuinely tagged MP3: TIT2/TPE1/TALB frames cycling
  // version × encoding (2.3/ISO-8859-1, 2.3/UTF-16-with-BOM,
  // 2.4/UTF-8 — 2.4 uses SYNCSAFE frame sizes, the classic
  // cross-version bug), artist carrying a non-ASCII é through every
  // encoding, NUL terminators stripped. The oracle states the
  // expected strings closed-form. Every 13th blob truncated mid-tag
  // → all-sentinel row; parseMp3 on the SAME bytes still reads the
  // audio (tag skip by syncsafe size), pinned by the sample_rate
  // column riding along.
  private[queries] def q175(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val m = graft.multimodal.Multimodal
    val blobs = t(s, dir, "documents").filter($"doc_id" < 200)
      .select($"doc_id").as[Long]
      .map { id =>
        val v = (id % 3).toInt
        val b = m.syntheticTaggedMp3(id,
          s"Title-$id", s"Artést-$id", s"Album-${id % 7}",
          v4 = v == 2, enc = Array(0, 1, 3)(v))
        if (id % 13 == 0) b.copy(content = b.content.take(24)) else b
      }
    val tags = m.decodeId3(blobs).toDF()
    val audio = m.decodeMp3(blobs).toDF()
      .select($"media_id", $"sample_rate")
    tags.join(audio, Seq("media_id"))
      .select($"media_id", $"id3_version", $"title", $"artist",
        $"album", $"decode_ok", $"sample_rate")
      .orderBy($"media_id")
  }
  private[queries] lazy val q175Sql =
    """WITH p AS (
      | SELECT doc_id, doc_id % 3 AS v, doc_id % 13 = 0 AS bad
      | FROM documents WHERE doc_id < 200)
      |SELECT doc_id AS media_id,
      | CASE WHEN bad THEN ''
      |  WHEN v = 2 THEN '2.4' ELSE '2.3' END AS id3_version,
      | CASE WHEN bad THEN '' ELSE 'Title-' || doc_id END AS title,
      | CASE WHEN bad THEN ''
      |  ELSE 'Art' || chr(233) || 'st-' || doc_id END AS artist,
      | CASE WHEN bad THEN '' ELSE 'Album-' || (doc_id % 7) END
      |  AS album,
      | NOT bad AS decode_ok,
      | CAST(CASE WHEN bad THEN -1 ELSE 44100 END AS INT)
      |  AS sample_rate
      |FROM p ORDER BY media_id""".stripMargin

  // ---------------------------------------------------------------- q187
  // Audio dedup keyed on tags across a MIXED MP3/Ogg column — WHY
  // q175's frames and the Ogg packet walk matter: the same recording
  // recurs across a crawl under different byte streams AND different
  // containers (an MP3 rip next to an Opus/Vorbis rip), so byte
  // hashes miss it; the (artist, title) tag key — ID3 TIT2/TPE1 for
  // MP3, the PACKET-REASSEMBLED VorbisComment/OpusTags second packet
  // for Ogg (Multimodal.audioTagKeys) — is the dedup identity audio
  // curation actually uses, and the id-derived keys collide across
  // containers so cross-container grouping is pinned (n_containers=2
  // rows exist). Every 8th-ish Opus row splits its tags packet across
  // two pages (255-lacing + continued flag), putting the lacing
  // reassembly itself under the oracle. Undecodable tags (truncated
  // every 13th; every 11th odd row gets ONE BIT FLIPPED inside a
  // page, which the RFC 3533 page CRC must catch — the CRC gate
  // itself is under the oracle) stay OUT of the grouping rather
  // than forming a garbage '' key. Oracle replays key derivation
  // and the min/count/distinct closed-form.
  private[queries] def q187(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val m = graft.multimodal.Multimodal
    val blobs = t(s, dir, "documents").filter($"doc_id" < 200)
      .select($"doc_id").as[Long]
      .map { id =>
        val title = s"Title-${id % 45}"
        val artist = s"Artést-${id % 15}"
        val b =
          if (id % 2 == 0) {
            val v = (id % 3).toInt
            m.syntheticTaggedMp3(id, title, artist,
              s"Album-${id % 7}", v4 = v == 2, enc = Array(0, 1, 3)(v))
          } else {
            val split = id % 8 == 1
            m.syntheticOgg(id,
              codec = if (id % 4 == 1) "opus" else "vorbis",
              channels = 2, rate = 48000,
              tags = Seq("ARTIST" -> artist, "TITLE" -> title),
              vendor = if (split) "graft-" + "v" * 300 else "graft",
              splitTags = split)
          }
        if (id % 13 == 0) b.copy(content = b.content.take(24))
        else if (id % 2 == 1 && id % 11 == 0) {
          // bit-flip inside the first page: the CRC gate, not a
          // parse failure, must route this row to decode_ok=false
          val c = b.content.clone()
          c(40) = (c(40) ^ 0x40).toByte
          b.copy(content = c)
        } else b
      }
    m.audioTagKeys(blobs).toDF()
      .filter($"decode_ok")
      .groupBy($"artist", $"title")
      .agg(min($"media_id").as("media_id"),
        count(lit(1)).as("n_copies"),
        countDistinct($"container").as("n_containers"))
      .select($"media_id", $"artist", $"title", $"n_copies",
        $"n_containers")
      .orderBy($"media_id")
  }
  private[queries] lazy val q187Sql =
    """WITH p AS (
      | SELECT doc_id, doc_id % 45 AS tk, doc_id % 15 AS ak,
      |  doc_id % 2 AS par
      | FROM documents WHERE doc_id < 200 AND doc_id % 13 <> 0
      |  AND NOT (doc_id % 2 = 1 AND doc_id % 11 = 0))
      |SELECT min(doc_id) AS media_id,
      | 'Art' || chr(233) || 'st-' || ak AS artist,
      | 'Title-' || tk AS title,
      | CAST(count(*) AS BIGINT) AS n_copies,
      | CAST(count(DISTINCT par) AS BIGINT) AS n_containers
      |FROM p GROUP BY tk, ak
      |ORDER BY media_id""".stripMargin

  // ---------------------------------------------------------------- q176
  // Ogg parse under the oracle — the streaming audio container next
  // to q168's MP3 and q169's FLAC: each row wraps an OpusHead (LE
  // pre-skip/input-rate) or Vorbis id header in a genuine Ogg stream
  // (segment lacing, BOS flag) followed by 0-2 data pages whose
  // final granule position yields the DURATION (Opus at 48 kHz minus
  // pre-skip per RFC 7845, Vorbis at the id rate; -1 with no data
  // page). Every 7th page carries an UNKNOWN first packet (container
  // valid, codec not — codec='unknown', decode_ok=false as separate
  // facts), every 13th is truncated mid-page (all sentinels). The
  // oracle replays the id-derived construction closed-form.
  private[queries] def q176(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val m = graft.multimodal.Multimodal
    val blobs = t(s, dir, "documents").filter($"doc_id" < 200)
      .select($"doc_id").as[Long]
      .map { id =>
        val rates = Array(8000, 16000, 24000, 48000)
        val np = (id % 3).toInt
        val b =
          if (id % 7 == 0) m.syntheticOgg(id, "mystery", 1, 0)
          else if (id % 2 == 0) {
            val skip = 100 + (id % 50).toInt
            m.syntheticOgg(id, "opus", 1 + (id % 2).toInt,
              rates((id / 2 % 4).toInt), preSkip = skip,
              dataPages = np,
              lastGranule = skip + 960L * (1 + id % 20))
          } else m.syntheticOgg(id, "vorbis", 1 + (id % 3).toInt,
            rates((id / 3 % 4).toInt), dataPages = np,
            lastGranule = 441L * (1 + id % 30))
        if (id % 13 == 0) b.copy(content = b.content.take(20)) else b
      }
    m.decodeOgg(blobs).toDF()
      .select($"media_id", $"codec", $"channels", $"sample_rate",
        $"pre_skip", $"duration_ms", $"decode_ok")
      .orderBy($"media_id")
  }
  private[queries] lazy val q176Sql =
    """WITH p AS (
      | SELECT doc_id,
      |  doc_id % 13 = 0 AS trunc, doc_id % 7 = 0 AS junk,
      |  doc_id % 2 = 0 AS is_opus
      | FROM documents WHERE doc_id < 200),
      |d AS (
      | SELECT doc_id, trunc, junk, is_opus,
      |  list_extract([8000, 16000, 24000, 48000],
      |   1 + (doc_id // 2) % 4) AS opus_rate,
      |  list_extract([8000, 16000, 24000, 48000],
      |   1 + (doc_id // 3) % 4) AS vorb_rate,
      |  1 + doc_id % 2 AS opus_ch, 1 + doc_id % 3 AS vorb_ch,
      |  100 + doc_id % 50 AS skip,
      |  doc_id % 3 AS np,
      |  960 * (1 + doc_id % 20) AS opus_samples,
      |  441 * (1 + doc_id % 30) AS vorb_granule
      | FROM p)
      |SELECT doc_id AS media_id,
      | CASE WHEN trunc THEN '' WHEN junk THEN 'unknown'
      |  WHEN is_opus THEN 'opus' ELSE 'vorbis' END AS codec,
      | CAST(CASE WHEN trunc OR junk THEN -1
      |  WHEN is_opus THEN opus_ch ELSE vorb_ch END AS INT)
      |  AS channels,
      | CAST(CASE WHEN trunc OR junk THEN -1
      |  WHEN is_opus THEN opus_rate ELSE vorb_rate END AS INT)
      |  AS sample_rate,
      | CAST(CASE WHEN trunc OR junk OR NOT is_opus THEN -1
      |  ELSE skip END AS INT) AS pre_skip,
      | CAST(CASE WHEN trunc OR junk OR np = 0 THEN -1
      |  WHEN is_opus THEN (opus_samples * 1000) // 48000
      |  ELSE (vorb_granule * 1000) // vorb_rate END AS BIGINT)
      |  AS duration_ms,
      | NOT (trunc OR junk) AS decode_ok
      |FROM d ORDER BY media_id""".stripMargin

  // ---------------------------------------------------------------- q196
  // FLAC PCM decode under the oracle (Multimodal.decodeFlacStats):
  // each row encodes deterministic samples into REAL FLAC frames —
  // constant/fixed-order-2-Rice subframes across multiple blocks,
  // mono and stereo, half the stereo rows through mid/side
  // decorrelation — and the operator decodes them back to per-channel
  // integer stats. DuckDB replays the stats from the sample FORMULA,
  // so frame parse + subframe predictors + Rice residuals + stereo
  // reconstruction are proven exact by arithmetic identity (the q192
  // pattern at the audio layer). Every 11th blob truncated → one
  // sentinel row.
  private[queries] def q196(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val m = graft.multimodal.Multimodal
    val blobs = t(s, dir, "documents").filter($"doc_id" < 120)
      .select($"doc_id").as[Long]
      .map { id =>
        val ch = 1 + (id % 2).toInt
        val n = 150 + (id % 5).toInt * 30
        val inter = new Array[Int](n * ch)
        if (ch == 1)
          (0 until n).foreach { i =>
            inter(i) =
              ((id * 31 + i.toLong * i * 7 + i * 13) % 401).toInt - 200
          }
        else (0 until n).foreach { i =>
          inter(2 * i) = ((id * 17 + i * 3) % 201).toInt - 100
          inter(2 * i + 1) = ((id * 13 + i * 7) % 151).toInt - 75
        }
        val mode = if (id % 4 == 1) "midside" else "independent"
        val b = MediaBlob(id, "audio/flac",
          m.flacEncode(16000, ch, 16, inter, blockSize = 64,
            stereoMode = mode))
        if (id % 11 == 0) b.copy(content = b.content.take(50)) else b
      }
    m.decodeFlacStats(blobs).toDF()
      .select($"media_id", $"channel", $"n_samples", $"peak",
        $"sum_abs", $"sum_sq", $"decode_ok")
      .orderBy($"media_id", $"channel")
  }
  private[queries] lazy val q196Sql =
    """WITH p AS (
      | SELECT doc_id, 1 + doc_id % 2 AS ch,
      |  150 + (doc_id % 5) * 30 AS n, doc_id % 11 = 0 AS bad
      | FROM documents WHERE doc_id < 120),
      |i AS (
      | SELECT doc_id, ch, CAST(k AS BIGINT) AS k
      | FROM p, unnest(generate_series(0, CAST(n - 1 AS BIGINT))) t(k)
      | WHERE NOT bad),
      |v AS (
      | SELECT doc_id, 0 AS channel,
      |  (doc_id * 31 + k * k * 7 + k * 13) % 401 - 200 AS v
      | FROM i WHERE ch = 1
      | UNION ALL
      | SELECT doc_id, 0, (doc_id * 17 + k * 3) % 201 - 100
      | FROM i WHERE ch = 2
      | UNION ALL
      | SELECT doc_id, 1, (doc_id * 13 + k * 7) % 151 - 75
      | FROM i WHERE ch = 2),
      |agg AS (
      | SELECT doc_id, channel, count(*) AS n_samples,
      |  max(abs(v)) AS peak, sum(abs(v)) AS sum_abs,
      |  sum(v * v) AS sum_sq
      | FROM v GROUP BY 1, 2)
      |SELECT doc_id AS media_id, CAST(channel AS INT) AS channel,
      | CAST(n_samples AS BIGINT) AS n_samples,
      | CAST(peak AS INT) AS peak, CAST(sum_abs AS BIGINT) AS sum_abs,
      | CAST(sum_sq AS BIGINT) AS sum_sq, TRUE AS decode_ok
      |FROM agg
      |UNION ALL
      |SELECT doc_id, CAST(-1 AS INT), CAST(-1 AS BIGINT),
      | CAST(-1 AS INT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), FALSE
      |FROM p WHERE bad
      |ORDER BY media_id, channel""".stripMargin

  // ---------------------------------------------------------------- q206
  // G.711 companded WAV under the oracle — telephony/IVR corpora ship
  // 8-bit µ-law (format 7) and A-law (format 6) WAVs, and a
  // speech-data pipeline that only reads PCM16 drops them. wavStats
  // now expands companded bytes with the exact ITU integer formulas
  // (µ-law: complement, BIAS-0x84 segment decode; A-law: 0x55 toggle,
  // segment decode) before the same per-channel peak/|s|/s² fold —
  // and the ORACLE REPLAYS THE EXPANSION ITSELF in SQL (bit shifts +
  // xor over the id-derived payload bytes), so the formulas are
  // pinned cross-engine, not just round-tripped. Every 13th blob
  // truncated → one sentinel row per blob.
  private[queries] def q206(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val m = graft.multimodal.Multimodal
    val blobs = t(s, dir, "documents").filter($"doc_id" < 200)
      .select($"doc_id").as[Long]
      .map { id =>
        val ch = 1 + (id % 2).toInt
        val n = (40 + (id % 17).toInt) * ch
        val payload = Array.tabulate(n)(k =>
          ((id * 7 + k * 13) % 256).toByte)
        val bytes = m.wavG711Bytes(8000, ch, ulaw = id % 2 == 0,
          payload)
        MediaBlob(id, "audio/wav",
          if (id % 13 == 0) bytes.take(30) else bytes)
      }
    m.decodeWavStats(blobs).toDF()
      .select($"media_id", $"channel", $"n_samples", $"peak",
        $"sum_abs", $"sum_sq", $"decode_ok")
      .orderBy($"media_id", $"channel")
  }
  private[queries] lazy val q206Sql =
    """WITH p AS (
      | SELECT doc_id, 1 + doc_id % 2 AS ch,
      |  (40 + doc_id % 17) * (1 + doc_id % 2) AS n,
      |  doc_id % 2 = 0 AS ulaw, doc_id % 13 = 0 AS bad
      | FROM documents WHERE doc_id < 200),
      |b AS (
      | SELECT doc_id, ch, ulaw, k,
      |  CAST((doc_id * 7 + k * 13) % 256 AS INT) AS v
      | FROM (SELECT doc_id, ch, ulaw, unnest(range(n)) AS k
      |       FROM p WHERE NOT bad) t),
      |sv AS (
      | SELECT doc_id, CAST(k % ch AS INT) AS channel,
      |  CASE WHEN ulaw THEN
      |   CASE WHEN (255 - v) >= 128
      |    THEN 132 - ((((255 - v) % 16) * 8 + 132)
      |          * (1 << (((255 - v) // 16) % 8)))
      |    ELSE ((((255 - v) % 16) * 8 + 132)
      |          * (1 << (((255 - v) // 16) % 8))) - 132 END
      |  ELSE
      |   CASE WHEN xor(v, 85) >= 128 THEN 1 ELSE -1 END *
      |   CASE WHEN ((xor(v, 85) // 16) % 8) = 0
      |    THEN (xor(v, 85) % 16) * 16 + 8
      |    ELSE ((xor(v, 85) % 16) * 16 + 264)
      |         * (1 << (((xor(v, 85) // 16) % 8) - 1)) END
      |  END AS s
      | FROM b),
      |agg AS (
      | SELECT doc_id, channel,
      |  CAST(count(*) AS BIGINT) AS n_samples,
      |  CAST(max(abs(s)) AS INT) AS peak,
      |  CAST(sum(abs(s)) AS BIGINT) AS sum_abs,
      |  CAST(sum(s * s) AS BIGINT) AS sum_sq
      | FROM sv GROUP BY doc_id, channel)
      |SELECT media_id, channel, n_samples, peak, sum_abs, sum_sq,
      | decode_ok
      |FROM (
      | SELECT doc_id AS media_id, channel, n_samples, peak, sum_abs,
      |  sum_sq, TRUE AS decode_ok
      | FROM agg
      | UNION ALL
      | SELECT doc_id, CAST(-1 AS INT), CAST(-1 AS BIGINT),
      |  CAST(-1 AS INT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
      |  FALSE
      | FROM p WHERE bad)
      |ORDER BY media_id, channel""".stripMargin

  // ---------------------------------------------------------------- q208
  // ADTS (AAC) frame walk under the oracle — the streaming-audio
  // sibling of q168's MP3 frame walk: HLS/podcast audio ships AAC in
  // self-framing ADTS, and the header chain alone yields exact frame
  // counts, duration (1024 samples per raw data block) and CRC-frame
  // tallies. The oracle replays the id-derived parameterization incl.
  // the 13-entry sampling-frequency table. Every 9th blob gets its
  // sync byte flipped → sentinel (ADTS rejection is whole-stream).
  private[queries] def q208(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val m = graft.multimodal.Multimodal
    val blobs = t(s, dir, "documents").filter($"doc_id" < 200)
      .select($"doc_id").as[Long]
      .map { id =>
        val b = m.syntheticAdts(id, frames = 3 + (id % 6).toInt,
          profile = (id % 4).toInt, rateIdx = (id % 13).toInt,
          channels = 1 + (id % 7).toInt)
        if (id % 9 == 0) {
          val c = b.content.clone(); c(0) = 0x21; b.copy(content = c)
        } else b
      }
    m.decodeAdts(blobs).toDF()
      .select($"media_id", $"profile", $"sample_rate", $"channels",
        $"frames", $"duration_ms", $"crc_frames", $"decode_ok")
      .orderBy($"media_id")
  }
  private[queries] lazy val q208Sql =
    """WITH p AS (
      | SELECT doc_id, 3 + doc_id % 6 AS n, doc_id % 4 AS pf,
      |  doc_id % 13 AS ri, 1 + doc_id % 7 AS ch,
      |  doc_id % 9 = 0 AS bad
      | FROM documents WHERE doc_id < 200),
      |r AS (
      | SELECT p.*, CASE ri WHEN 0 THEN 96000 WHEN 1 THEN 88200
      |  WHEN 2 THEN 64000 WHEN 3 THEN 48000 WHEN 4 THEN 44100
      |  WHEN 5 THEN 32000 WHEN 6 THEN 24000 WHEN 7 THEN 22050
      |  WHEN 8 THEN 16000 WHEN 9 THEN 12000 WHEN 10 THEN 11025
      |  WHEN 11 THEN 8000 ELSE 7350 END AS rate
      | FROM p)
      |SELECT media_id, profile, sample_rate, channels, frames,
      | duration_ms, crc_frames, decode_ok
      |FROM (
      | SELECT doc_id AS media_id, CAST(pf AS INT) AS profile,
      |  CAST(rate AS INT) AS sample_rate, CAST(ch AS INT) AS channels,
      |  CAST(n AS BIGINT) AS frames,
      |  CAST(n * 1024 * 1000 // rate AS BIGINT) AS duration_ms,
      |  CAST((n + 2) // 3 AS BIGINT) AS crc_frames, TRUE AS decode_ok
      | FROM r WHERE NOT bad
      | UNION ALL
      | SELECT doc_id, CAST(-1 AS INT), CAST(-1 AS INT),
      |  CAST(-1 AS INT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
      |  CAST(-1 AS BIGINT), FALSE
      | FROM p WHERE bad)
      |ORDER BY media_id""".stripMargin

  // ---------------------------------------------------------------- q212
  // CONTAINER → CODEC composition under the oracle: q195/q207 stop at
  // the container layer (sample tables, PES counts); this drives both
  // containers down to codec rows in one mixed column. Even ids are
  // MP4/mp4a — the esds AudioSpecificConfig is read (object type,
  // rate index split across the 2-byte ASC, channels) and every
  // stsz/stsc/stco sample payload is SLICED from mdat and byte-summed
  // (the oracle replays the id-derived byte formula, proving the
  // (offset, size) table reaches the actual bytes). Odd ids are
  // MPEG-TS whose audio PID carries a REAL ADTS stream chopped into
  // non-frame-aligned PES units spanning continuation TS packets —
  // tsAudioAac reassembles the elementary stream and q208's frame
  // walk must recover the exact frames/duration/CRC tallies of the
  // bare stream. Every 9th blob truncated → sentinel row property.
  private[queries] def q212(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val m = graft.multimodal.Multimodal
    t(s, dir, "documents").filter($"doc_id" < 200)
      .select($"doc_id").as[Long]
      .map { id =>
        if (id % 2 == 0) {
          val blob = m.syntheticMp4Aac(id, nFrames = 4 + (id % 7).toInt,
            aot = 2, rateIdx = (id % 13).toInt,
            channels = 1 + (id % 3).toInt)
          val bytes =
            if (id % 9 == 0) blob.content.take(60) else blob.content
          val a = m.parseMp4Aac(id, bytes)
          (id, "mp4", a.object_type, a.sample_rate, a.channels,
            a.n_frames, a.duration_ms, a.payload_sum, a.decode_ok)
        } else {
          val full = m.syntheticMpegTsAac(id, frames = 3 + (id % 6).toInt,
            profile = (id % 4).toInt, rateIdx = (id % 13).toInt,
            channels = 1 + (id % 7).toInt,
            pesChunk = 97 + (id % 5).toInt * 73)
          val bytes = if (id % 9 == 0) full.take(100) else full
          val a = m.tsAudioAac(id, bytes)
          (id, "ts", a.profile, a.sample_rate, a.channels, a.frames,
            a.duration_ms, a.crc_frames, a.decode_ok)
        }
      }
      .toDF("media_id", "container", "profile", "sample_rate",
        "channels", "frames", "duration_ms", "extra", "decode_ok")
      .orderBy($"media_id")
  }
  private[queries] lazy val q212Sql =
    """WITH p AS (
      | SELECT doc_id, doc_id % 2 = 0 AS mp4, doc_id % 9 = 0 AS bad,
      |  CASE WHEN doc_id % 2 = 0 THEN 4 + doc_id % 7
      |       ELSE 3 + doc_id % 6 END AS n,
      |  CASE WHEN doc_id % 2 = 0 THEN 2 ELSE doc_id % 4 END AS pf,
      |  doc_id % 13 AS ri,
      |  CASE WHEN doc_id % 2 = 0 THEN 1 + doc_id % 3
      |       ELSE 1 + doc_id % 7 END AS ch
      | FROM documents WHERE doc_id < 200),
      |r AS (
      | SELECT p.*, CASE ri WHEN 0 THEN 96000 WHEN 1 THEN 88200
      |  WHEN 2 THEN 64000 WHEN 3 THEN 48000 WHEN 4 THEN 44100
      |  WHEN 5 THEN 32000 WHEN 6 THEN 24000 WHEN 7 THEN 22050
      |  WHEN 8 THEN 16000 WHEN 9 THEN 12000 WHEN 10 THEN 11025
      |  WHEN 11 THEN 8000 ELSE 7350 END AS rate
      | FROM p),
      |mp4sum AS (
      | SELECT r.doc_id, SUM((r.doc_id * 37 + k.k * 13 + i.i) % 256)
      |  AS psum
      | FROM r,
      |  unnest(generate_series(0, CAST(r.n - 1 AS BIGINT))) k(k),
      |  unnest(generate_series(0,
      |    CAST(24 + (r.doc_id * 11 + k.k * 17) % 48 - 1 AS BIGINT)))
      |    i(i)
      | WHERE r.mp4 AND NOT r.bad
      | GROUP BY r.doc_id)
      |SELECT media_id, container, profile, sample_rate, channels,
      | frames, duration_ms, extra, decode_ok
      |FROM (
      | SELECT r.doc_id AS media_id,
      |  CASE WHEN r.mp4 THEN 'mp4' ELSE 'ts' END AS container,
      |  CAST(r.pf AS INT) AS profile,
      |  CAST(r.rate AS INT) AS sample_rate,
      |  CAST(r.ch AS INT) AS channels,
      |  CAST(r.n AS BIGINT) AS frames,
      |  CAST(r.n * 1024 * 1000 // r.rate AS BIGINT) AS duration_ms,
      |  CAST(CASE WHEN r.mp4 THEN m.psum
      |       ELSE (r.n + 2) // 3 END AS BIGINT) AS extra,
      |  TRUE AS decode_ok
      | FROM r LEFT JOIN mp4sum m ON r.doc_id = m.doc_id
      | WHERE NOT r.bad
      | UNION ALL
      | SELECT doc_id,
      |  CASE WHEN mp4 THEN 'mp4' ELSE 'ts' END,
      |  CAST(-1 AS INT), CAST(-1 AS INT), CAST(-1 AS INT),
      |  CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
      |  FALSE
      | FROM p WHERE bad)
      |ORDER BY media_id""".stripMargin
}
