package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{ColumnPlugins, Text, Vectors}
import graft.operators._

/** Text functions, ingest, summarize, chunking, tokenization. */
private[queries] trait QueriesText { this: Queries.type =>

  // ---------------------------------------------------------------- q16
  // F1/F2: slugify + alias over Vietnamese fixture names
  lazy val slugFixtures: Seq[String] = Seq(
    "Tuổi Trẻ", "Thể thao", "Giáo dục", "VnExpress", "Thanh Niên",
    "Khoa học", "Sức khỏe", "Giải trí", "Kinh doanh", "Thời sự",
    "Pháp luật", "Du lịch", "Công nghệ", "Thế giới")
  private[queries] def q16(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    slugFixtures.toDF("name")
      .select($"name", Text.slugify($"name").as("slug"),
        Text.aliasFromTopic($"name").as("alias"))
      .orderBy($"name")
  }
  private[queries] def q16Sql: String = {
    val values = slugFixtures.map(n => s"('$n')").mkString(", ")
    s"""SELECT name,
       | replace(translate(lower(name), '${Text.diacriticFrom}', '${Text.diacriticTo}'), ' ', '') AS slug,
       | lower(array_to_string(list_transform(string_split(name, ' '),
       |   w -> substr(w, 1, 1)), '')) AS alias
       |FROM (VALUES $values) t(name) ORDER BY name""".stripMargin
  }

  // ---------------------------------------------------------------- q17
  // Token counting (whitespace + BPE-ish + distinct)
  private[queries] def q17(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents").select($"doc_id",
      TextAnalysis.wsTokenCount($"text").cast("long").as("ws_tokens"),
      TextAnalysis.bpeTokenCount($"text").cast("long").as("bpe_tokens"),
      TextAnalysis.distinctTokenCount($"text").cast("long")
        .as("distinct_tokens"))
      .orderBy($"doc_id")
  }
  private[queries] lazy val q17Sql =
    """SELECT doc_id,
      | len(regexp_extract_all(text, '\S+')) AS ws_tokens,
      | len(regexp_extract_all(lower(text), '[a-z0-9]{1,4}')) AS bpe_tokens,
      | len(list_distinct(regexp_extract_all(text, '\S+'))) AS distinct_tokens
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q18
  // Document quality scoring
  private[queries] def q18(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // floor(x·10⁴+0.5)/10⁴ instead of round(x, 4): both engines compute
    // it on the same IEEE double, so half-way ties break identically
    // (round() ties differ: Spark BigDecimal HALF_UP vs DuckDB scaled
    // double).
    t(s, dir, "documents").select($"doc_id",
      (floor(TextAnalysis.qualityScore($"text") * 10000.0 + 0.5) / 10000.0)
        .as("quality"))
      .orderBy($"doc_id")
  }
  private[queries] def q18Sql: String = {
    val stopRe = s"\\b(${TextAnalysis.stopwords.mkString("|")})\\b"
    s"""SELECT doc_id, floor((CASE WHEN toks > 0 THEN
       |  least(1.0, toks / 100.0) * 0.4
       |  + least(1.0, stop * 5.0 / toks) * 0.3
       |  + (dist / toks) * 0.3 ELSE 0.0 END) * 10000.0 + 0.5) / 10000.0 AS quality
       |FROM (
       | SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '\\S+')) AS DOUBLE) AS toks,
       |  CAST(len(regexp_extract_all(lower(text), '$stopRe')) AS DOUBLE) AS stop,
       |  CAST(len(list_distinct(regexp_extract_all(text, '\\S+'))) AS DOUBLE) AS dist
       | FROM documents)
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q19
  // Language ID (stopword-profile argmax heuristic)
  private[queries] def q19(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents").select($"doc_id",
      TextAnalysis.langId($"text").as("lang_pred"))
      .orderBy($"doc_id")
  }
  private[queries] def q19Sql: String = {
    val scores = TextAnalysis.langProfiles.map { case (lang, re) =>
      s"len(regexp_extract_all(lower(text), '$re')) AS s_$lang"
    }.mkString(",\n  ")
    val names = TextAnalysis.langProfiles.map(_._1)
    val best = s"greatest(${names.map("s_" + _).mkString(", ")})"
    val cases = names.map(l => s"WHEN s_$l = best THEN '$l'").mkString(" ")
    s"""SELECT doc_id, CASE WHEN best = 0 THEN 'und' $cases END AS lang_pred
       |FROM (SELECT doc_id, $best AS best, s_de, s_en, s_es, s_fr FROM (
       | SELECT doc_id,
       |  $scores
       | FROM documents))
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q20
  // Content fingerprinting (md5 of normalized text)
  private[queries] def q20(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents").select($"doc_id",
      TextAnalysis.fingerprint($"text").as("fp"))
      .orderBy($"doc_id")
  }
  private[queries] lazy val q20Sql =
    """SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q27
  // G3: recursive text chunker, BYTE-IDENTICAL oracle: the separator
  // recursion is depth-bounded (6 separator levels + hard cut), so the
  // oracle unrolls it as 7 nested list transforms; only the greedy
  // packer (sequential carry fold) needs a recursive CTE, advancing
  // one segment per doc per iteration. Exact parity holds because the
  // corpus is BMP-only ASCII (Scala UTF-16 .length ≡ DuckDB len) —
  // spec invariants in ChunkerSpec still cover the general case.
  private[queries] def q27(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Chunker.chunkDF(t(s, dir, "documents"), "doc_id", "text",
        size = 100, overlap = 20)
      .select($"doc_id", $"chunk_idx".cast("long").as("chunk_idx"),
        $"chunk")
      .orderBy($"doc_id", $"chunk_idx")
  }
  private[queries] lazy val q27Sql = {
    val size = 100; val overlap = 20; val minLen = 10
    // separator priority order — mirrors Chunker.DefaultSeps
    val seps = Seq("'. '", "'! '", "'? '", "E'\\n\\n'", "E'\\n'", "' '")
    // Scala String.trim strips every char ≤ U+0020 from both ends
    val trimset = "E'" + (1 to 32).map(c => f"\\x$c%02X").mkString + "'"
    // split keeping the separator attached to the left piece, dropping
    // a trailing empty piece — Chunker.segment
    def attach(p: String, sep: String): String = {
      val parts = s"string_split($p, $sep)"
      s"(list_transform($parts[1:len($parts)-1], z -> z || $sep) || " +
        s"(CASE WHEN $parts[-1] = '' THEN []::VARCHAR[] " +
        s"ELSE [$parts[-1]] END))"
    }
    // level k: pieces > size split by the first separator from seps(k:)
    // they contain (single-piece splits pass through — Chunker.explode)
    def level(inner: String, k: Int): String = {
      val branches = seps.drop(k).map { s =>
        val att = attach("p", s)
        s"WHEN contains(p, $s) THEN " +
          s"(CASE WHEN len($att) <= 1 THEN [p] ELSE $att END)"
      }.mkString(" ")
      s"flatten(list_transform($inner, p -> " +
        s"CASE WHEN len(p) <= $size THEN [p] " +
        s"ELSE (CASE $branches ELSE [p] END) END))"
    }
    // final level: hard character cut (Chunker's grouped(size))
    def hardcut(inner: String): String = {
      val cut = s"list_transform(range(0, (len(p) + ${size - 1}) " +
        s"// $size), j -> substr(p, (j * $size)::INT + 1, $size))"
      s"flatten(list_transform($inner, p -> " +
        s"CASE WHEN len(p) <= $size THEN [p] ELSE $cut END))"
    }
    val segExpr = hardcut(
      seps.indices.foldLeft("[text]")((e, k) => level(e, k)))
    s"""WITH RECURSIVE
       |segs AS (
       | SELECT doc_id, $segExpr AS segs
       | FROM documents WHERE text IS NOT NULL AND text <> ''),
       |fold AS (
       | SELECT doc_id, 1 AS i, '' AS cur, []::VARCHAR[] AS out, segs
       | FROM segs
       | UNION ALL
       | SELECT doc_id, i + 1,
       |  CASE WHEN cur <> '' AND len(cur) + len(segs[i]) > $size
       |   THEN (CASE WHEN least($overlap, $size - len(segs[i])) > 0
       |     THEN right(cur, least($overlap, $size - len(segs[i])))
       |     ELSE '' END) || segs[i]
       |   ELSE cur || segs[i] END,
       |  CASE WHEN cur <> '' AND len(cur) + len(segs[i]) > $size
       |   THEN list_append(out, cur) ELSE out END,
       |  segs
       | FROM fold WHERE i <= len(segs)),
       |done AS (
       | SELECT doc_id,
       |  CASE WHEN cur <> '' THEN list_append(out, cur) ELSE out END
       |    AS chunks
       | FROM fold WHERE i = len(segs) + 1),
       |kept AS (
       | SELECT doc_id,
       |  list_filter(list_transform(chunks, c -> trim(c, $trimset)),
       |   c -> len(c) > $minLen) AS chunks
       | FROM done)
       |SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS chunk_idx, u.x AS chunk
       |FROM kept,
       | unnest(list_transform(chunks, (x, i) -> {'i': i, 'x': x})) t(u)
       |ORDER BY doc_id, chunk_idx""".stripMargin
  }

  // ---------------------------------------------------------------- q31
  // F3: double HTML unescape fixtures
  lazy val unescapeFixtures: Seq[String] = Seq(
    "Tom &amp;amp; Jerry", "a &amp;lt;b&amp;gt; c", "x &amp; y",
    "&quot;quoted&quot;", "&#39;s", "5&nbsp;6", "plain text",
    "&amp;quot;deep&amp;quot;")
  private[queries] def q31(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    unescapeFixtures.toDF("raw")
      .select($"raw", Text.htmlUnescapeTwice($"raw").as("unescaped"))
      .orderBy($"raw")
  }
  private[queries] def q31Sql: String = {
    val values = unescapeFixtures.map(v => s"('$v')").mkString(", ")
    def onePass(expr: String): String =
      Text.htmlEntities.foldLeft(expr) { case (e, (ent, ch)) =>
        val repl = if (ch == "'") "''" else ch
        s"replace($e, '$ent', '$repl')"
      }
    val twoPass = onePass(onePass("raw"))
    s"""SELECT raw, $twoPass AS unescaped
       |FROM (VALUES $values) t(raw) ORDER BY raw""".stripMargin
  }

  // ---------------------------------------------------------------- q32
  // F5: clean_text Vietnamese golden path (oracle: RE2 \p{L}\p{N} class
  // mirrors Java's (?U)\w for NFC Vietnamese; order-preserving dedup via
  // positional list_filter since DuckDB's list_distinct reorders)
  lazy val cleanFixtures: Seq[String] = Seq(
    "Đây là câu. Đây là câu. Ảnh: Hoài Thanh",
    "Một câu!! Hai câu?? Một câu.",
    "  nhiều   khoảng   trắng  . chấm..câu  ",
    "no-op sentence. another one.")
  private[queries] def q32(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    cleanFixtures.toDF("raw")
      .select($"raw", Text.cleanText($"raw").as("cleaned"))
      .orderBy($"raw")
  }
  private[queries] def q32Sql: String = {
    val values = cleanFixtures.map(v => s"('$v')").mkString(", ")
    s"""WITH c1 AS (SELECT raw,
       |  regexp_replace(raw, 'Ảnh:\\s*[^.!?]*[.!?]?', '', 'g') AS x
       |  FROM (VALUES $values) t(raw)),
       |c2 AS (SELECT raw,
       |  regexp_replace(x, '[^\\p{L}\\p{N}_\\s.!?]', '', 'g') AS x FROM c1),
       |c3 AS (SELECT raw, regexp_replace(regexp_replace(x, '\\s+', ' ', 'g'),
       |  '\\.{2,}', '.', 'g') AS x FROM c2),
       |c4 AS (SELECT raw, list_filter(list_transform(
       |  string_split_regex(x, '\\.\\s*'), y -> trim(y)),
       |  y -> len(y) > 0) AS l FROM c3),
       |c5 AS (SELECT raw,
       |  list_filter(l, (y, i) -> list_position(l, y) = i) AS d FROM c4)
       |SELECT raw, CASE WHEN len(d) > 0
       |  THEN array_to_string(d, '. ') || '. ' ELSE '' END AS cleaned
       |FROM c5 ORDER BY raw""".stripMargin
  }

  // ---------------------------------------------------------------- q33
  // F4: lenient date parsing fixtures
  lazy val dateFixtures: Seq[String] = Seq(
    "Mon, 05 Aug 2024 10:30:00 +0700",
    "Tue, 06 Aug 2024 08:00:00 -0500",
    "2024-08-05T03:30:00Z",
    "2024-08-05T03:30:00+02:00",
    "2024-08-05 03:30:00",
    "2024-08-05",
    "not a date")
  private[queries] def q33(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    dateFixtures.toDF("raw")
      .select($"raw", Text.parseDateLenient($"raw").as("parsed"))
      .orderBy($"raw")
  }
  private[queries] def q33Sql: String = {
    val values = dateFixtures.map(v => s"('$v')").mkString(", ")
    s"""SELECT raw, coalesce(
       |  try_strptime(raw, '%a, %d %b %Y %H:%M:%S %z')::TIMESTAMP,
       |  try_strptime(raw, '%Y-%m-%dT%H:%M:%SZ')::TIMESTAMP,
       |  try_strptime(raw, '%Y-%m-%dT%H:%M:%S%z')::TIMESTAMP,
       |  try_strptime(raw, '%Y-%m-%d %H:%M:%S')::TIMESTAMP,
       |  try_strptime(raw, '%Y-%m-%d')::TIMESTAMP) AS parsed
       |FROM (VALUES $values) t(raw) ORDER BY raw""".stripMargin
  }

  // ---------------------------------------------------------------- q34
  // F9: md5 → UUID deterministic point ids
  private[queries] def q34(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents").select($"doc_id",
      Text.md5Uuid(concat(lit("doc://"), $"doc_id")).as("point_id"))
      .orderBy($"doc_id")
  }
  private[queries] lazy val q34Sql =
    """SELECT doc_id,
      | substr(h, 1, 8) || '-' || substr(h, 9, 4) || '-' || substr(h, 13, 4)
      |  || '-' || substr(h, 17, 4) || '-' || substr(h, 21, 12) AS point_id
      |FROM (SELECT doc_id, md5('doc://' || doc_id) AS h FROM documents)
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q35
  // S1/G1/G2/J2/F1/F2: ingest entry point — nested JSON config scan,
  // double map explode, anti-join vs already-seen urls, entry explode
  // with per-feed cap, slug/alias enrichment (rss_feeds.py:9-15 +
  // raw_articles.py:44-95)
  private[queries] lazy val feedConfigPath = "/root/repo/fixtures/rss_feeds.json"
  private[queries] lazy val seenFeedUrls = Seq(
    "https://feeds.example.com/vnexpress/thoi-su.rss",
    "https://feeds.example.com/dantri/suc-khoe.rss")
  private[queries] def q35(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val feeds = Ingest.feedConfig(s, feedConfigPath)
    val fresh = feeds.join(seenFeedUrls.toDF("url"), Seq("url"), "left_anti")
    Ingest.explodeEntries(fresh, perFeed = 3, cap = 2)
      .select($"source", $"topic", Text.slugify($"topic").as("slug"),
        Text.aliasFromTopic($"topic").as("alias"), $"link")
      .orderBy($"source", $"topic", $"link")
  }
  private[queries] def q35Sql: String = {
    val seen = seenFeedUrls.map(u => s"'$u'").mkString(", ")
    s"""WITH raw AS (SELECT CAST(json AS MAP(VARCHAR, MAP(VARCHAR, VARCHAR))) AS m
       |  FROM read_json_objects('$feedConfigPath', format='unstructured')),
       |lvl1 AS (SELECT unnest(map_entries(m)) AS e FROM raw),
       |lvl2 AS (SELECT e.key AS source, unnest(map_entries(e.value)) AS t FROM lvl1),
       |feeds AS (SELECT source, t.key AS topic, t.value AS url FROM lvl2),
       |fresh AS (SELECT * FROM feeds WHERE url NOT IN ($seen)),
       |entries AS (SELECT source, topic, url, unnest([1, 2]) AS entry_no FROM fresh)
       |SELECT source, topic,
       | replace(translate(lower(topic), '${Text.diacriticFrom}', '${Text.diacriticTo}'), ' ', '') AS slug,
       | lower(array_to_string(list_transform(string_split(topic, ' '),
       |   w -> substr(w, 1, 1)), '')) AS alias,
       | url || '?item=' || entry_no AS link
       |FROM entries ORDER BY source, topic, link""".stripMargin
  }

  // ---------------------------------------------------------------- q36
  // M1/F6/F7: summarize lifecycle — extractive bullet summary, cleaned
  // and split back to bullets; oracle derives the expected bullets
  // independently from the raw words
  private[queries] def q36(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val raw = ColumnPlugins("summarize")($"text")
    val bullets = Text.summaryBullets(Text.cleanSummary(raw))
    t(s, dir, "documents")
      .select($"doc_id", size(bullets).cast("long").as("n_bullets"),
        array_join(bullets, " | ").as("bullets"))
      .orderBy($"doc_id")
  }
  private[queries] lazy val q36Sql =
    """WITH d AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS w
      | FROM documents),
      |b AS (SELECT doc_id, list_filter([
      |  array_to_string(w[1:2], ' '), array_to_string(w[3:4], ' '),
      |  array_to_string(w[5:6], ' '), array_to_string(w[7:8], ' ')],
      |  x -> len(x) > 0) AS bl FROM d)
      |SELECT doc_id, CAST(len(bl) AS BIGINT) AS n_bullets,
      | array_to_string(bl, ' | ') AS bullets
      |FROM b ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q37
  // G5+A5: statement extraction explode + rule-based status + scorecard
  private[queries] def q37(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val stmts = t(s, dir, "documents")
      .select($"doc_id", Summarize.words($"text").as("w"))
      .select($"doc_id",
        explode(Summarize.statements($"w", width = 6)).as("statement"))
      .withColumn("status", Summarize.statementStatus($"statement"))
    Summarize.scorecard(stmts, "doc_id", "status")
      .orderBy($"doc_id")
  }
  private[queries] lazy val q37Sql =
    """WITH d AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS w
      | FROM documents),
      |ix AS (SELECT doc_id, w,
      | unnest(range(0, CAST(ceil(len(w) / 6.0) AS INT))) AS i FROM d),
      |st AS (SELECT doc_id,
      | array_to_string(w[(i*6+1):(i*6+6)], ' ') AS statement FROM ix),
      |cl AS (SELECT doc_id,
      | CASE WHEN statement LIKE '%window%' OR statement LIKE '%stream%'
      |      THEN 'confirmed'
      |      WHEN statement LIKE '%dup%' THEN 'refuted'
      |      ELSE 'unverified' END AS status FROM st),
      |agg AS (SELECT doc_id,
      | CAST(sum(CASE WHEN status = 'confirmed' THEN 1 ELSE 0 END) AS BIGINT) AS confirmed,
      | CAST(sum(CASE WHEN status = 'refuted' THEN 1 ELSE 0 END) AS BIGINT) AS refuted,
      | count(*) AS total FROM cl GROUP BY 1)
      |SELECT doc_id, confirmed, refuted, total,
      | CASE WHEN total = 0 THEN 0.0
      |      WHEN total < 5 THEN 1.0
      |      ELSE round(greatest(3.0, least(10.0,
      |        (CAST(confirmed AS DOUBLE) / total
      |         - CAST(refuted AS DOUBLE) * 0.5 / total) * 10.0)), 4)
      | END AS score
      |FROM agg ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q40
  // F12/K1: JSON serialization for the raw zone (s3_io_manager.py:37)
  private[queries] def q40(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "orders").filter($"o_orderkey" % 97 === 0)
      .select($"o_orderkey",
        to_json(struct($"o_orderkey", $"o_custkey", $"o_orderstatus",
          $"o_orderpriority")).as("js"))
      .orderBy($"o_orderkey")
  }
  private[queries] lazy val q40Sql =
    """SELECT o_orderkey,
      | CAST(to_json(struct_pack(o_orderkey := o_orderkey,
      |   o_custkey := o_custkey, o_orderstatus := o_orderstatus,
      |   o_orderpriority := o_orderpriority)) AS VARCHAR) AS js
      |FROM orders WHERE o_orderkey % 97 = 0 ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q42
  // S3+S4: HTML main-text extraction + first image URL over fixtures
  lazy val htmlFixtures: Seq[(Long, String)] = Seq(
    (0L, "<html><head><style>p{color:red}</style></head><body><nav>menu" +
      "</nav><p>First para.</p><script>var x=1;</script><p>Second para." +
      "</p><img src=\"https://img.example.com/a.jpg\"/><footer>foot" +
      "</footer></body></html>"),
    (1L, "<div><p>Hello <b>world</b>.</p><iframe src=\"https://e.example" +
      ".com\">junk</iframe><img src=\"https://img.example.com/b.png\"></div>"),
    (2L, "<article>Text with no image, just <em>emphasis</em>.</article>"),
    (3L, "plain text with no tags at all"))
  private[queries] def q42(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    htmlFixtures.toDF("id", "html")
      .select($"id", Text.htmlMainText($"html").as("main_text"),
        Text.firstImgSrc($"html").as("img"))
      .orderBy($"id")
  }
  private[queries] def q42Sql: String = {
    val values = htmlFixtures
      .map { case (i, h) => s"($i, '$h')" }.mkString(", ")
    val stripChrome = Text.chromeTags.foldLeft("html")((e, tag) =>
      s"regexp_replace($e, '(?is)<$tag[^>]*>.*?</$tag>', ' ', 'g')")
    s"""SELECT id,
       | trim(regexp_replace(regexp_replace($stripChrome,
       |   '<[^>]+>', ' ', 'g'), '\\s+', ' ', 'g')) AS main_text,
       | regexp_extract(html, '<img[^>]*src="([^"]+)"', 1) AS img
       |FROM (VALUES $values) t(id, html) ORDER BY id""".stripMargin
  }

  // ---------------------------------------------------------------- q49
  // Semi-structured JSON column: field extraction + aggregation over
  // the events props payload (the raw-zone JSON read path, K1 inverse)
  private[queries] def q49(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "events")
      .select($"event_type",
        get_json_object($"props", "$.k").cast("long").as("k"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("cnt"), sum($"k").as("sum_k"),
        max($"k").as("max_k"))
      .orderBy($"event_type")
  }
  private[queries] lazy val q49Sql =
    """SELECT event_type, count(*) AS cnt,
      | CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      | CAST(max(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q50
  // S2 offline: RSS/XML feed parse — item explode, title double-
  // unescape (F3), lenient pubDate parse (F4), first-image extraction
  // (S4) — the real ingest parse chain over a stored feed document
  private[queries] lazy val feedXmlPath = "/root/repo/fixtures/feed_sample.xml"
  private[queries] def q50(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val raw = s.read.option("wholetext", "true").text(feedXmlPath)
    raw.select(explode(split($"value", "<item>")).as("x"))
      .filter($"x".contains("</item>"))
      .select(
        regexp_extract($"x", "<link>([^<]*)</link>", 1).as("link"),
        Text.htmlUnescapeTwice(
          regexp_extract($"x", "(?s)<title>(.*?)</title>", 1)).as("title"),
        Text.parseDateLenient(
          regexp_extract($"x", "<pubDate>([^<]*)</pubDate>", 1))
          .as("published"),
        Text.firstImgSrc(
          regexp_extract($"x", "(?s)<description>(.*?)</description>", 1))
          .as("image"))
      .orderBy($"link")
  }
  private[queries] def q50Sql: String = {
    def onePass(expr: String): String =
      Text.htmlEntities.foldLeft(expr) { case (e, (ent, ch)) =>
        val repl = if (ch == "'") "''" else ch
        s"replace($e, '$ent', '$repl')"
      }
    val title = onePass(onePass(
      "regexp_extract(x, '(?s)<title>(.*?)</title>', 1)"))
    s"""WITH items AS (
       | SELECT unnest(string_split(content, '<item>')) AS x
       | FROM read_text('$feedXmlPath'))
       |SELECT regexp_extract(x, '<link>([^<]*)</link>', 1) AS link,
       | $title AS title,
       | coalesce(
       |  try_strptime(regexp_extract(x, '<pubDate>([^<]*)</pubDate>', 1),
       |    '%a, %d %b %Y %H:%M:%S %z')::TIMESTAMP,
       |  try_strptime(regexp_extract(x, '<pubDate>([^<]*)</pubDate>', 1),
       |    '%Y-%m-%dT%H:%M:%SZ')::TIMESTAMP) AS published,
       | regexp_extract(
       |   regexp_extract(x, '(?s)<description>(.*?)</description>', 1),
       |   '<img[^>]*src="([^"]+)"', 1) AS image
       |FROM items WHERE x LIKE '%</item>%' ORDER BY link""".stripMargin
  }

  // ---------------------------------------------------------------- q57
  // Fuzzy matching: Levenshtein edit distance between topic slugs —
  // the string-similarity cousin of the n-gram dedup family. The
  // crossJoin is sound ONLY because the input is a 14-row fixture
  // list; the table-scale path is candidate pruning first — bucket by
  // length band (edit distance ≥ length gap, so |len(a)−len(b)| > k
  // pairs can never match; the q84 bandJoin shape) or by shared
  // n-gram (the q22 inverted-index shape) — then levenshtein on the
  // pruned pairs. Do not lift this as-is onto a real table.
  private[queries] def q57(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val slugs = slugFixtures.toDF("name")
      .select($"name", Text.slugify($"name").as("slug"))
    slugs.as("a").crossJoin(slugs.as("b"))
      .filter($"a.slug" < $"b.slug")
      .select($"a.slug".as("slug_a"), $"b.slug".as("slug_b"),
        levenshtein($"a.slug", $"b.slug").cast("long").as("dist"))
      .filter($"dist" <= 5)
      .orderBy($"slug_a", $"slug_b")
  }
  private[queries] def q57Sql: String = {
    val values = slugFixtures.map(n => s"('$n')").mkString(", ")
    s"""WITH s AS (SELECT replace(translate(lower(name),
       |  '${Text.diacriticFrom}', '${Text.diacriticTo}'), ' ', '') AS slug
       | FROM (VALUES $values) t(name))
       |SELECT a.slug AS slug_a, b.slug AS slug_b,
       | CAST(levenshtein(a.slug, b.slug) AS BIGINT) AS dist
       |FROM s a JOIN s b ON a.slug < b.slug
       |WHERE levenshtein(a.slug, b.slug) <= 5
       |ORDER BY slug_a, slug_b""".stripMargin
  }

  // ---------------------------------------------------------------- q90
  // Table profiling: per-column nulls / exact distincts / min-max in
  // one scan, unpivoted to (column, stat) rows
  private[queries] def q90(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Profile.table(t(s, dir, "documents"),
        Seq("doc_id", "lang", "source", "n_chars"))
      .orderBy($"col_name")
  }
  private[queries] lazy val q90Sql = {
    def one(c: String) =
      s"""SELECT '$c' AS col_name, count(*) AS n_rows,
         | CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |   AS n_nulls,
         | CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
         | CAST(min($c) AS VARCHAR) AS min_val,
         | CAST(max($c) AS VARCHAR) AS max_val
         |FROM documents""".stripMargin
    Seq("doc_id", "lang", "source", "n_chars").map(one)
      .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
  }

  // ---------------------------------------------------------------- q97
  // Unicode NFC canonical composition (native codegen'd NfcNormalize,
  // SQL-registered as graft_nfc): decomposed "e"+U+0301 sequences
  // compose to "é" so downstream hash/shingle/token operators see ONE
  // canonical form. The decomposed input is built deterministically
  // from row data; char counts drop by exactly the composed pairs.
  private[queries] def q97(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dec = concat($"source", lit("-cafe"), lit("\u0301-"), $"lang")
    t(s, dir, "documents").filter($"doc_id" < 200)
      .select($"doc_id", length(dec).cast("long").as("raw_len"),
        Text.nfc(dec).as("nfc_str"),
        length(Text.nfc(dec)).cast("long").as("nfc_len"))
      .orderBy($"doc_id")
  }
  private[queries] lazy val q97Sql =
    """WITH d AS (SELECT doc_id,
      |  source || '-cafe' || chr(769) || '-' || lang AS dec
      | FROM documents WHERE doc_id < 200)
      |SELECT doc_id, length(dec) AS raw_len,
      | nfc_normalize(dec) AS nfc_str,
      | length(nfc_normalize(dec)) AS nfc_len
      |FROM d ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q110
  // Vietnamese word segmentation (G3's ViTokenizer step, previously
  // stood in by whitespace tokenization): greedy maximal matching
  // against the built-in compound lexicon, as the native codegen'd
  // ViSegment expression. Deterministic Vietnamese text is built from
  // row data (a word-pool cycle both engines replay); the oracle
  // re-implements the greedy longest-match walk as a recursive CTE
  // over the syllable lists with the SAME lexicon as literal IN-lists
  // — an independent second implementation, not a copy of the output.
  private[queries] def q110(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pool = q110Pool
    val poolArr = array(pool.map(lit): _*)
    val words = (0 until 12).map(i => element_at(poolArr,
      (pmod($"doc_id" * 3 + i * 5, lit(pool.length)) + 1).cast("int")))
    val text = concat_ws(" ", words: _*)
    t(s, dir, "documents").filter($"doc_id" < 200)
      .select($"doc_id", TextAnalysis.viSegment(text).as("w"))
      .select($"doc_id",
        array_join($"w", " ").as("seg"),
        size($"w").cast("long").as("n_words"),
        size(filter($"w", x => x.contains("_"))).cast("long")
          .as("n_compounds"))
      .orderBy($"doc_id")
  }
  private[queries] lazy val q110Pool = Seq("việt nam", "học sinh", "thời gian",
    "máy tính", "rất", "tốt", "của", "và", "người", "đại học",
    "sách giáo khoa", "phát triển", "không", "mới")
  private[queries] def q110Sql: String = {
    val lex = TextAnalysis.viLexicon.map(_.trim.toLowerCase)
    def inList(n: Int) = lex.filter(_.split(' ').length == n)
      .map(w => s"'$w'").mkString(", ")
    val poolLit = q110Pool.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH RECURSIVE sy AS (
       | SELECT doc_id, flatten(list_transform(range(0, 12),
       |   i -> string_split($poolLit[
       |     CAST((doc_id * 3 + i * 5) % ${q110Pool.length} AS INT) + 1],
       |     ' '))) AS sy
       | FROM documents WHERE doc_id < 200),
       |walk AS (
       | SELECT doc_id, sy, 1 AS pos, '' AS seg FROM sy
       | UNION ALL
       | SELECT doc_id, sy, pos + step,
       |  seg || CASE WHEN seg = '' THEN '' ELSE ' ' END ||
       |   CASE step
       |    WHEN 3 THEN sy[pos] || '_' || sy[pos+1] || '_' || sy[pos+2]
       |    WHEN 2 THEN sy[pos] || '_' || sy[pos+1]
       |    ELSE sy[pos] END
       | FROM (
       |  SELECT doc_id, sy, pos, seg,
       |   CASE WHEN pos + 2 <= len(sy) AND lower(
       |      sy[pos] || ' ' || sy[pos+1] || ' ' || sy[pos+2])
       |      IN (${inList(3)}) THEN 3
       |    WHEN pos + 1 <= len(sy) AND lower(sy[pos] || ' ' || sy[pos+1])
       |      IN (${inList(2)}) THEN 2
       |    ELSE 1 END AS step
       |  FROM walk WHERE pos <= len(sy)) t)
       |SELECT doc_id, seg,
       | CAST(len(string_split(seg, ' ')) AS BIGINT) AS n_words,
       | CAST(len(list_filter(string_split(seg, ' '),
       |   x -> contains(x, '_'))) AS BIGINT) AS n_compounds
       |FROM walk WHERE pos > len(sy)
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q119
  // Frozen-vocab BPE token counting (TextAnalysis.bpePieceCount): a
  // REAL merge-table byte-pair tokenizer over the committed 60-merge
  // toy vocab, replacing the 4-char-run proxy for budget-accurate
  // counts (the reference budgets chunks by its HF tokenizer's piece
  // count, chunk_splitter.py:52-62). All scan-side codegen'd string
  // functions; the oracle SQL is GENERATED from the same frozen merge
  // table, so DuckDB replays the merge algorithm itself.
  private[queries] def q119(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents").select($"doc_id",
        TextAnalysis.bpePieceCount($"text").cast("long").as("bpe_tokens"),
        TextAnalysis.wsTokenCount($"text").cast("long").as("ws_tokens"))
      .orderBy($"doc_id")
  }
  private[queries] lazy val q119Sql = {
    val m = TextAnalysis.bpePieceCountSql("text")
    s"""WITH b AS (SELECT doc_id, text, $m AS s FROM documents)
       |SELECT doc_id,
       | CAST(len(s) - len(replace(s, '<', '')) AS BIGINT) AS bpe_tokens,
       | CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS ws_tokens
       |FROM b ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q163
  // URL canonicalization (Text.canonicalUrl) — the key under which
  // crawl URL-dedup equates pages. The fixture assembles every messy
  // spelling from id-derived parts (uppercase scheme/host, www
  // prefix, scheme-consistent default ports vs a real :8080, tracking
  // params mixed with real ones, utm-only queries, trailing slashes,
  // fragments) and the oracle states the EXPECTED canonical
  // closed-form — an independent answer key, not a replay of the
  // regex chain, so a rule regression cannot hide behind a matching
  // implementation bug on both sides.
  private[queries] def q163(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val urls = t(s, dir, "documents").filter($"doc_id" < 200)
      .select($"doc_id",
        concat(
          when($"doc_id" % 3 === 0, lit("HTTPS")).otherwise(lit("http")),
          lit("://"),
          when($"doc_id" % 2 === 0,
            concat(lit("WWW.Site"), ($"doc_id" % 50).cast("string"),
              lit(".COM")))
            .otherwise(concat(lit("site"),
              ($"doc_id" % 50).cast("string"), lit(".com"))),
          when($"doc_id" % 4 === 1,
            when($"doc_id" % 3 === 0, lit(":443")).otherwise(lit(":80")))
            .when($"doc_id" % 4 === 2, lit(":8080"))
            .otherwise(lit("")),
          lit("/Article/"), $"doc_id".cast("string"),
          when($"doc_id" % 5 === 0, lit("/")).otherwise(lit("")),
          when($"doc_id" % 7 < 3, lit("?a=1&utm_source=x&b=2"))
            .when($"doc_id" % 7 === 3, lit("?utm_campaign=z"))
            .otherwise(lit("")),
          when($"doc_id" % 6 === 0, lit("#Frag")).otherwise(lit("")))
          .as("url"))
    urls.select($"doc_id", $"url",
        graft.functions.Text.canonicalUrl($"url").as("canon"))
      .orderBy($"doc_id")
  }
  private[queries] lazy val q163Sql =
    """WITH p AS (
      | SELECT doc_id,
      |  CASE WHEN doc_id % 3 = 0 THEN 'https' ELSE 'http' END AS sch,
      |  'site' || (doc_id % 50) || '.com' AS host,
      |  CASE WHEN doc_id % 4 = 2 THEN ':8080' ELSE '' END AS port,
      |  '/Article/' || doc_id AS path,
      |  doc_id % 5 = 0 AS trail,
      |  CASE WHEN doc_id % 7 < 3 THEN 'a=1&b=2' ELSE '' END AS cq
      | FROM documents WHERE doc_id < 200),
      |u AS (
      | SELECT doc_id,
      |  (CASE WHEN doc_id % 3 = 0 THEN 'HTTPS' ELSE 'http' END)
      |  || '://'
      |  || (CASE WHEN doc_id % 2 = 0
      |      THEN 'WWW.Site' || (doc_id % 50) || '.COM'
      |      ELSE 'site' || (doc_id % 50) || '.com' END)
      |  || (CASE WHEN doc_id % 4 = 1 THEN
      |        CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE ':80' END
      |      WHEN doc_id % 4 = 2 THEN ':8080' ELSE '' END)
      |  || '/Article/' || doc_id
      |  || (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END)
      |  || (CASE WHEN doc_id % 7 < 3 THEN '?a=1&utm_source=x&b=2'
      |      WHEN doc_id % 7 = 3 THEN '?utm_campaign=z' ELSE '' END)
      |  || (CASE WHEN doc_id % 6 = 0 THEN '#Frag' ELSE '' END) AS url
      | FROM documents WHERE doc_id < 200)
      |SELECT p.doc_id, u.url,
      | p.sch || '://' || p.host || p.port || p.path
      | || (CASE WHEN p.trail AND p.cq <> '' THEN '/' ELSE '' END)
      | || (CASE WHEN p.cq <> '' THEN '?' || p.cq ELSE '' END) AS canon
      |FROM p JOIN u USING (doc_id)
      |ORDER BY p.doc_id""".stripMargin

  // ---------------------------------------------------------------- q167
  // BPE TRAINING under the oracle (TextAnalysis.bpeTrainFromText) —
  // the learning half of the tokenizer stack: q119 APPLIES a frozen
  // merge table, this one LEARNS one from the corpus (Sennrich et al.
  // 2016). The oracle unrolls all 8 training iterations as CTEs —
  // pair counts from the zipped symbol list, argmax with the same
  // (count DESC, lhs ASC, rhs ASC) tie-break, merge applied as the
  // same leftmost-non-overlapping marker replace — so DuckDB replays
  // the training ALGORITHM end to end, greedy choices and all; one
  // wrong pair count anywhere changes every later rank.
  private[queries] def q167(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    TextAnalysis.bpeTrainFromText(
        t(s, dir, "documents").filter($"doc_id" < 120), "text",
        numMerges = 8)
      .orderBy($"merge_rank")
  }
  private[queries] lazy val q167Sql = bpeTrainOracle(8, 0)

  /** Unrolled-training oracle for [[q167]]/[[q173]]: `total` greedy
    * iterations as CTEs; rows with `merge_rank >= minRank` returned —
    * the resume query's oracle IS the full training's tail, so
    * warm-start ≡ continued training is proven cross-engine.
    */
  private def bpeTrainOracle(total: Int, minRank: Int): String = {
    val iters = (1 to total).map { k =>
      s"""p$k AS (
         | SELECT u[1] AS a, u[2] AS b, CAST(SUM(f) AS BIGINT) AS cnt
         | FROM (
         |  SELECT f, unnest(list_zip(sy, sy[2:])) AS u FROM (
         |   SELECT f, string_split(trim(w, '<>'), '><') AS sy
         |   FROM w${k - 1}) t) z
         | WHERE u[2] IS NOT NULL GROUP BY 1, 2),
         |b$k AS (SELECT a, b, cnt FROM p$k
         | ORDER BY cnt DESC, a ASC, b ASC LIMIT 1),
         |w$k AS (SELECT replace(w, '<'||a||'><'||b||'>',
         |  '<'||a||b||'>') AS w, f FROM w${k - 1} CROSS JOIN b$k)"""
        .stripMargin
    }.mkString(",\n")
    val ranks = (1 to total).map { k =>
      s"SELECT CAST(${k - 1} AS BIGINT) AS merge_rank, a AS lhs, " +
        s"b AS rhs, cnt AS pair_count FROM b$k"
    }.mkString(" UNION ALL ")
    s"""WITH tok AS (
       | SELECT unnest(string_split(regexp_replace(lower(text),
       |  '[^a-z]+', ' ', 'g'), ' ')) AS w
       | FROM documents WHERE doc_id < 120),
       |w0 AS (
       | SELECT regexp_replace(w, '([a-z])', '<\\1>', 'g') AS w,
       |  CAST(COUNT(*) AS BIGINT) AS f
       | FROM tok WHERE len(w) >= 2 GROUP BY 1),
       |$iters
       |SELECT * FROM ($ranks) WHERE merge_rank >= $minRank
       |ORDER BY merge_rank""".stripMargin
  }

  // ---------------------------------------------------------------- q173
  // Warm-start BPE training under the oracle — q149's resume pattern
  // for the tokenizer: train 5 merges cold, load them, then RESUME
  // for 3 more instead of retraining 8 from scratch (on an unchanged
  // corpus the two must coincide — power-of-the-pattern: at 100 TB a
  // vocab extension after a corpus delta touches the word-frequency
  // aggregate once and pays only the NEW iterations). The oracle is
  // the full 8-iteration unrolled training FILTERED to ranks 5-7:
  // DuckDB trains straight through while the engine warm-starts, so
  // resume ≡ continued training is proven cross-engine, not
  // self-referentially.
  // ---------------------------------------------------------------- q179
  // Learned quality filter under a FITTED-model oracle (q76's
  // pattern) — the FineWeb-Edu-shaped curation step: distill the
  // heuristic teacher (qualityScore ≥ 0.5) into a linear scorer via
  // spark.ml logistic regression, then deploy the MARGIN as one
  // codegen'd scan-side expression. The oracle SQL is generated from
  // the fitted coefficients AFTER the query runs and replays feature
  // extraction + the left-associated dot product in exact IEEE
  // arithmetic (margins, not sigmoids — exp() is not
  // correctly-rounded-guaranteed across engines); the teacher column
  // rides along so the distillation agreement is visible.
  private[queries] lazy val q179Fitted =
    new Oracle.Fitted[QualityModel.LrModel](q179SqlFor)
  private[queries] def q179(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents")
    val model = q179Fitted(dir)(QualityModel.fit(docs, "text"))
    QualityModel.score(model, docs, "doc_id", "text")
      .join(docs.select($"doc_id",
        (TextAnalysis.qualityScore($"text") >= 0.5).as("teacher")),
        Seq("doc_id"))
      .orderBy($"doc_id")
  }
  private[queries] def q179SqlFor(m: QualityModel.LrModel): String = {
    val stopRe = s"\\b(${TextAnalysis.stopwords.mkString("|")})\\b"
    val z = QualityModel.marginSql(m, stopRe)
    s"""SELECT doc_id,
       | floor(($z) * 1000000.0 + 0.5) / 1000000.0 AS margin,
       | ($z) >= 0.0 AS kept,
       | (CASE WHEN toks > 0 THEN
       |   least(1.0, toks / 100.0) * 0.4
       |   + least(1.0, stop * 5.0 / toks) * 0.3
       |   + (dist / toks) * 0.3 ELSE 0.0 END) >= 0.5 AS teacher
       |FROM (
       | SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '\\S+')) AS DOUBLE)
       |   AS toks,
       |  CAST(len(regexp_extract_all(lower(text), '$stopRe'))
       |   AS DOUBLE) AS stop,
       |  CAST(len(list_distinct(regexp_extract_all(text, '\\S+')))
       |   AS DOUBLE) AS dist
       | FROM documents)
       |ORDER BY doc_id""".stripMargin
  }

  private[queries] def q173(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents").filter($"doc_id" < 120)
    val prior = TextAnalysis.bpeMergesFrom(
      TextAnalysis.bpeTrainFromText(docs, "text", numMerges = 5),
      "lhs", "rhs", "merge_rank")
    TextAnalysis.bpeTrainResumeFromText(docs, "text", prior,
        extraMerges = 3)
      .orderBy($"merge_rank")
  }
  private[queries] lazy val q173Sql = bpeTrainOracle(8, 5)

  // ---------------------------------------------------------------- q170
  // Registrable-domain (eTLD+1) extraction — the key under which
  // crawl pipelines aggregate per-site quotas, host-graph nodes and
  // politeness budgets. The fixture assembles hosts across every
  // algorithm branch (subdomained two-level suffix, plain .com, deep
  // subdomains, .com.vn, a dotless host, a bare public suffix) plus
  // a messy URL form (uppercase, userinfo, port) through the
  // host-extraction regex; the oracle states the EXPECTED domain per
  // branch closed-form — an independent answer key, q163's pattern.
  private[queries] def q170(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val T = graft.functions.Text
    val hosts = t(s, dir, "documents").filter($"doc_id" < 240)
      .select($"doc_id", ($"doc_id" % 6).as("v"),
        ($"doc_id" % 40).cast("string").as("k"))
      .select($"doc_id", $"v",
        when($"v" === 0, concat(lit("news.site"), $"k", lit(".co.uk")))
          .when($"v" === 1, concat(lit("site"), $"k", lit(".com")))
          .when($"v" === 2, concat(lit("a.b.site"), $"k", lit(".org")))
          .when($"v" === 3, concat(lit("site"), $"k", lit(".com.vn")))
          .when($"v" === 4, lit("localhost"))
          .otherwise(lit("co.uk")).as("host"))
    hosts.select($"doc_id", $"host",
        T.registrableDomain($"host").as("domain"),
        T.registrableDomainFromUrl(concat(lit("http://"),
          when($"v" % 2 === 0, lit("crawler@")).otherwise(lit("")),
          upper($"host"), lit(":8080/a/b?c=1#f"))).as("url_domain"))
      .orderBy($"doc_id")
  }
  private[queries] lazy val q170Sql =
    """WITH p AS (
      | SELECT doc_id, doc_id % 6 AS v, CAST(doc_id % 40 AS VARCHAR)
      |  AS k
      | FROM documents WHERE doc_id < 240),
      |h AS (
      | SELECT doc_id, v,
      |  CASE v WHEN 0 THEN 'news.site' || k || '.co.uk'
      |   WHEN 1 THEN 'site' || k || '.com'
      |   WHEN 2 THEN 'a.b.site' || k || '.org'
      |   WHEN 3 THEN 'site' || k || '.com.vn'
      |   WHEN 4 THEN 'localhost' ELSE 'co.uk' END AS host,
      |  CASE v WHEN 0 THEN 'site' || k || '.co.uk'
      |   WHEN 1 THEN 'site' || k || '.com'
      |   WHEN 2 THEN 'site' || k || '.org'
      |   WHEN 3 THEN 'site' || k || '.com.vn'
      |   WHEN 4 THEN 'localhost' ELSE 'co.uk' END AS expected
      | FROM p)
      |SELECT doc_id, host, expected AS domain, expected AS url_domain
      |FROM h ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q171
  // robots.txt admission (RFC 9309) under the oracle — parseRobots
  // builds the effective rule set for agent 'graftbot' from three
  // site shapes (an exact-agent group ahead of a deny-all '*'
  // fallback that must NOT apply; a shared two-token UA group with a
  // comment and an empty Disallow; a foreign-agent-only file = no
  // rules = all allowed), and isAllowed applies longest-match with
  // allow-wins-ties over wildcard and $-anchored patterns. The
  // oracle states the expected verdict per (site shape, path)
  // closed-form — an independent answer key; a precedence or
  // group-selection bug cannot hide behind a replayed parser.
  private[queries] def q171(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sites = t(s, dir, "documents").filter($"doc_id" < 10)
      .select($"doc_id".as("site_id"), ($"doc_id" % 3).as("sv"))
      .select($"site_id",
        when($"sv" === 0, lit(
          "User-agent: graftbot\nDisallow: /private*\n" +
            "Allow: /private/ok$\nUser-agent: *\nDisallow: /"))
          .when($"sv" === 1, lit(
            "User-agent: otherbot\nUser-agent: *\n" +
              "Disallow: /tmp/ # temp tree\nAllow: /tmp/public*\n" +
              "Disallow:"))
          .otherwise(lit("User-agent: otherbot\nDisallow: /"))
          .as("robots_txt"))
    val rules = Robots.parseRobots(sites, "site_id", "robots_txt",
      "graftbot")
    val urls = t(s, dir, "documents").filter($"doc_id" < 300)
      .select($"doc_id", ($"doc_id" % 10).as("site_id"),
        ($"doc_id" % 5).as("pv"))
      .select($"doc_id", $"site_id",
        when($"pv" === 0, lit("/index.html"))
          .when($"pv" === 1, lit("/private/data"))
          .when($"pv" === 2, lit("/private/ok"))
          .when($"pv" === 3, lit("/tmp/public/x"))
          .otherwise(lit("/tmp/secret")).as("path"))
    Robots.isAllowed(urls, rules, "site_id", "path")
      .select($"doc_id", $"site_id".cast("long").as("site_id"),
        $"path", $"allowed")
      .orderBy($"doc_id")
  }
  private[queries] lazy val q171Sql =
    """WITH p AS (
      | SELECT doc_id, doc_id % 10 AS site_id,
      |  (doc_id % 10) % 3 AS sv, doc_id % 5 AS pv
      | FROM documents WHERE doc_id < 300),
      |u AS (
      | SELECT doc_id, site_id, sv,
      |  CASE pv WHEN 0 THEN '/index.html'
      |   WHEN 1 THEN '/private/data' WHEN 2 THEN '/private/ok'
      |   WHEN 3 THEN '/tmp/public/x' ELSE '/tmp/secret' END AS path
      | FROM p)
      |SELECT doc_id, site_id, path,
      | CASE WHEN sv = 0 THEN path <> '/private/data'
      |  WHEN sv = 1 THEN path <> '/tmp/secret'
      |  ELSE true END AS allowed
      |FROM u ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q172
  // CRAWL-FRONTIER ADMISSION capstone — the full pre-fetch gate a
  // 100 TB crawl runs per URL batch, composing this round's pieces:
  // canonicalize (q163) → dedup on the canonical spelling (survivor =
  // smallest id) → registrable domain (q170) → robots admission
  // (q171) → per-domain quota (politeness budget, rank by id, keep
  // 3). The fixture spells each page up to 10 ways (www prefix,
  // explicit :80, utm params) across 8 domains × 5 paths; robots
  // deny path families per domain shape. The oracle replays the
  // whole funnel closed-form — canonical spellings, the dedup
  // window, the deny conditions, and the quota window — so a bug in
  // ANY stage shifts the surviving set.
  // ---------------------------------------------------------------- q183
  // Crawl-delay politeness scheduling (Robots.crawlDelays +
  // Robots.schedule) — the pacing leg of the robots stack: delays
  // come from the same RFC 9309 effective-group selection as the
  // path rules (an exact-agent group's delay, a '*' fallback that a
  // foreign agent's declaration must NOT shadow, and a no-delay site
  // paced at the default), and each site's URLs slot at
  // (rank-1)·delay seconds. The oracle replays group selection and
  // the slot arithmetic closed-form.
  private[queries] def q183(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sites = t(s, dir, "documents").filter($"doc_id" < 6)
      .select($"doc_id".as("site"))
      .select($"site".as("k"),
        when($"site" % 3 === 0, concat(
          lit("User-agent: graftbot\nCrawl-delay: "),
          ($"site" + 1).cast("string"), lit("\nDisallow: /x")))
          .when($"site" % 3 === 1, lit(
            "User-agent: *\nCrawl-delay: 2.5\n" +
              "User-agent: otherbot\nCrawl-delay: 9"))
          .otherwise(lit("User-agent: graftbot\nDisallow: /y"))
          .as("txt"))
    val delays = Robots.crawlDelays(sites, "k", "txt", "graftbot")
    val urls = t(s, dir, "documents").filter($"doc_id" < 240)
      .select($"doc_id", ($"doc_id" % 6).as("site"))
    Robots.schedule(urls, delays, "site", "doc_id",
        defaultDelay = 1.0)
      .select($"doc_id", $"site", $"delay_s",
        $"fetch_rank".cast("int").as("fetch_rank"), $"sched_s")
      .orderBy($"doc_id")
  }
  private[queries] lazy val q183Sql =
    """WITH u AS (
      | SELECT doc_id, doc_id % 6 AS site FROM documents
      | WHERE doc_id < 240),
      |d AS (
      | SELECT doc_id, site,
      |  CASE WHEN site % 3 = 0 THEN CAST(1 + site AS DOUBLE)
      |   WHEN site % 3 = 1 THEN 2.5 ELSE 1.0 END AS delay_s,
      |  row_number() OVER (PARTITION BY site ORDER BY doc_id)
      |   AS fetch_rank
      | FROM u)
      |SELECT doc_id, site, delay_s,
      | CAST(fetch_rank AS INT) AS fetch_rank,
      | (fetch_rank - 1) * delay_s AS sched_s
      |FROM d ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q185
  // Collocation mining (TextAnalysis.collocations) — PMI-lift phrase
  // discovery over the corpus: adjacent-bigram counts joined to
  // unigram counts, scored n_ab·N/(n_a·n_b) as a pure-IEEE ratio
  // (the PMI ordering without its log — transcendentals are not
  // cross-engine-exact), ordered by the ROUNDED lift with (a, b)
  // tie-breaks on both sides so the top-50 cut is deterministic.
  private[queries] def q185(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    TextAnalysis.collocations(t(s, dir, "documents"), "text",
        minPairCount = 5L)
      .orderBy($"lift".desc, $"a", $"b")
      .limit(50)
  }
  private[queries] lazy val q185Sql =
    """WITH w AS (
      | SELECT list_filter(string_split(regexp_replace(lower(text),
      |  '[^a-z]+', ' ', 'g'), ' '), x -> len(x) >= 1) AS ws
      | FROM documents),
      |un AS (
      | SELECT w, CAST(count(*) AS BIGINT) AS n FROM (
      |  SELECT unnest(ws) AS w FROM w) GROUP BY 1),
      |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM un),
      |pc AS (
      | SELECT a, b, CAST(count(*) AS BIGINT) AS n_ab FROM (
      |  SELECT z[1] AS a, z[2] AS b FROM (
      |   SELECT unnest(list_zip(ws, ws[2:])) AS z FROM w) t
      |  WHERE z[2] IS NOT NULL)
      | GROUP BY 1, 2 HAVING count(*) >= 5)
      |SELECT pc.a, pc.b, pc.n_ab, ua.n AS n_a, ub.n AS n_b,
      | floor((CAST(pc.n_ab AS DOUBLE) * (SELECT nn FROM tot))
      |   / (CAST(ua.n AS DOUBLE) * ub.n) * 1000000.0 + 0.5)
      |  / 1000000.0 AS lift
      |FROM pc
      |JOIN un ua ON ua.w = pc.a
      |JOIN un ub ON ub.w = pc.b
      |ORDER BY lift DESC, pc.a, pc.b LIMIT 50""".stripMargin

  // ---------------------------------------------------------------- q184
  // Sitemap discovery (Robots.sitemaps + Robots.sitemapSeeds +
  // Text.sitemapLocs/sitemapKind) — the crawl-frontier SEED path:
  // robots files declare group-independent `Sitemap:` lines (some
  // sites two, some none, one behind a comment, every third site a
  // `<sitemapindex>` that nests one level of child sitemaps — the
  // shape big sites actually publish), each fetched XML carries
  // id-derived <url><loc> entries with whitespace/case noise, and
  // the pipeline expands declared maps (and index children, one
  // level) into seed URLs. The oracle replays the
  // declaration-and-content construction closed-form.
  private[queries] def q184(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sites = t(s, dir, "documents").filter($"doc_id" < 12)
      .select($"doc_id".as("k"))
      .select($"k",
        when($"k" % 3 === 0, concat(
          lit("User-agent: *\nDisallow: /tmp\nSitemap: http://site"),
          $"k".cast("string"), lit(".com/sitemap.xml")))
          .when($"k" % 3 === 1, concat(
            lit("SITEMAP: http://site"), $"k".cast("string"),
            lit(".com/maps/a.xml # primary\nUser-agent: *\n"),
            lit("Allow: /\nSitemap: http://site"), $"k".cast("string"),
            lit(".com/maps/b.xml")))
          .otherwise(concat(
            lit("User-agent: *\nDisallow: /private\nSitemap: "),
            lit("http://site"), $"k".cast("string"),
            lit(".com/sitemap_index.xml")))
          .as("txt"))
    val declared = Robots.sitemaps(sites, "k", "txt")
    // the fetched-XML relation: direct urlsets (1 + site%3 locs),
    // sitemapindex docs listing two children, and the child urlsets
    // (1 + site%2 locs each)
    val ks = sites.select($"k")
    def host(k: Column) = concat(lit("http://site"),
      k.cast("string"), lit(".com"))
    val directPages = declared.filter(!$"sitemap_url"
        .endsWith("sitemap_index.xml"))
      .select($"sitemap_url".as("url"),
        concat(lit("<?xml version=\"1.0\"?>\n<urlset>\n"),
          array_join(transform(
            sequence(lit(0L), ($"site" % 3).cast("long")),
            j => concat(lit("  <url><LOC>"), lit("\n   "),
              host($"site"), lit("/d/"),
              j.cast("string"), lit(" \n  </LOC></url>"))), "\n"),
          lit("\n</urlset>")).as("xml"))
    val indexPages = ks.filter($"k" % 3 === 2)
      .select(concat(host($"k"), lit("/sitemap_index.xml")).as("url"),
        concat(lit("<?xml version=\"1.0\"?>\n<sitemapindex>\n"),
          array_join(transform(sequence(lit(0L), lit(1L)),
            c => concat(lit("  <sitemap><loc>"), host($"k"),
              lit("/maps/c"), c.cast("string"),
              lit(".xml</loc></sitemap>"))), "\n"),
          lit("\n</sitemapindex>")).as("xml"))
    // child c0 is a urlset; child c1 is ITSELF a <sitemapindex>
    // pointing at a grandchild urlset — the depth-2 leg
    val childPages = ks.filter($"k" % 3 === 2)
      .select(concat(host($"k"), lit("/maps/c0.xml")).as("url"),
        concat(lit("<?xml version=\"1.0\"?>\n<urlset>\n"),
          array_join(transform(
            sequence(lit(0L), ($"k" % 2).cast("long")),
            j => concat(lit("  <url><loc> "), host($"k"), lit("/e/0/"),
              j.cast("string"), lit(" </loc></url>"))), "\n"),
          lit("\n</urlset>")).as("xml"))
    val childIndexPages = ks.filter($"k" % 3 === 2)
      .select(concat(host($"k"), lit("/maps/c1.xml")).as("url"),
        concat(lit("<?xml version=\"1.0\"?>\n<sitemapindex>\n"),
          lit("  <sitemap><loc>"), host($"k"),
          lit("/maps/g.xml</loc></sitemap>"),
          lit("\n</sitemapindex>")).as("xml"))
    val grandPages = ks.filter($"k" % 3 === 2)
      .select(concat(host($"k"), lit("/maps/g.xml")).as("url"),
        concat(lit("<?xml version=\"1.0\"?>\n<urlset>\n"),
          array_join(transform(
            sequence(lit(0L), ($"k" % 2).cast("long")),
            j => concat(lit("  <url><loc> "), host($"k"), lit("/f/"),
              j.cast("string"), lit(" </loc></url>"))), "\n"),
          lit("\n</urlset>")).as("xml"))
    val pages = directPages.unionByName(indexPages)
      .unionByName(childPages).unionByName(childIndexPages)
      .unionByName(grandPages)
    Robots.sitemapSeeds(declared, pages, maxIndexDepth = 2)
      .orderBy($"site", $"sitemap_url", $"loc")
  }
  private[queries] lazy val q184Sql =
    """WITH p AS (
      | SELECT doc_id AS k FROM documents WHERE doc_id < 12),
      |decl AS (
      | SELECT k AS site,
      |  'http://site' || k || '.com/sitemap.xml' AS sitemap_url
      | FROM p WHERE k % 3 = 0
      | UNION ALL
      | SELECT k, 'http://site' || k || '.com/maps/a.xml'
      | FROM p WHERE k % 3 = 1
      | UNION ALL
      | SELECT k, 'http://site' || k || '.com/maps/b.xml'
      | FROM p WHERE k % 3 = 1),
      |locs AS (
      | SELECT site, sitemap_url,
      |  'http://site' || site || '.com/d/' || j AS loc
      | FROM decl, unnest(generate_series(0, site % 3)) t(j)),
      |child_locs AS (
      | SELECT k AS site,
      |  'http://site' || k || '.com/maps/c0.xml' AS sitemap_url,
      |  'http://site' || k || '.com/e/0/' || j AS loc
      | FROM p, unnest(generate_series(0, k % 2)) w(j)
      | WHERE k % 3 = 2),
      |grand_locs AS (
      | SELECT k AS site,
      |  'http://site' || k || '.com/maps/g.xml' AS sitemap_url,
      |  'http://site' || k || '.com/f/' || j AS loc
      | FROM p, unnest(generate_series(0, k % 2)) w(j)
      | WHERE k % 3 = 2)
      |SELECT site, sitemap_url, loc FROM locs
      |UNION ALL
      |SELECT site, sitemap_url, loc FROM child_locs
      |UNION ALL
      |SELECT site, sitemap_url, loc FROM grand_locs
      |ORDER BY site, sitemap_url, loc""".stripMargin

  /** The frontier fixture (shared by q172 and its streaming twin
    * q180): (doc_id, url) with up to 10 messy spellings per page
    * across 8 domains × 5 paths.
    */
  private[queries] def frontierRaw(s: SparkSession,
                                   dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents").filter($"doc_id" < 400)
      .select($"doc_id", ($"doc_id" % 8).as("k"),
        ($"doc_id" % 40).cast("string").as("m"))
      .withColumn("sfx",
        when($"k" % 3 === 0, lit(".com"))
          .when($"k" % 3 === 1, lit(".co.uk"))
          .otherwise(lit(".com.vn")))
      .select($"doc_id",
        concat(lit("http://"),
          when($"doc_id" % 3 === 0, lit("www.")).otherwise(lit("")),
          lit("site"), $"k".cast("string"), $"sfx",
          when($"doc_id" % 7 === 0, lit(":80")).otherwise(lit("")),
          lit("/p/"), $"m",
          when($"doc_id" % 5 === 0, lit("?utm_source=x"))
            .otherwise(lit(""))).as("url"))
  }

  /** The 8 frontier domains' robots files (q171's three shapes). */
  private[queries] def frontierSites(s: SparkSession,
                                     dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents").filter($"doc_id" < 8)
      .select($"doc_id".as("k"))
      .select(concat(lit("site"), $"k".cast("string"),
          when($"k" % 3 === 0, lit(".com"))
            .when($"k" % 3 === 1, lit(".co.uk"))
            .otherwise(lit(".com.vn"))).as("domain"),
        when($"k" % 3 === 0,
          lit("User-agent: graftbot\nDisallow: /p/1*"))
          .when($"k" % 3 === 1,
            lit("User-agent: *\nDisallow: /p/2*"))
          .otherwise(lit("User-agent: otherbot\nDisallow: /"))
          .as("txt"))
  }

  private[queries] def q172(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val T = graft.functions.Text
    val canon = frontierRaw(s, dir)
      .select($"doc_id", T.canonicalUrl($"url").as("canon"))
    val surv = canon
      .withColumn("rn", row_number().over(Window.partitionBy($"canon")
        .orderBy($"doc_id")))
      .filter($"rn" === 1).drop("rn")
      .withColumn("domain", T.registrableDomainFromUrl($"canon"))
      .withColumn("path",
        regexp_extract($"canon", "^[a-z]+://[^/]+(/.*)$", 1))
    val rules = Robots.parseRobots(frontierSites(s, dir), "domain",
      "txt", "graftbot")
    val admitted = Robots.isAllowed(surv, rules, "domain", "path")
      .filter($"allowed")
    admitted
      .withColumn("rank", row_number().over(
        Window.partitionBy($"domain").orderBy($"doc_id")))
      .filter($"rank" <= 3)
      .select($"doc_id", $"domain", $"canon",
        $"rank".cast("int").as("rank"))
      .orderBy($"doc_id")
  }
  private[queries] lazy val q172Sql =
    """WITH b AS (
      | SELECT doc_id, doc_id % 8 AS k,
      |  CAST(doc_id % 40 AS VARCHAR) AS m
      | FROM documents WHERE doc_id < 400),
      |c AS (
      | SELECT doc_id, k, m,
      |  'site' || k || CASE k % 3 WHEN 0 THEN '.com'
      |   WHEN 1 THEN '.co.uk' ELSE '.com.vn' END AS domain,
      |  'http://site' || k || CASE k % 3 WHEN 0 THEN '.com'
      |   WHEN 1 THEN '.co.uk' ELSE '.com.vn' END || '/p/' || m
      |   AS canon
      | FROM b),
      |s AS (
      | SELECT * FROM (
      |  SELECT *, row_number() OVER (PARTITION BY canon
      |   ORDER BY doc_id) AS rn FROM c) WHERE rn = 1),
      |a AS (
      | SELECT * FROM s
      | WHERE NOT (k % 3 = 0 AND m LIKE '1%')
      |  AND NOT (k % 3 = 1 AND m LIKE '2%')),
      |q AS (
      | SELECT doc_id, domain, canon, row_number() OVER (
      |  PARTITION BY domain ORDER BY doc_id) AS rank
      | FROM a)
      |SELECT doc_id, domain, canon, CAST(rank AS INT) AS rank
      |FROM q WHERE rank <= 3 ORDER BY doc_id""".stripMargin
}
