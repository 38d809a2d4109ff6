package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar text kernels re-expressing the reference's string functions
  * (SURVEY.md §2.8) as pure Catalyst column expressions — codegen'd
  * built-ins only, no UDFs on the hot path.
  *
  * Reference semantics: extract_utils.py:63-82 (slugify, alias),
  * text_cleaner.py:8-35 (clean_text), clean_summary.py:3-23,
  * raw_articles.py:99 (double unescape), embedded_articles.py:193-194
  * (md5 → UUID point id).
  */
object Text {

  /** Vietnamese diacritic fold table. One (base, variants) pair per base
    * letter; NFC single-codepoint forms, mirroring the reference's table
    * (extract_utils.py:63-78). Exposed so oracle SQL can be generated
    * from the exact same constants.
    */
  val diacritics: Seq[(Char, String)] = Seq(
    'a' -> "áàảãạăắằẳẵặâấầẩẫậ",
    'e' -> "éèẻẽẹêếềểễệ",
    'i' -> "íìỉĩị",
    'o' -> "óòỏõọôốồổỗộơớờởỡợ",
    'u' -> "úùủũụưứừửữự",
    'y' -> "ýỳỷỹỵ",
    'd' -> "đ"
  )

  /** All diacritic source chars concatenated (lowercase NFC). */
  val diacriticFrom: String = diacritics.map(_._2).mkString
  /** Parallel string of fold targets, same length as [[diacriticFrom]]. */
  val diacriticTo: String =
    diacritics.map { case (b, vs) => b.toString * vs.length }.mkString

  /** slugify: lowercase, fold Vietnamese diacritics, drop all whitespace.
    * "Tuổi Trẻ" → "tuoitre". Single pass of codegen'd built-ins.
    */
  def slugify(c: Column): Column =
    regexp_replace(translate(lower(c), diacriticFrom, diacriticTo), "\\s+", "")

  /** Unicode NFC canonical composition (native codegen'd kernel —
    * [[graft.expressions.NfcNormalize]]): canonicalize composed vs
    * decomposed forms before any hash/shingle/token operator.
    */
  def nfc(c: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.expressions.NfcNormalize(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(c)))

  /** alias_from_topic: first letter of each word, lowercased.
    * "Thể thao" → "tt".
    */
  def aliasFromTopic(c: Column): Column =
    lower(concat_ws("", transform(
      array_remove(split(c, "\\s+"), ""),
      w => substring(w, 1, 1))))

  /** Minimal HTML entity map (the entities RSS titles actually carry).
    * `&amp;` is deliberately LAST: decoding it earlier in a pass would
    * let the same pass decode the entity it just exposed (turning
    * `&amp;lt;` into `<` in one pass), which html.unescape does not do.
    */
  val htmlEntities: Seq[(String, String)] = Seq(
    "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
    "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&"
  )

  private def unescapeOnce(c: Column): Column =
    htmlEntities.foldLeft(c) { case (col, (ent, ch)) =>
      regexp_replace(col, java.util.regex.Pattern.quote(ent), ch)
    }

  /** Double HTML unescape — two full passes, handling `&amp;amp;`
    * (reference applies html.unescape twice, raw_articles.py:99).
    */
  def htmlUnescapeTwice(c: Column): Column = unescapeOnce(unescapeOnce(c))

  /** clean_text (text_cleaner.py:8-35): drop "Ảnh: …" photo credits,
    * strip chars outside Unicode [\w\s.!?], collapse whitespace, collapse
    * dot runs, order-preserving sentence dedup, re-join with ". " and a
    * trailing ". ".
    */
  def cleanText(c: Column): Column = {
    val noCredit = regexp_replace(c, "(?U)Ảnh:\\s*[^.!?]*[.!?]?", "")
    val kept     = regexp_replace(noCredit, "(?U)[^\\w\\s.!?]", "")
    val ws       = regexp_replace(kept, "(?U)\\s+", " ")
    val dots     = regexp_replace(ws, "\\.{2,}", ".")
    // split on sentence ends, trim, drop empties, first-occurrence dedup
    val sentences = filter(
      transform(split(dots, "\\.\\s*"), s => trim(s)),
      s => length(s) > 0)
    val deduped = array_distinct(sentences)
    when(size(deduped) > 0, concat(array_join(deduped, ". "), lit(". ")))
      .otherwise(lit(""))
  }

  /** clean_summary (clean_summary.py:3-23): drop boilerplate intro lines,
    * strip leading bullet glyphs, collapse blank lines, trim.
    */
  def cleanSummary(c: Column): Column = {
    val noIntro  = regexp_replace(c,
      "(?im)^.*(here are|dưới đây là|sau đây là).*$\\n?", "")
    val noBullet = regexp_replace(noIntro, "(?m)^[\\s]*[•\\-*–—]+[\\s]*", "")
    val noBlank  = regexp_replace(noBullet, "\\n{2,}", "\n")
    trim(noBlank)
  }

  /** Summary text → bullet array: split lines, trim, drop empties
    * (summarize_utils.py:78). Written without HOFs: a HOF runs
    * interpreted, and so does its argument, which then escapes
    * codegen's subexpression elimination.
    */
  def summaryBullets(c: Column): Column =
    array_remove(split(trim(regexp_replace(c, " *\n *", "\n")), "\n"), "")

  /** P5: non-blank after trimming (article.py:75-80 alias constraint). */
  def nonBlank(c: Column): Column = length(trim(c)) >= 1

  /** F10: truncate fallback — the primary value when present, else the
    * first `n` chars of the fallback (summarize_utils.py:70 `content[:500]`,
    * validation_utils.py:124 `text[:100]`).
    */
  def truncateFallback(primary: Column, fallback: Column, n: Int): Column =
    coalesce(primary, substring(fallback, 1, n))

  /** Deterministic point id: md5(url) reformatted as a UUID string
    * (embedded_articles.py:193-194). Pure built-ins.
    */
  def md5Uuid(c: Column): Column = {
    val h = md5(c)
    concat_ws("-",
      substring(h, 1, 8), substring(h, 9, 4), substring(h, 13, 4),
      substring(h, 17, 4), substring(h, 21, 12))
  }

  /** Lenient RSS date parse: RFC-822 variants then ISO-8601
    * (raw_articles.py:113-114 `dateutil.parse`). Spark's post-3.0
    * parser rejects day-of-week fields on parse, so the RFC-822 leading
    * "EEE, " is stripped rather than pattern-matched.
    */
  def parseDateLenient(c: Column): Column = {
    val noDow = regexp_replace(c, "^[A-Za-z]{3}, ", "")
    coalesce(
      try_to_timestamp(noDow, lit("dd MMM yyyy HH:mm:ss Z")),
      try_to_timestamp(noDow, lit("dd MMM yyyy HH:mm:ss zzz")),
      try_to_timestamp(c, lit("yyyy-MM-dd'T'HH:mm:ssXXX")),
      try_to_timestamp(c, lit("yyyy-MM-dd'T'HH:mm:ss")),
      try_to_timestamp(c, lit("yyyy-MM-dd HH:mm:ss")),
      try_to_timestamp(c, lit("yyyy-MM-dd")))
  }

  /** First `<img src="...">` URL inside an HTML snippet
    * (extract_utils.py:50-59).
    */
  def firstImgSrc(c: Column): Column =
    regexp_extract(c, "<img[^>]*src=\"([^\"]+)\"", 1)

  /** Tags whose entire content is chrome, not article text — stripped
    * with their bodies (extract_utils.py:21-45). One pass per tag (no
    * backreferences) so the oracle's RE2 engine can express the exact
    * same chain.
    */
  val chromeTags: Seq[String] =
    Seq("script", "style", "iframe", "nav", "header", "footer")

  /** S3 offline stand-in: main-text extraction from stored HTML — drop
    * chrome tags with their content, strip remaining markup, collapse
    * whitespace (the reference GETs the URL then does the same strip;
    * the HTTP fetch is a source concern, not an operator).
    */
  def htmlMainText(c: Column): Column = {
    val noChrome = chromeTags.foldLeft(c)((e, tag) =>
      regexp_replace(e, s"(?is)<$tag[^>]*>.*?</$tag>", " "))
    val noTags = regexp_replace(noChrome, "<[^>]+>", " ")
    trim(regexp_replace(noTags, "\\s+", " "))
  }

  /** URL canonicalization — the key under which crawl URL-dedup
    * equates pages (the P2 anti-join and exact-dedup families assume
    * one spelling per page; real crawls carry dozens). Deterministic
    * rule set, applied in order:
    *  1. fragment stripped (`#...` never reaches the server);
    *  2. scheme+authority lowercased (case-insensitive per RFC 3986);
    *     PATH CASE IS PRESERVED (it is significant);
    *  3. a leading `www.` dropped from the host;
    *  4. default ports stripped scheme-aware (`:80` for http, `:443`
    *     for https — an https host on :80 keeps its port);
    *  5. tracking parameters removed (`utm_*`, `gclid`, `fbclid`),
    *     remaining parameter ORDER preserved (sorting would conflate
    *     semantically ordered params); an emptied query drops its `?`;
    *  6. trailing slashes dropped — only when no query survives (a
    *     trailing slash before `?` is part of the served path).
    */
  def canonicalUrl(u: Column): Column = {
    val noFrag = regexp_replace(u, "#.*$", "")
    val auth = regexp_extract(noFrag,
      "^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)", 1)
    val rest = noFrag.substr(length(auth) + 1, length(noFrag))
    val a = regexp_replace(
      regexp_replace(
        regexp_replace(lower(auth), "^(https?://)www\\.", "$1"),
        "^(http://[^/:]+):80$", "$1"),
      "^(https://[^/:]+):443$", "$1")
    val qpos = instr(rest, "?")
    val path = when(qpos > 0, rest.substr(lit(1), qpos - 1))
      .otherwise(rest)
    val query = when(qpos > 0, rest.substr(qpos + 1, length(rest)))
      .otherwise(lit(""))
    val params = filter(split(query, "&"), p =>
      !(p.rlike("^(utm_[^=]*|gclid|fbclid)=") || p === lit("")))
    val fq = array_join(params, "&")
    val pathClean = when(fq === "", regexp_replace(path, "/+$", ""))
      .otherwise(path)
    concat(a, pathClean,
      when(fq === "", lit("")).otherwise(concat(lit("?"), fq)))
  }

  /** Built-in public-suffix subset for [[registrableDomain]] — the
    * high-traffic generic and country suffixes plus the common
    * second-level country registrations (the full Mozilla PSL is 9k+
    * rules; real deployments load it via [[suffixesFrom]]). Kept tiny,
    * public, and sorted so the DuckDB oracle mirrors it exactly.
    */
  val publicSuffixes2: Seq[String] = Seq(
    "ac.in", "ac.uk", "co.in", "co.jp", "co.kr", "co.nz", "co.uk",
    "com.ar", "com.au", "com.br", "com.cn", "com.hk", "com.mx",
    "com.sg", "com.tr", "com.vn", "edu.vn", "gov.uk", "gov.vn",
    "ne.jp", "net.au", "or.jp", "or.kr", "org.au", "org.nz", "org.uk")

  /** Load a public-suffix list from a table column (the Mozilla PSL's
    * two-level rules) — the [[graft.operators.TextAnalysis.viLexiconFrom]]
    * bounded-collect contract: driver-collected, capped, shipped as
    * literals; an over-cap source throws rather than truncating.
    */
  def suffixesFrom(suffixes: org.apache.spark.sql.DataFrame,
                   entryCol: String, maxEntries: Int = 20000): Seq[String] = {
    val rows = suffixes.select(col(entryCol).cast("string").as("s"))
      .na.drop().distinct().limit(maxEntries + 1).collect()
    require(rows.length <= maxEntries,
      s"suffixesFrom: source exceeds the $maxEntries-entry cap; raise " +
        "maxEntries explicitly (the list ships to executors as literals)")
    rows.map(_.getString(0)).toSeq
  }

  /** Registrable domain (eTLD+1) of a lowercase hostname — the key
    * under which crawl pipelines aggregate per-site quotas, host-graph
    * nodes, and politeness budgets (grouping by raw host splits
    * `news.example.co.uk` from `example.co.uk`; grouping by TLD merges
    * the whole registry). Algorithm, replayed verbatim by the oracle:
    * if the last TWO labels form a listed second-level public suffix,
    * the registrable domain is the last THREE labels; otherwise it is
    * the last TWO (every single-label TLD is treated as a public
    * suffix — the PSL's implicit `*` rule). Hosts with no dot (or
    * exactly a listed suffix) return themselves: there is no
    * registrable domain below them.
    */
  def registrableDomain(host: Column,
                        suffixes2: Seq[String] = publicSuffixes2): Column = {
    val labels = split(host, "\\.")
    val n = size(labels)
    val last2 = concat_ws(".",
      element_at(labels, -2), element_at(labels, -1))
    val is2 = last2.isin(suffixes2: _*)
    when(n <= 1, host)
      .when(is2 && n >= 3, concat_ws(".",
        element_at(labels, -3), element_at(labels, -2),
        element_at(labels, -1)))
      .when(is2, host)
      .otherwise(last2)
  }

  /** All anchor-link targets in an HTML document — the raw material
    * of the host link graph ([[graft.operators.Graph.pageRank]]'s
    * edge source at crawl scale). Case-insensitive `<a ... href="…">`
    * scan; the capture stops at the closing quote or a `#` (fragments
    * never reach the server, [[canonicalUrl]] rule 1).
    */
  def hrefUrls(c: Column): Column =
    regexp_extract_all(c,
      lit("(?i)<a\\s[^>]*?href=[\"']([^\"'#>]+)"), lit(1))

  /** All `<loc>` targets in a sitemap XML document — the other half
    * of crawl discovery next to [[hrefUrls]] (robots `Sitemap:` lines
    * name the file, this reads it). Whitespace inside the element is
    * trimmed by the capture; entity-escaped URLs pass through
    * [[htmlUnescapeTwice]] upstream when needed.
    */
  def sitemapLocs(xml: Column): Column =
    regexp_extract_all(xml,
      lit("(?is)<loc>\\s*(.+?)\\s*</loc>"), lit(1))

  /** Root element kind of a sitemap document: 'urlset' (leaf — its
    * `<loc>`s are page URLs), 'sitemapindex' (its `<loc>`s are CHILD
    * sitemap URLs needing another fetch+parse), else 'unknown'. The
    * sitemaps protocol nests exactly this one level.
    */
  def sitemapKind(xml: Column): Column =
    when(xml.rlike("(?is)<\\s*sitemapindex[\\s>]"), lit("sitemapindex"))
      .when(xml.rlike("(?is)<\\s*urlset[\\s>]"), lit("urlset"))
      .otherwise(lit("unknown"))

  /** [[registrableDomain]] straight from a URL: extract the lowercase
    * host (authority minus port/userinfo) then reduce to eTLD+1.
    */
  def registrableDomainFromUrl(u: Column,
                               suffixes2: Seq[String] = publicSuffixes2)
      : Column =
    registrableDomain(
      lower(regexp_extract(u,
        "^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]*)", 1)),
      suffixes2)
}
