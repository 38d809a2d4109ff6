package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{ColumnPlugins, Text, Vectors}
import graft.operators._

/** Training-data curation: sampling, packing, quotas, PII, sketches. */
private[queries] trait QueriesCuration { this: Queries.type =>

  // ---------------------------------------------------------------- q64
  // Gopher-style repetition gate (arXiv:2112.11446 §A.1.1 shape):
  // duplicate-word fraction + top-bigram fraction per doc, keep flag
  // from the ROUNDED metrics so engine ulps cannot flip the gate
  private[queries] def q64(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Curation.repetitionMetrics(t(s, dir, "documents"), "doc_id", "text")
      .withColumn("keep",
        $"dup_word_frac" <= 0.6 && $"top_bigram_frac" <= 0.05)
      .orderBy($"doc_id")
  }
  private[queries] lazy val q64Sql =
    """WITH d AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS w
      | FROM documents),
      |ws AS (SELECT doc_id, len(w) AS n_words,
      | len(list_distinct(w)) AS n_distinct FROM d),
      |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(w)),
      | i -> w[i] || ' ' || w[i+1])) AS b FROM d),
      |bc AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2),
      |bs AS (SELECT doc_id, max(c) AS top_c, sum(c) AS n_bg
      | FROM bc GROUP BY 1),
      |m AS (SELECT ws.doc_id, CAST(n_words AS BIGINT) AS n_words,
      | floor((1.0 - n_distinct * 1.0 / n_words) * 10000.0 + 0.5)
      |   / 10000.0 AS dup_word_frac,
      | coalesce(floor(top_c * 1.0 / n_bg * 10000.0 + 0.5) / 10000.0, 0.0)
      |   AS top_bigram_frac
      | FROM ws LEFT JOIN bs ON ws.doc_id = bs.doc_id)
      |SELECT doc_id, n_words, dup_word_frac, top_bigram_frac,
      | (dup_word_frac <= 0.6 AND top_bigram_frac <= 0.05) AS keep
      |FROM m ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q65
  // Deterministic content-hash train/val/test split — reproducible
  // across runs/engines/partitionings, duplicate texts co-assigned
  private[queries] def q65(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents")
      .select(Curation.hashSplit($"text").as("split"), $"doc_id", $"n_chars")
      .groupBy($"split")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"),
        min($"doc_id").as("first_doc"), max($"doc_id").as("last_doc"))
      .orderBy($"split")
  }
  private[queries] lazy val q65Sql =
    """WITH s AS (SELECT
      |  CASE WHEN text IS NULL THEN NULL
      |       WHEN substr(md5(text), 1, 1) < 'c' THEN 'train'
      |       WHEN substr(md5(text), 1, 1) < 'e' THEN 'val'
      |       ELSE 'test' END AS split, doc_id, n_chars
      | FROM documents)
      |SELECT split, count(*) AS n_docs,
      | CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      | min(doc_id) AS first_doc, max(doc_id) AS last_doc
      |FROM s GROUP BY split ORDER BY split""".stripMargin

  // ---------------------------------------------------------------- q66
  // Context-window packing: per-lang running token sums bucket docs
  // into ~2048-token packs (start-offset semantics; exact integer
  // arithmetic, so assignment is engine-reproducible)
  private[queries] def q66(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents").select($"doc_id", $"lang",
      TextAnalysis.wsTokenCount($"text").cast("long").as("tokens"))
    Curation.packByBudget(docs, "lang", "doc_id", "tokens", 2048L)
      .groupBy($"lang", $"pack_id")
      .agg(count(lit(1)).as("n_docs"), sum($"tokens").as("tokens_total"))
      .orderBy($"lang", $"pack_id")
  }
  private[queries] lazy val q66Sql =
    """WITH d AS (SELECT doc_id, lang,
      | len(regexp_extract_all(text, '\S+')) AS tokens FROM documents),
      |p AS (SELECT lang, tokens,
      | CAST(coalesce(sum(tokens) OVER (PARTITION BY lang
      |   ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |   0) // 2048 AS BIGINT) AS pack_id
      | FROM d)
      |SELECT lang, pack_id, count(*) AS n_docs,
      | CAST(sum(tokens) AS BIGINT) AS tokens_total
      |FROM p GROUP BY 1, 2 ORDER BY lang, pack_id""".stripMargin

  // ---------------------------------------------------------------- q67
  // Mixture quotas / per-domain caps: keep the top-`quota` docs per
  // source by length (tie-broken by id — fully deterministic)
  private[queries] def q67(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val quota = when($"source" === "src0", 40)
      .when($"source" === "src1", 30)
      .when($"source" === "src2", 20).otherwise(10)
    Curation.quotaCap(t(s, dir, "documents"), "source", quota,
        $"n_chars".desc, $"doc_id".asc)
      .select($"source", $"rn", $"doc_id", $"n_chars")
      .orderBy($"source", $"rn")
  }
  private[queries] lazy val q67Sql =
    """WITH r AS (SELECT source, doc_id, n_chars,
      | row_number() OVER (PARTITION BY source
      |   ORDER BY n_chars DESC, doc_id) AS rn
      | FROM documents),
      |q AS (SELECT *, CASE source WHEN 'src0' THEN 40 WHEN 'src1' THEN 30
      |  WHEN 'src2' THEN 20 ELSE 10 END AS quota FROM r)
      |SELECT source, CAST(rn AS BIGINT) AS rn, doc_id, n_chars
      |FROM q WHERE rn <= quota ORDER BY source, rn""".stripMargin

  // ---------------------------------------------------------------- q68
  // PII scrub: count + redact emails/IPv4s/phone runs with patterns
  // chosen for identical Java-regex/RE2 semantics (Curation.piiPatterns
  // is the single source for both engines)
  private[queries] lazy val piiFixtures: Seq[String] = Seq(
    "Contact support@example.com or sales-team@corp.io for details",
    "Gateway 192.168.0.1 and backup 10.0.0.255 are reachable",
    "Call +84 123 456 789 or 0123 456 789 to register",
    "Mixed case: Admin@Test.org from 8.8.8.8 dials 555-123-4567 today",
    "No personal data in this line at all")
  private[queries] def q68(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    piiFixtures.toDF("line").select($"line",
      Curation.piiCount($"line", "email").cast("long").as("n_email"),
      Curation.piiCount($"line", "ip").cast("long").as("n_ip"),
      Curation.piiCount($"line", "phone").cast("long").as("n_phone"),
      Curation.scrubPii($"line").as("redacted"))
      .orderBy($"line")
  }
  private[queries] def q68Sql: String = {
    val pats = Curation.piiPatterns.toMap
    val values = piiFixtures.map(l => s"('$l')").mkString(", ")
    val redacted = Curation.piiPatterns.foldLeft("line") {
      case (e, (kind, pat)) =>
        s"regexp_replace($e, '$pat', '[${kind.toUpperCase}]', 'g')"
    }
    s"""WITH f AS (SELECT * FROM (VALUES $values) t(line))
       |SELECT line,
       | CAST(len(regexp_extract_all(line, '${pats("email")}')) AS BIGINT)
       |   AS n_email,
       | CAST(len(regexp_extract_all(line, '${pats("ip")}')) AS BIGINT)
       |   AS n_ip,
       | CAST(len(regexp_extract_all(line, '${pats("phone")}')) AS BIGINT)
       |   AS n_phone,
       | $redacted AS redacted
       |FROM f ORDER BY line""".stripMargin
  }

  // ---------------------------------------------------------------- q81
  // Deterministic stratified mixture sampling: per-lang keep fractions
  // decided by md5(seed ‖ doc_id) — reproducible across engines, so
  // the oracle mirrors the draw bit-for-bit (zh absent from the map →
  // dropped entirely)
  private[queries] def q81(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val fractions = Map("en" -> 0.5, "de" -> 0.25, "fr" -> 0.125,
      "es" -> 1.0)
    Curation.stratifiedSample(t(s, dir, "documents"), "lang", "doc_id",
        fractions, seed = "mix7")
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"),
        min($"doc_id").as("first_doc"))
      .orderBy($"lang")
  }
  private[queries] lazy val q81Sql = {
    val cuts = Seq("en" -> 0.5, "de" -> 0.25, "fr" -> 0.125, "es" -> 1.0)
      .map { case (l, f) =>
        s"WHEN lang = '$l' THEN u < ${math.round(f * 4294967296.0)}" }
      .mkString(" ")
    s"""WITH d AS (SELECT lang, doc_id, n_chars,
       | ('0x' || substr(md5('mix7:' || doc_id), 1, 8))::BIGINT AS u
       | FROM documents),
       |k AS (SELECT lang, doc_id, n_chars FROM d
       | WHERE CASE $cuts ELSE FALSE END)
       |SELECT lang, count(*) AS n_docs,
       | CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       | min(doc_id) AS first_doc
       |FROM k GROUP BY lang ORDER BY lang""".stripMargin
  }

  // ---------------------------------------------------------------- q82
  // Mergeable HLL sketch distinct counting: build per (event_type, day)
  // sketches once, roll up per event_type from sketch bytes — the
  // no-rescan distinct-count pattern. Oracle contract: the estimate
  // itself is engine-specific (DataSketches register layout), so the
  // query emits (n_exact, within_bound) where within_bound checks the
  // estimate against HLL's published 3σ relative error
  // (3·1.04/√2^lgK ≈ 4.9% at lgK=12); DuckDB mirrors the exact counts
  // and asserts the bound holds — the booleans hash-match while the
  // estimates differ. Slice-merge ≡ whole-scan stays spec-pinned in
  // SketchesSpec.
  private[queries] def q82(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = t(s, dir, "events")
      .select($"event_type", $"user_id", to_date($"ts").as("day"))
    val daily = Sketches.sketchTable(ev,
      Seq("event_type", "day"), "user_id")
    val est = Sketches.mergeEstimate(daily, Seq("event_type"))
    val exact = ev.groupBy($"event_type")
      .agg(countDistinct($"user_id").as("n_exact"))
    est.join(exact, "event_type")
      .select($"event_type", $"n_exact",
        (abs($"distinct_est" - $"n_exact") <=
          lit(3.0 * 1.04 / math.sqrt(4096.0)) * $"n_exact")
          .as("within_bound"))
      .orderBy($"event_type")
  }
  private[queries] lazy val q82Sql =
    """SELECT event_type, count(DISTINCT user_id) AS n_exact,
      | true AS within_bound
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q83
  // Deterministic weighted sampling (Efraimidis–Spirakis): 5 docs per
  // lang, weight = n_chars, seeded md5 uniforms — both engines rank
  // the same rounded u^(1/w) scores
  private[queries] def q83(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Curation.weightedSample(t(s, dir, "documents")
        .select($"doc_id", $"lang", $"n_chars"),
        "lang", "doc_id", "n_chars", n = 5, seed = "ws9")
      .select($"lang", $"rank", $"doc_id", $"n_chars")
      .orderBy($"lang", $"rank")
  }
  private[queries] lazy val q83Sql =
    """WITH d AS (SELECT doc_id, lang, n_chars,
      | (('0x' || substr(md5('ws9:' || doc_id), 1, 8))::BIGINT + 0.5)
      |   / 4294967296.0 AS u
      | FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),
      |sc AS (SELECT doc_id, lang, n_chars,
      | floor(pow(u, 1.0 / n_chars) * 1e12 + 0.5) / 1e12 AS es
      | FROM d),
      |r AS (SELECT lang, doc_id, n_chars,
      | row_number() OVER (PARTITION BY lang ORDER BY es DESC, doc_id)
      |   AS rank
      | FROM sc)
      |SELECT lang, CAST(rank AS BIGINT) AS rank, doc_id, n_chars
      |FROM r WHERE rank <= 5 ORDER BY lang, rank""".stripMargin

  // ---------------------------------------------------------------- q87
  // Benchmark decontamination: corpus docs sharing ≥ 5 word 3-shingles
  // with the "eval set" (docs 100-119, a subset of the corpus — so
  // those 20 self-contaminate by construction) are dropped; survivors
  // oracled value-for-value
  private[queries] def q87(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents")
    val corpus = docs.filter($"doc_id" < 300)
      .select($"doc_id", $"text", $"n_chars")
    val eval = docs.filter($"doc_id" >= 100 && $"doc_id" < 120)
      .select($"text")
    Curation.decontaminate(corpus, "text", "doc_id", eval, "text",
        n = 3, minHits = 5L)
      .select($"doc_id", $"n_chars")
      .orderBy($"doc_id")
  }
  private[queries] lazy val q87Sql =
    """WITH c AS (
      | SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS w,
      |        n_chars
      | FROM documents WHERE doc_id < 300),
      |cs AS (
      | SELECT doc_id, unnest(list_distinct(list_transform(
      |   range(1, len(w) - 1),
      |   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS sgl
      | FROM c),
      |e AS (
      | SELECT regexp_extract_all(lower(text), '\S+') AS w
      | FROM documents WHERE doc_id >= 100 AND doc_id < 120),
      |es AS (
      | SELECT DISTINCT unnest(list_distinct(list_transform(
      |   range(1, len(w) - 1),
      |   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS sgl
      | FROM e),
      |bad AS (
      | SELECT doc_id FROM cs JOIN es USING (sgl)
      | GROUP BY doc_id HAVING count(*) >= 5)
      |SELECT doc_id, n_chars FROM c
      |WHERE doc_id NOT IN (SELECT doc_id FROM bad)
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q96
  // Temperature-balanced mixture sampling (Curation.temperatureMixture):
  // per-language weights n^α with α=0.5 up-weight the small languages
  // against the `en` head — the multilingual data-mixing rule — then a
  // budget is allocated by weight and admitted by the md5-keyed draw
  // (q81's mechanism). The admission cut is exact integer arithmetic
  // (u·nₛ < target·2³²), so both engines admit identical doc sets.
  private[queries] def q96(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Curation.temperatureMixture(t(s, dir, "documents"), "lang", "doc_id",
        budget = 200L, alpha = 0.5, seed = "mix96")
      .groupBy($"lang")
      .agg(count(lit(1)).as("kept"), min($"doc_id").as("first_doc"),
        max($"target").as("target"), max($"w").as("w"))
      .orderBy($"lang")
  }
  private[queries] lazy val q96Sql =
    """WITH c AS (SELECT lang, count(*) AS n_s FROM documents GROUP BY 1),
      |z AS (SELECT sum(pow(n_s, 0.5)) AS z FROM c),
      |pl AS (SELECT lang, n_s,
      |  floor(pow(n_s, 0.5) / z * 1e9 + 0.5) / 1e9 AS w
      | FROM c CROSS JOIN z),
      |p2 AS (SELECT lang, n_s, w,
      |  CAST(least(CAST(n_s AS DOUBLE), floor(200 * w)) AS BIGINT)
      |    AS target
      | FROM pl),
      |k AS (SELECT d.lang, d.doc_id, p.w, p.target, p.n_s,
      |  ('0x' || substr(md5('mix96:' || d.doc_id), 1, 8))::BIGINT AS u
      | FROM documents d JOIN p2 p USING (lang))
      |SELECT lang, count(*) AS kept, min(doc_id) AS first_doc,
      | max(target) AS target, max(w) AS w
      |FROM k WHERE u * n_s < target * 4294967296
      |GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- q98
  // Mergeable quantile sketch (Spark's Greenwald–Khanna
  // percentile_approx): per-group price quantiles from ONE pass of
  // map-side-combined partial sketches — the constant-memory shape
  // that replaces a full sort at 100 TB. At the oracle SF the accuracy
  // parameter (10⁷) exceeds n, making the sketch EXACT (rank error
  // ≤ n/accuracy < 1), so DuckDB's quantile_disc hash-matches
  // element-for-element; production keeps the default accuracy and the
  // published ε·n rank bound.
  private[queries] def q98(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(percentile_approx($"l_extendedprice",
        array(lit(0.25), lit(0.5), lit(0.75), lit(0.95)),
        lit(10000000)).as("qs"))
      .select($"l_returnflag", posexplode($"qs").as(Seq("pos", "q")))
      .select($"l_returnflag", ($"pos" + 1).cast("long").as("pos"), $"q")
      .orderBy($"l_returnflag", $"pos")
  }
  private[queries] lazy val q98Sql =
    """WITH g AS (SELECT l_returnflag,
      |  quantile_disc(l_extendedprice, [0.25, 0.5, 0.75, 0.95]) AS qs
      | FROM lineitem GROUP BY 1)
      |SELECT l_returnflag, CAST(i AS BIGINT) AS pos, qs[CAST(i AS INT)] AS q
      |FROM g, unnest(range(1, 5)) t(i)
      |ORDER BY l_returnflag, pos""".stripMargin

  // ---------------------------------------------------------------- q102
  // Count-min heavy hitters (Sketches.cmsTable/cmsEstimate) — q82's
  // frequency twin under the same bound-oracle contract: per-language
  // slice sketches built in ONE token scan, merged counter-wise, point
  // frequency estimates for the exact top-10 terms checked against the
  // published CMS guarantee exact ≤ est ≤ exact + ε·N. The booleans
  // hash-match across engines while the estimates stay
  // engine-internal; slice-merge ≡ whole-scan is spec-pinned in
  // SketchesSpec. The two driver round-trips are bounded artifacts:
  // sketch bytes (fixed by ε/confidence) and the 10-term top-k.
  private[queries] def q102(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val eps = 0.0005
    val toks = t(s, dir, "documents")
      .select($"lang", explode(Retrieval.tokens($"text")).as("term"))
    val slices = Sketches.cmsTable(toks, Seq("lang"), "term", eps = eps)
    val exact = toks.groupBy($"term").agg(count(lit(1)).as("n_exact"))
    val top = exact.orderBy($"n_exact".desc, $"term").limit(10).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val nTokens = exact.agg(sum($"n_exact")).head().getLong(0)
    val slack = math.ceil(eps * nTokens).toLong
    val est = Sketches.cmsEstimate(slices, top.map(_._1).toSeq)
    top.toSeq.map { case (t, ex) =>
      (t, ex, est(t) >= ex && est(t) <= ex + slack)
    }.toDF("term", "n_exact", "within_bound")
      .orderBy($"n_exact".desc, $"term")
  }
  private[queries] lazy val q102Sql =
    """WITH tk AS (SELECT unnest(list_filter(
      |  string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS term
      | FROM documents),
      |c AS (SELECT term, count(*) AS n_exact FROM tk GROUP BY 1)
      |SELECT term, n_exact, TRUE AS within_bound FROM c
      |ORDER BY n_exact DESC, term LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- q114
  // Length-sorted batch packing (Curation.paddedBatchStats): fixed-size
  // inference/training batches pad to the batch max, so arrival-order
  // batching wastes n·max − sum tokens per batch; length-sorting makes
  // batches homogeneous and collapses the waste. The query totals both
  // orderings over the same corpus — the sorted mode must dominate —
  // and DuckDB replays the window arithmetic exactly.
  private[queries] def q114(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents")
      .select($"doc_id",
        TextAnalysis.wsTokenCount($"text").cast("long").as("tokens"))
    def totals(sorted: Boolean, mode: String) =
      Curation.paddedBatchStats(docs, "doc_id", "tokens",
          batchSize = 32, sorted = sorted)
        .agg(count(lit(1)).as("n_batches"),
          sum($"pad_tokens").as("pad_tokens"),
          sum($"n_docs" * $"max_tokens").as("padded_tokens"))
        .select(lit(mode).as("mode"), $"n_batches", $"pad_tokens",
          $"padded_tokens")
    totals(sorted = true, "length_sorted")
      .unionByName(totals(sorted = false, "arrival"))
      .orderBy($"mode")
  }
  private[queries] lazy val q114Sql =
    """WITH d AS (SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS tokens
      | FROM documents),
      |srt AS (SELECT tokens,
      |  (row_number() OVER (ORDER BY tokens, doc_id) - 1) // 32 AS batch_id
      | FROM d),
      |arr AS (SELECT tokens,
      |  (row_number() OVER (ORDER BY doc_id) - 1) // 32 AS batch_id
      | FROM d),
      |sb AS (SELECT batch_id, count(*) AS n, max(tokens) AS mx,
      |  sum(tokens) AS sm FROM srt GROUP BY 1),
      |ab AS (SELECT batch_id, count(*) AS n, max(tokens) AS mx,
      |  sum(tokens) AS sm FROM arr GROUP BY 1)
      |SELECT 'arrival' AS mode, count(*) AS n_batches,
      | CAST(sum(n * mx - sm) AS BIGINT) AS pad_tokens,
      | CAST(sum(n * mx) AS BIGINT) AS padded_tokens
      |FROM ab
      |UNION ALL
      |SELECT 'length_sorted', count(*),
      | CAST(sum(n * mx - sm) AS BIGINT), CAST(sum(n * mx) AS BIGINT)
      |FROM sb
      |ORDER BY mode""".stripMargin

  // ---------------------------------------------------------------- q144
  // Link-graph PageRank as a curation quality prior (Graph.pageRank):
  // crawl pipelines weight documents by the authority of their host's
  // link neighborhood. The 200-node fixture graph is closed-form
  // ((doc_id·17 + j·61) mod 200, fan-out 1 + doc_id mod 3) so DuckDB
  // replays edge derivation, degree counting, dangling-mass
  // redistribution and all five unrolled power iterations in exact
  // arithmetic; ranks round at 6dp (fp sum-order ulps ≪ 1e-6, the
  // q24 precedent). Self-loop-only nodes go dangling — the mass path
  // is exercised, not just defined.
  private[queries] def q144(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nodes = t(s, dir, "documents").filter($"doc_id" < 200)
      .select($"doc_id")
    val edges = nodes
      .select($"doc_id",
        explode(sequence(lit(1L), lit(1L) + $"doc_id" % 3)).as("j"))
      .select($"doc_id".as("src"),
        (($"doc_id" * 17 + $"j" * 61) % 200).as("dst"))
    // rank + degrees share ONE materialization of the deduped edge
    // frame (values ≡ pageRank(...).join(degrees(...)) — the former
    // shape paid a second scan+dedup of the edge relation)
    Graph.pageRankWithDegrees(edges, nodes, "src", "dst", iterations = 5)
      .select($"node", $"out_deg", $"in_deg",
        (floor($"rank" * 1000000.0 + 0.5) / 1000000.0).as("rank"))
      .orderBy($"node")
  }
  private[queries] lazy val q144Sql = {
    def iter(k: Int): String =
      s"""r$k AS (
         | SELECT nodes.node,
         |  0.15 / (SELECT n FROM nn)
         |  + 0.85 * (coalesce(c.contrib, 0)
         |    + (SELECT coalesce(sum(r.rank), 0) FROM r${k - 1} r
         |       LEFT JOIN deg USING (node) WHERE deg.node IS NULL)
         |      / (SELECT n FROM nn)) AS rank
         | FROM nodes
         | LEFT JOIN (
         |   SELECT e.dst AS node, sum(r.rank / deg.out_deg) AS contrib
         |   FROM r${k - 1} r JOIN deg USING (node)
         |   JOIN e ON e.src = r.node
         |   GROUP BY e.dst) c USING (node))""".stripMargin
    s"""WITH nodes AS (
       | SELECT doc_id AS node FROM documents WHERE doc_id < 200),
       |e0 AS (
       | SELECT doc_id AS src, (doc_id * 17 + j * 61) % 200 AS dst
       | FROM documents, unnest(generate_series(1, 1 + doc_id % 3)) t(j)
       | WHERE doc_id < 200),
       |e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
       |deg AS (
       | SELECT src AS node, count(*)::DOUBLE AS out_deg FROM e
       | GROUP BY 1),
       |indeg AS (SELECT dst AS node, count(*) AS in_deg FROM e
       | GROUP BY 1),
       |nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
       |r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes),
       |${(1 to 5).map(iter).mkString(",\n")}
       |SELECT nodes.node,
       | CAST(coalesce(deg.out_deg, 0) AS BIGINT) AS out_deg,
       | coalesce(indeg.in_deg, 0) AS in_deg,
       | floor(r5.rank * 1000000.0 + 0.5) / 1000000.0 AS rank
       |FROM nodes
       |LEFT JOIN deg USING (node)
       |LEFT JOIN indeg USING (node)
       |JOIN r5 ON r5.node = nodes.node
       |ORDER BY nodes.node""".stripMargin
  }

  // ---------------------------------------------------------------- q149
  // Incremental PageRank (Graph.pageRankResume): after an edge delta,
  // resume power iteration FROM the old ranks for two steps instead of
  // recomputing five from uniform — the warm start is within the
  // contraction factor (0.85²) of the new fixed point, and at graph
  // scale it touches every edge 2× not 5×. The oracle replays q144's
  // five cold iterations, the in-plan mass renormalization of the
  // seed, and both warm iterations over the unioned edge set.
  private[queries] def q149(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nodes = t(s, dir, "documents").filter($"doc_id" < 200)
      .select($"doc_id")
    val edges = nodes
      .select($"doc_id",
        explode(sequence(lit(1L), lit(1L) + $"doc_id" % 3)).as("j"))
      .select($"doc_id".as("src"),
        (($"doc_id" * 17 + $"j" * 61) % 200).as("dst"))
    val prior = Graph.pageRank(edges, nodes, "src", "dst", iterations = 5)
    val delta = nodes.filter($"doc_id" % 4 === 0)
      .select($"doc_id".as("src"), (($"doc_id" * 29 + 97) % 200).as("dst"))
    Graph.pageRankResume(edges.unionByName(delta), nodes, "src", "dst",
        prior, iterations = 2)
      .select($"node",
        (floor($"rank" * 1000000.0 + 0.5) / 1000000.0).as("rank"))
      .orderBy($"node")
  }
  private[queries] lazy val q149Sql = {
    def iter(prev: String, cur: String, eT: String, degT: String): String =
      s"""$cur AS (
         | SELECT nodes.node,
         |  0.15 / (SELECT n FROM nn)
         |  + 0.85 * (coalesce(c.contrib, 0)
         |    + (SELECT coalesce(sum(r.rank), 0) FROM $prev r
         |       LEFT JOIN $degT d ON d.node = r.node
         |       WHERE d.node IS NULL)
         |      / (SELECT n FROM nn)) AS rank
         | FROM nodes
         | LEFT JOIN (
         |   SELECT e.dst AS node, sum(r.rank / d.out_deg) AS contrib
         |   FROM $prev r JOIN $degT d ON d.node = r.node
         |   JOIN $eT e ON e.src = r.node
         |   GROUP BY e.dst) c USING (node))""".stripMargin
    s"""WITH nodes AS (
       | SELECT doc_id AS node FROM documents WHERE doc_id < 200),
       |e0 AS (
       | SELECT doc_id AS src, (doc_id * 17 + j * 61) % 200 AS dst
       | FROM documents, unnest(generate_series(1, 1 + doc_id % 3)) t(j)
       | WHERE doc_id < 200),
       |e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
       |deg AS (
       | SELECT src AS node, count(*)::DOUBLE AS out_deg FROM e
       | GROUP BY 1),
       |nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
       |r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes),
       |${(1 to 5).map(k => iter(s"r${k - 1}", s"r$k", "e", "deg"))
          .mkString(",\n")},
       |d0 AS (
       | SELECT doc_id AS src, (doc_id * 29 + 97) % 200 AS dst
       | FROM documents WHERE doc_id < 200 AND doc_id % 4 = 0),
       |e2 AS (SELECT DISTINCT src, dst
       | FROM (SELECT * FROM e0 UNION ALL SELECT * FROM d0)
       | WHERE src <> dst),
       |deg2 AS (
       | SELECT src AS node, count(*)::DOUBLE AS out_deg FROM e2
       | GROUP BY 1),
       |mass AS (SELECT sum(rank) AS m FROM r5),
       |s0 AS (SELECT node, rank / (SELECT m FROM mass) AS rank FROM r5),
       |${iter("s0", "s1", "e2", "deg2")},
       |${iter("s1", "s2", "e2", "deg2")}
       |SELECT node, floor(rank * 1000000.0 + 0.5) / 1000000.0 AS rank
       |FROM s2 ORDER BY node""".stripMargin
  }

  // ---------------------------------------------------------------- q150
  // Label-propagation community detection (Graph.labelPropagation):
  // 20 dense 10-node blocks with single bridges between consecutive
  // blocks — connected components would merge EVERYTHING into one
  // cluster; LPA keeps the density structure. Synchronous rounds with
  // smallest-label tie-break are pure relational algebra, so the
  // oracle replays all four rounds exactly: per round one
  // neighbor-label count and one (cnt DESC, label ASC) argmax.
  private[queries] def q150(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nodes = t(s, dir, "documents").filter($"doc_id" < 200)
      .select($"doc_id")
    val intra = nodes
      .select($"doc_id", explode(sequence(lit(1L), lit(2L))).as("j"))
      .select($"doc_id".as("src"),
        ($"doc_id" - ($"doc_id" % 10) +
          (($"doc_id" * 3 + $"j") % 10)).as("dst"))
    val bridges = nodes.filter($"doc_id" % 10 === 0)
      .select($"doc_id".as("src"),
        (((expr("doc_id div 10") + 1) % 20) * 10).as("dst"))
    Graph.labelPropagation(intra.unionByName(bridges), nodes,
        "src", "dst", iterations = 4)
      .orderBy($"node")
  }
  private[queries] lazy val q150Sql = {
    def round(k: Int): String =
      s"""cnt$k AS (
         | SELECT e.dst AS node, l.label, count(*) AS c
         | FROM l${k - 1} l JOIN e ON e.src = l.node
         | GROUP BY 1, 2),
         |win$k AS (
         | SELECT node, label FROM (
         |  SELECT node, label,
         |   row_number() OVER (PARTITION BY node
         |    ORDER BY c DESC, label) AS rn
         |  FROM cnt$k) WHERE rn = 1),
         |l$k AS (
         | SELECT p.node, coalesce(w.label, p.label) AS label
         | FROM l${k - 1} p LEFT JOIN win$k w ON w.node = p.node)"""
        .stripMargin
    s"""WITH nodes AS (
       | SELECT doc_id AS node FROM documents WHERE doc_id < 200),
       |e0 AS (
       | SELECT doc_id AS src,
       |  doc_id - (doc_id % 10) + (doc_id * 3 + j) % 10 AS dst
       | FROM documents, unnest(generate_series(1, 2)) t(j)
       | WHERE doc_id < 200
       | UNION ALL
       | SELECT doc_id, ((doc_id // 10 + 1) % 20) * 10
       | FROM documents WHERE doc_id < 200 AND doc_id % 10 = 0),
       |e AS (
       | SELECT DISTINCT src, dst FROM (
       |  SELECT src, dst FROM e0
       |  UNION ALL SELECT dst, src FROM e0)
       | WHERE src <> dst),
       |l0 AS (SELECT node, node AS label FROM nodes),
       |${(1 to 4).map(round).mkString(",\n")}
       |SELECT node, label FROM l4 ORDER BY node""".stripMargin
  }

  // ---------------------------------------------------------------- q151
  // Personalized + weighted PageRank (Graph.personalizedPageRank):
  // the TrustRank construction — teleport mass concentrated on a
  // weighted seed set (vetted domains), edge weights splitting each
  // node's contribution proportionally. The fixture reuses q144's
  // closed-form edge generator, duplicates the src%7==0 slice to pin
  // the parallel-edges-SUM rule, weights w = 1+(src+dst)%5, and seeds
  // doc_id%17==0 with tw = 1 + 0.7·(doc_id%3). Edge weights are
  // integer-valued doubles, so out-weights are EXACT on both engines;
  // the 0.7 teleport factor is deliberately binary-INEXACT — with
  // all-integer inputs the halves in w/W ratios park several ranks
  // exactly on a 6dp rounding boundary (0.0053125) where engine ulps
  // flip the hash; a generic-double teleport moves every reachable
  // rank off the boundary lattice, and the remaining order ulps are
  // absorbed by the rounding (q144 precedent). Three unrolled
  // iterations from r0 = t.
  private[queries] def q151(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nodes = t(s, dir, "documents").filter($"doc_id" < 200)
      .select($"doc_id")
    val base = nodes
      .select($"doc_id",
        explode(sequence(lit(1L), lit(1L) + $"doc_id" % 3)).as("j"))
      .select($"doc_id".as("src"),
        (($"doc_id" * 17 + $"j" * 61) % 200).as("dst"))
    val edges = base.unionByName(base.filter($"src" % 7 === 0))
      .withColumn("w", lit(1.0) + ($"src" + $"dst") % 5)
    val seeds = nodes.filter($"doc_id" % 17 === 0)
      .select($"doc_id".as("node"),
        (lit(1.0) + ($"doc_id" % 3) * lit(0.7)).as("tw"))
    Graph.personalizedPageRank(edges, nodes, "src", "dst", seeds,
        iterations = 3, weightCol = Some("w"))
      .select($"node",
        (floor($"rank" * 1000000.0 + 0.5) / 1000000.0).as("rank"))
      .orderBy($"node")
  }
  private[queries] lazy val q151Sql = {
    def iter(k: Int): String =
      s"""r$k AS (
         | SELECT nodes.node,
         |  0.15 * coalesce(tele.t, 0)
         |  + 0.85 * (coalesce(c.contrib, 0)
         |    + (SELECT coalesce(sum(r.rank), 0) FROM r${k - 1} r
         |       LEFT JOIN deg d ON d.node = r.node
         |       WHERE d.node IS NULL)
         |      * coalesce(tele.t, 0)) AS rank
         | FROM nodes
         | LEFT JOIN tele USING (node)
         | LEFT JOIN (
         |   SELECT e.dst AS node, sum(r.rank / d.out_w * e.w) AS contrib
         |   FROM r${k - 1} r JOIN deg d ON d.node = r.node
         |   JOIN ew e ON e.src = r.node
         |   GROUP BY e.dst) c USING (node))""".stripMargin
    s"""WITH nodes AS (
       | SELECT doc_id AS node FROM documents WHERE doc_id < 200),
       |e0 AS (
       | SELECT doc_id AS src, (doc_id * 17 + j * 61) % 200 AS dst
       | FROM documents, unnest(generate_series(1, 1 + doc_id % 3)) t(j)
       | WHERE doc_id < 200),
       |eu AS (SELECT * FROM e0
       | UNION ALL SELECT * FROM e0 WHERE src % 7 = 0),
       |ew AS (
       | SELECT src, dst, sum(1.0 + (src + dst) % 5) AS w
       | FROM eu WHERE src <> dst GROUP BY 1, 2),
       |deg AS (SELECT src AS node, sum(w) AS out_w FROM ew GROUP BY 1),
       |sd AS (
       | SELECT doc_id AS node, 1.0 + (doc_id % 3) * 0.7 AS tw
       | FROM documents WHERE doc_id < 200 AND doc_id % 17 = 0),
       |tele AS (
       | SELECT node, tw / (SELECT sum(tw) FROM sd) AS t FROM sd),
       |r0 AS (
       | SELECT nodes.node, coalesce(tele.t, 0) AS rank
       | FROM nodes LEFT JOIN tele USING (node)),
       |${(1 to 3).map(iter).mkString(",\n")}
       |SELECT node, floor(rank * 1000000.0 + 0.5) / 1000000.0 AS rank
       |FROM r3 ORDER BY node""".stripMargin
  }

  // ---------------------------------------------------------------- q155
  // WEIGHTED label propagation (Graph.labelPropagation + weightCol):
  // q150's block-and-bridge fixture with symmetric closed-form edge
  // weights w = 1 + (src+dst)%3 — the vote becomes max-SUM-of-weights
  // (bidirectional duplicates sum into stronger ties), ties still
  // break on the smallest label. Weights are integer-valued doubles,
  // so every per-(node,label) sum is EXACT on both engines and the
  // (c DESC, label ASC) argmax is replayed without rounding. Three
  // synchronous rounds.
  private[queries] def q155(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nodes = t(s, dir, "documents").filter($"doc_id" < 200)
      .select($"doc_id")
    val intra = nodes
      .select($"doc_id", explode(sequence(lit(1L), lit(2L))).as("j"))
      .select($"doc_id".as("src"),
        ($"doc_id" - ($"doc_id" % 10) +
          (($"doc_id" * 3 + $"j") % 10)).as("dst"))
    val bridges = nodes.filter($"doc_id" % 10 === 0)
      .select($"doc_id".as("src"),
        (((expr("doc_id div 10") + 1) % 20) * 10).as("dst"))
    val edges = intra.unionByName(bridges)
      .withColumn("w", lit(1.0) + ($"src" + $"dst") % 3)
    Graph.labelPropagation(edges, nodes, "src", "dst", iterations = 3,
        weightCol = Some("w"))
      .orderBy($"node")
  }
  private[queries] lazy val q155Sql = {
    def round(k: Int): String =
      s"""cnt$k AS (
         | SELECT e.dst AS node, l.label, sum(e.w) AS c
         | FROM l${k - 1} l JOIN ew e ON e.src = l.node
         | GROUP BY 1, 2),
         |win$k AS (
         | SELECT node, label FROM (
         |  SELECT node, label,
         |   row_number() OVER (PARTITION BY node
         |    ORDER BY c DESC, label) AS rn
         |  FROM cnt$k) WHERE rn = 1),
         |l$k AS (
         | SELECT p.node, coalesce(w.label, p.label) AS label
         | FROM l${k - 1} p LEFT JOIN win$k w ON w.node = p.node)"""
        .stripMargin
    s"""WITH nodes AS (
       | SELECT doc_id AS node FROM documents WHERE doc_id < 200),
       |e0 AS (
       | SELECT doc_id AS src,
       |  doc_id - (doc_id % 10) + (doc_id * 3 + j) % 10 AS dst
       | FROM documents, unnest(generate_series(1, 2)) t(j)
       | WHERE doc_id < 200
       | UNION ALL
       | SELECT doc_id, ((doc_id // 10 + 1) % 20) * 10
       | FROM documents WHERE doc_id < 200 AND doc_id % 10 = 0),
       |ew AS (
       | SELECT src, dst, sum(1.0 + (src + dst) % 3) AS w FROM (
       |  SELECT src, dst FROM e0
       |  UNION ALL SELECT dst, src FROM e0)
       | WHERE src <> dst GROUP BY 1, 2),
       |l0 AS (SELECT node, node AS label FROM nodes),
       |${(1 to 3).map(round).mkString(",\n")}
       |SELECT node, label FROM l3 ORDER BY node""".stripMargin
  }

  // ---------------------------------------------------------------- q178
  // HTML → link graph → PageRank, end to end (the crawl authority
  // pipeline in one plan): each page's closed-form HTML carries
  // id-derived <a href> links with real-crawl noise (www prefixes,
  // paths, a class attribute); Text.hrefUrls extracts the targets,
  // registrableDomainFromUrl collapses them to eTLD+1 host-graph
  // nodes (www vanishes as a subdomain), and Graph.pageRank ranks the
  // 40-domain universe over 3 unrolled-in-the-oracle iterations. A
  // link-extractor or domain-reduction bug changes the edge set and
  // every rank moves — the composition is load-bearing, not
  // decorative.
  private[queries] def q178(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val T = graft.functions.Text
    val pages = t(s, dir, "documents").filter($"doc_id" < 200)
      .select($"doc_id",
        concat(lit("<html><body><p>Doc "), $"doc_id", lit("</p>"),
          array_join(transform(
            sequence(lit(1L), lit(1L) + $"doc_id" % 3),
            j => concat(lit("<a class='l' href=\"http://www.site"),
              (($"doc_id" * 17 + j * 61) % 40).cast("string"),
              lit(".com/p/"), j.cast("string"), lit("\">x</a>"))), ""),
          lit("</body></html>")).as("html"))
    val edges = pages
      .select(concat(lit("site"), ($"doc_id" % 40).cast("string"),
          lit(".com")).as("src"),
        explode(T.hrefUrls($"html")).as("href"))
      .select($"src", T.registrableDomainFromUrl($"href").as("dst"))
    val nodes = t(s, dir, "documents").filter($"doc_id" < 40)
      .select(concat(lit("site"), $"doc_id".cast("string"),
        lit(".com")).as("domain"))
    // shared edge materialization for rank + degrees (q144's note)
    Graph.pageRankWithDegrees(edges, nodes, "src", "dst", iterations = 3)
      .select($"node", $"out_deg", $"in_deg",
        (floor($"rank" * 1000000.0 + 0.5) / 1000000.0).as("rank"))
      .orderBy($"node")
  }
  // ---------------------------------------------------------------- q186
  // WEIGHTED HTML link graph — q178 with edge MULTIPLICITY: the same
  // pages' anchors feed personalizedPageRank with per-link weight 1
  // and a uniform all-node seed set (teleport 1/N ⇒ the classic
  // weighted formulation), so the operator's parallel-edges-SUM rule
  // turns repeated (src,dst) links into stronger endorsements — the
  // real-web semantics q178's distinct-collapse deliberately
  // ignores. Pages sharing a source domain emit overlapping target
  // sets with varying fan-out, so multiplicities are non-uniform and
  // the ranks genuinely differ from q178's. Three unrolled weighted
  // iterations in the oracle (q151's form, uniform teleport).
  private[queries] def q186(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val T = graft.functions.Text
    val pages = t(s, dir, "documents").filter($"doc_id" < 200)
      .select($"doc_id",
        concat(lit("<html><body><p>Doc "), $"doc_id", lit("</p>"),
          array_join(transform(
            sequence(lit(1L), lit(1L) + $"doc_id" % 3),
            j => concat(lit("<a class='l' href=\"http://www.site"),
              (($"doc_id" * 17 + j * 61) % 40).cast("string"),
              lit(".com/p/"), j.cast("string"), lit("\">x</a>"))), ""),
          lit("</body></html>")).as("html"))
    val edges = pages
      .select(concat(lit("site"), ($"doc_id" % 40).cast("string"),
          lit(".com")).as("src"),
        explode(T.hrefUrls($"html")).as("href"))
      .select($"src", T.registrableDomainFromUrl($"href").as("dst"),
        lit(1.0).as("w"))
    val nodes = t(s, dir, "documents").filter($"doc_id" < 40)
      .select(concat(lit("site"), $"doc_id".cast("string"),
        lit(".com")).as("domain"))
    Graph.personalizedPageRank(edges, nodes, "src", "dst",
        seeds = nodes, iterations = 3, weightCol = Some("w"))
      .select($"node",
        (floor($"rank" * 1000000.0 + 0.5) / 1000000.0).as("rank"))
      .orderBy($"node")
  }
  private[queries] lazy val q186Sql = {
    def iter(k: Int): String =
      s"""r$k AS (
         | SELECT nodes.node,
         |  0.15 * (SELECT t FROM tele)
         |  + 0.85 * (coalesce(c.contrib, 0)
         |    + (SELECT coalesce(sum(r.rank), 0) FROM r${k - 1} r
         |       LEFT JOIN deg d ON d.node = r.node
         |       WHERE d.node IS NULL)
         |      * (SELECT t FROM tele)) AS rank
         | FROM nodes
         | LEFT JOIN (
         |   SELECT e.dst AS node, sum(r.rank / d.out_w * e.w) AS contrib
         |   FROM r${k - 1} r JOIN deg d ON d.node = r.node
         |   JOIN ew e ON e.src = r.node
         |   GROUP BY e.dst) c USING (node))""".stripMargin
    s"""WITH nodes AS (
       | SELECT 'site' || doc_id || '.com' AS node FROM documents
       | WHERE doc_id < 40),
       |e0 AS (
       | SELECT 'site' || (doc_id % 40) || '.com' AS src,
       |  'site' || ((doc_id * 17 + j * 61) % 40) || '.com' AS dst
       | FROM documents, unnest(generate_series(1, 1 + doc_id % 3)) t(j)
       | WHERE doc_id < 200),
       |ew AS (
       | SELECT src, dst, sum(1.0) AS w FROM e0 WHERE src <> dst
       | GROUP BY 1, 2),
       |deg AS (SELECT src AS node, sum(w) AS out_w FROM ew GROUP BY 1),
       |tele AS (
       | SELECT 1.0 / (SELECT count(*) FROM nodes) AS t),
       |r0 AS (SELECT node, (SELECT t FROM tele) AS rank FROM nodes),
       |${(1 to 3).map(iter).mkString(",\n")}
       |SELECT node, floor(rank * 1000000.0 + 0.5) / 1000000.0 AS rank
       |FROM r3 ORDER BY node""".stripMargin
  }

  private[queries] lazy val q178Sql = {
    def iter(k: Int): String =
      s"""r$k AS (
         | SELECT nodes.node,
         |  0.15 / (SELECT n FROM nn)
         |  + 0.85 * (coalesce(c.contrib, 0)
         |    + (SELECT coalesce(sum(r.rank), 0) FROM r${k - 1} r
         |       LEFT JOIN deg USING (node) WHERE deg.node IS NULL)
         |      / (SELECT n FROM nn)) AS rank
         | FROM nodes
         | LEFT JOIN (
         |   SELECT e.dst AS node, sum(r.rank / deg.out_deg) AS contrib
         |   FROM r${k - 1} r JOIN deg USING (node)
         |   JOIN e ON e.src = r.node
         |   GROUP BY e.dst) c USING (node))""".stripMargin
    s"""WITH nodes AS (
       | SELECT 'site' || doc_id || '.com' AS node FROM documents
       | WHERE doc_id < 40),
       |e0 AS (
       | SELECT 'site' || (doc_id % 40) || '.com' AS src,
       |  'site' || ((doc_id * 17 + j * 61) % 40) || '.com' AS dst
       | FROM documents, unnest(generate_series(1, 1 + doc_id % 3)) t(j)
       | WHERE doc_id < 200),
       |e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
       |deg AS (
       | SELECT src AS node, count(*)::DOUBLE AS out_deg FROM e
       | GROUP BY 1),
       |indeg AS (SELECT dst AS node, count(*) AS in_deg FROM e
       | GROUP BY 1),
       |nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
       |r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes),
       |${(1 to 3).map(iter).mkString(",\n")}
       |SELECT nodes.node,
       | CAST(coalesce(deg.out_deg, 0) AS BIGINT) AS out_deg,
       | coalesce(indeg.in_deg, 0) AS in_deg,
       | floor(r3.rank * 1000000.0 + 0.5) / 1000000.0 AS rank
       |FROM nodes
       |LEFT JOIN deg USING (node)
       |LEFT JOIN indeg USING (node)
       |JOIN r3 ON r3.node = nodes.node
       |ORDER BY nodes.node""".stripMargin
  }

  // ---------------------------------------------------------------- q193
  // HITS hubs-and-authorities (Graph.hits) — the OTHER authority
  // model next to q144's PageRank, over the same synthetic link
  // graph: hub scores rank pages by the quality of what they POINT
  // AT (the crawl's directory-page signal), authority by who points
  // at them. Three synchronous mutually-recursive iterations with L1
  // normalization, unrolled as paired CTEs in the oracle (auth-from-
  // hub then hub-from-auth per round, each divided by its plain-SQL
  // sum); both scores rounded to 1e-6 — normalization sums differ
  // across engines by ~1e-15, far under the rounding granularity
  // (q144's tolerance argument).
  private[queries] def q193(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nodes = t(s, dir, "documents").filter($"doc_id" < 200)
      .select($"doc_id")
    val edges = nodes
      .select($"doc_id",
        explode(sequence(lit(1L), lit(1L) + $"doc_id" % 3)).as("j"))
      .select($"doc_id".as("src"),
        (($"doc_id" * 17 + $"j" * 61) % 200).as("dst"))
    Graph.hits(edges, nodes, "src", "dst", iterations = 3)
      .select($"node",
        (floor($"hub" * 1000000.0 + 0.5) / 1000000.0).as("hub"),
        (floor($"authority" * 1000000.0 + 0.5) / 1000000.0)
          .as("authority"))
      .orderBy($"node")
  }
  private[queries] lazy val q193Sql = {
    def round(k: Int): String =
      s"""a${k}raw AS (
         | SELECT nodes.node, coalesce(s.a, 0) AS a FROM nodes
         | LEFT JOIN (
         |  SELECT e.dst AS node, sum(h.hub) AS a
         |  FROM h${k - 1} h JOIN e ON e.src = h.node
         |  GROUP BY e.dst) s USING (node)),
         |a$k AS (
         | SELECT node, a / (SELECT sum(a) FROM a${k}raw) AS auth
         | FROM a${k}raw),
         |h${k}raw AS (
         | SELECT nodes.node, coalesce(s.h, 0) AS h FROM nodes
         | LEFT JOIN (
         |  SELECT e.src AS node, sum(a.auth) AS h
         |  FROM a$k a JOIN e ON e.dst = a.node
         |  GROUP BY e.src) s USING (node)),
         |h$k AS (
         | SELECT node, h / (SELECT sum(h) FROM h${k}raw) AS hub
         | FROM h${k}raw)""".stripMargin
    s"""WITH nodes AS (
       | SELECT doc_id AS node FROM documents WHERE doc_id < 200),
       |e0 AS (
       | SELECT doc_id AS src, (doc_id * 17 + j * 61) % 200 AS dst
       | FROM documents, unnest(generate_series(1, 1 + doc_id % 3)) t(j)
       | WHERE doc_id < 200),
       |e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
       |nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
       |h0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS hub FROM nodes),
       |${(1 to 3).map(round).mkString(",\n")}
       |SELECT nodes.node,
       | floor(h3.hub * 1000000.0 + 0.5) / 1000000.0 AS hub,
       | floor(a3.auth * 1000000.0 + 0.5) / 1000000.0 AS authority
       |FROM nodes
       |JOIN h3 ON h3.node = nodes.node
       |JOIN a3 ON a3.node = nodes.node
       |ORDER BY nodes.node""".stripMargin
  }
}
