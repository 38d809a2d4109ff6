package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{ColumnPlugins, Text, Vectors}
import graft.operators._

/** Retrieval and refinery: BM25, hybrid fusion, perplexity filtering. */
private[queries] trait QueriesRetrieval { this: Queries.type =>

  // ---------------------------------------------------------------- q55
  // Corpus vocabulary stats: top-3 terms per language by frequency
  // (explode → count → ranked window; the TF half of TF-IDF curation)
  private[queries] def q55(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val terms = t(s, dir, "documents")
      .select($"lang", explode(split($"text", "\\s+")).as("term"))
      .filter(length($"term") > 0)
    val counts = terms.groupBy($"lang", $"term")
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy($"lang").orderBy($"cnt".desc, $"term".asc)
    counts.withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= 3)
      .select($"lang", $"rk", $"term", $"cnt")
      .orderBy($"lang", $"rk")
  }
  private[queries] lazy val q55Sql =
    """WITH tf AS (
      | SELECT lang, unnest(regexp_extract_all(text, '\S+')) AS term
      | FROM documents),
      |c AS (SELECT lang, term, count(*) AS cnt FROM tf GROUP BY 1, 2),
      |r AS (SELECT lang, term, cnt,
      | row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, term) AS rk
      | FROM c)
      |SELECT lang, rk, term, cnt FROM r WHERE rk <= 3
      |ORDER BY lang, rk""".stripMargin

  // ---------------------------------------------------------------- q62
  // TF-IDF completion (VERDICT r3 #5): q55's TF half + the IDF join.
  // df comes from one more map-side-combinable groupBy over the tf
  // rows; the corpus doc-count N is a 1-row aggregate broadcast into
  // the scoring join (no driver collect). Ranking uses the ROUNDED
  // score so a last-ulp ln() divergence between engines cannot flip
  // the rank order; ties break on term.
  private[queries] def q62(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents")
    val terms = docs
      .select($"doc_id", explode(split($"text", "\\s+")).as("term"))
      .filter(length($"term") > 0)
    // tf feeds both the scoring join and the df aggregate; without
    // materialization Catalyst prunes the two subtrees differently
    // (the df branch becomes a keys-only aggregate), which defeats
    // exchange reuse and re-runs the explode. Checkpointing computes
    // the explode+count once — what a real engine does with a shared
    // intermediate at 100 TB.
    // Materialize: lazy localCheckpoint locally; DISK_ONLY persist or
    // reliable checkpoint under spark.graft.materialize=resilient
    val tf = Materialize(
      terms.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf")))
    val df = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val n = docs.agg(countDistinct($"doc_id").as("n_docs"))
    val scored = tf.join(df, "term")
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        floor($"tf" * log($"n_docs".cast("double") / $"df") * 10000.0 + 0.5)
          / 10000.0)
    val w = Window.partitionBy($"doc_id").orderBy($"tfidf".desc, $"term".asc)
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= 3)
      .select($"doc_id", $"rk", $"term", $"tfidf")
      .orderBy($"doc_id", $"rk")
  }
  private[queries] lazy val q62Sql =
    """WITH t AS (
      | SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS term
      | FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
      |sc AS (
      | SELECT tf.doc_id, tf.term,
      |   floor(tf.tf * ln(n_docs * 1.0 / df.df) * 10000.0 + 0.5) / 10000.0
      |     AS tfidf
      | FROM tf JOIN df USING (term) CROSS JOIN n),
      |r AS (SELECT doc_id, term, tfidf,
      | row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term)
      |   AS rk
      | FROM sc)
      |SELECT doc_id, CAST(rk AS BIGINT) AS rk, term, tfidf
      |FROM r WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin

  // ---------------------------------------------------------------- q74
  // End-to-end curation pipeline, the composition capstone: exact-dedup
  // survivors → repetition gate → quality gate → content-hash split →
  // per-(split, lang) doc/token totals. Every stage is an operator the
  // suite already oracles in isolation (q21/q64/q18/q65/q17); this pins
  // that they compose without semantic drift. All gates compare ROUNDED
  // values so engine ulps cannot flip membership.
  private[queries] def q74(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Curation.curate(t(s, dir, "documents"), "doc_id", "text")
      .groupBy($"split", $"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"tokens").as("tokens_total"))
      .orderBy($"split", $"lang")
  }
  private[queries] def q74Sql: String = {
    val stopRe = s"\\b(${TextAnalysis.stopwords.mkString("|")})\\b"
    s"""WITH surv AS (
       | SELECT min(doc_id) AS doc_id
       | FROM (SELECT doc_id,
       |   md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fp
       |  FROM documents) GROUP BY fp),
       |d AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS w
       | FROM documents),
       |ws AS (SELECT doc_id, len(w) AS n_words,
       | len(list_distinct(w)) AS n_distinct FROM d),
       |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(w)),
       | i -> w[i] || ' ' || w[i+1])) AS b FROM d),
       |bc AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2),
       |bs AS (SELECT doc_id, max(c) AS top_c, sum(c) AS n_bg
       | FROM bc GROUP BY 1),
       |rep AS (
       | SELECT ws.doc_id FROM ws LEFT JOIN bs ON ws.doc_id = bs.doc_id
       | WHERE floor((1.0 - n_distinct * 1.0 / n_words) * 10000.0 + 0.5)
       |     / 10000.0 <= 0.6
       |   AND coalesce(floor(top_c * 1.0 / n_bg * 10000.0 + 0.5)
       |     / 10000.0, 0.0) <= 0.05),
       |qual AS (
       | SELECT doc_id, floor((CASE WHEN toks > 0 THEN
       |   least(1.0, toks / 100.0) * 0.4
       |   + least(1.0, stop * 5.0 / toks) * 0.3
       |   + (dist / toks) * 0.3 ELSE 0.0 END) * 10000.0 + 0.5) / 10000.0
       |   AS q
       | FROM (SELECT doc_id,
       |   CAST(len(regexp_extract_all(text, '\\S+')) AS DOUBLE) AS toks,
       |   CAST(len(regexp_extract_all(lower(text), '$stopRe')) AS DOUBLE)
       |     AS stop,
       |   CAST(len(list_distinct(regexp_extract_all(text, '\\S+')))
       |     AS DOUBLE) AS dist
       |  FROM documents)),
       |kept AS (
       | SELECT
       |  CASE WHEN substr(md5(text), 1, 1) < 'c' THEN 'train'
       |       WHEN substr(md5(text), 1, 1) < 'e' THEN 'val'
       |       ELSE 'test' END AS split,
       |  lang, len(regexp_extract_all(text, '\\S+')) AS tokens
       | FROM documents
       | JOIN surv USING (doc_id) JOIN rep USING (doc_id)
       | JOIN qual USING (doc_id)
       | WHERE q >= 0.45)
       |SELECT split, lang, count(*) AS n_docs,
       | CAST(sum(tokens) AS BIGINT) AS tokens_total
       |FROM kept GROUP BY 1, 2 ORDER BY split, lang""".stripMargin
  }

  // ---------------------------------------------------------------- q95
  // BM25 ranked retrieval (Retrieval.bm25TopK): the lexical half of a
  // retrieval stack, as an inverted-index probe — postings for the
  // query terms only (isin pushed into the explode), map-side-combined
  // tf/df aggregates, broadcast stats, global TakeOrdered top-k.
  // Query terms span the df spectrum ('dup' is rare → high idf;
  // 'spark'/'window' are near-ubiquitous → idf ≈ 0) so the scoring
  // actually discriminates. Scores quantized to 6 decimals on both
  // engines BEFORE ranking.
  private[queries] def q95(s: SparkSession, dir: String): DataFrame =
    Retrieval.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
      Seq("spark", "window", "dup"), k = 15)
  private[queries] lazy val q95Sql =
    """WITH tk AS (SELECT doc_id,
      |  list_filter(string_split_regex(lower(text), '\s+'),
      |    x -> len(x) > 0) AS toks
      | FROM documents),
      |d AS (SELECT doc_id, coalesce(len(toks), 0) AS dl, toks FROM tk),
      |st AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM d),
      |p AS (SELECT doc_id, dl, unnest(toks) AS term FROM d),
      |f AS (SELECT doc_id, dl, term, count(*) AS tf FROM p
      | WHERE term IN ('spark', 'window', 'dup') GROUP BY 1, 2, 3),
      |dfs AS (SELECT term, count(*) AS df FROM f GROUP BY 1),
      |sc AS (SELECT doc_id,
      |  floor(sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
      |      * tf * (1.2 + 1.0)
      |      / (tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl)))
      |    * 1e6 + 0.5) / 1e6 AS score
      | FROM f JOIN dfs USING (term) CROSS JOIN st GROUP BY doc_id),
      |r AS (SELECT doc_id, score,
      |  row_number() OVER (ORDER BY score DESC, doc_id) AS rank FROM sc)
      |SELECT rank, doc_id, score FROM r WHERE rank <= 15
      |ORDER BY rank""".stripMargin

  // ---------------------------------------------------------------- q105
  // Round-7 refinery capstone: quality gate (q18's rounded scoring) →
  // temperature-balanced admission over the SURVIVORS' per-language
  // counts (q96's mixture, α=0.6 — weights adapt to what the gate
  // kept, not the raw corpus) → per-language token rollup. One corpus
  // scan feeds the gate; the mixture plan is a broadcast over
  // survivor counts; the rollup is a map-side-combined aggregate —
  // the whole refinery is gate-scan + tiny-broadcast + one shuffle.
  private[queries] def q105(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val gated = t(s, dir, "documents")
      .withColumn("quality",
        floor(TextAnalysis.qualityScore($"text") * 10000.0 + 0.5) / 10000.0)
      .filter($"quality" >= 0.45)
      .withColumn("tokens", TextAnalysis.wsTokenCount($"text").cast("long"))
    Curation.temperatureMixture(gated, "lang", "doc_id",
        budget = 150L, alpha = 0.6, seed = "r7")
      .groupBy($"lang")
      .agg(count(lit(1)).as("kept"), sum($"tokens").as("sum_tokens"),
        min($"doc_id").as("first_doc"))
      .orderBy($"lang")
  }
  private[queries] def q105Sql: String = {
    val stopRe = s"\\b(${TextAnalysis.stopwords.mkString("|")})\\b"
    s"""WITH m AS (
       | SELECT doc_id, lang,
       |  CAST(len(regexp_extract_all(text, '\\S+')) AS DOUBLE) AS toks,
       |  CAST(len(regexp_extract_all(lower(text), '$stopRe')) AS DOUBLE)
       |    AS stop,
       |  CAST(len(list_distinct(regexp_extract_all(text, '\\S+')))
       |    AS DOUBLE) AS dist
       | FROM documents),
       |g AS (
       | SELECT doc_id, lang, CAST(toks AS BIGINT) AS tokens
       | FROM m
       | WHERE floor((CASE WHEN toks > 0 THEN
       |   least(1.0, toks / 100.0) * 0.4
       |   + least(1.0, stop * 5.0 / toks) * 0.3
       |   + (dist / toks) * 0.3 ELSE 0.0 END) * 10000.0 + 0.5) / 10000.0
       |   >= 0.45),
       |c AS (SELECT lang, count(*) AS n_s FROM g GROUP BY 1),
       |z AS (SELECT sum(pow(n_s, 0.6)) AS z FROM c),
       |pl AS (SELECT lang, n_s,
       |  floor(pow(n_s, 0.6) / z * 1e9 + 0.5) / 1e9 AS w
       | FROM c CROSS JOIN z),
       |p2 AS (SELECT lang, n_s,
       |  CAST(least(CAST(n_s AS DOUBLE), floor(150 * w)) AS BIGINT)
       |    AS target
       | FROM pl),
       |k AS (SELECT g.lang, g.doc_id, g.tokens, p.target, p.n_s,
       |  ('0x' || substr(md5('r7:' || g.doc_id), 1, 8))::BIGINT AS u
       | FROM g JOIN p2 p USING (lang))
       |SELECT lang, count(*) AS kept,
       | CAST(sum(tokens) AS BIGINT) AS sum_tokens,
       | min(doc_id) AS first_doc
       |FROM k WHERE u * n_s < target * 4294967296
       |GROUP BY lang ORDER BY lang""".stripMargin
  }

  // ---------------------------------------------------------------- q106
  // Batch BM25 (Retrieval.bm25TopKBatch): three concurrent queries in
  // ONE corpus pass — the per-article fan-out of the reference's
  // related-articles loop. The batch's distinct term union prunes the
  // postings via a broadcast semi join BEFORE the tf shuffle; tf/df
  // are computed once and fan out to queries by a broadcast join on
  // term; per-query top-k is a candidate-sized window. Terms span the
  // df spectrum and OVERLAP across queries (q1/q3 share 'dup', q2/q3
  // share 'window') so the fan-out path is actually exercised.
  private[queries] def q106(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val queries = Seq(
      (1L, Seq("spark", "dup")),
      (2L, Seq("window", "shuffle")),
      (3L, Seq("dup", "window", "spark"))).toDF("query_id", "terms")
    Retrieval.bm25TopKBatch(t(s, dir, "documents"), "doc_id", "text",
        queries, "query_id", "terms", k = 10)
      .orderBy($"query_id", $"rank")
  }
  private[queries] lazy val q106Sql =
    """WITH qt AS (SELECT DISTINCT query_id, term FROM (VALUES
      |  (1, 'spark'), (1, 'dup'),
      |  (2, 'window'), (2, 'shuffle'),
      |  (3, 'dup'), (3, 'window'), (3, 'spark')) AS v(query_id, term)),
      |tk AS (SELECT doc_id,
      |  list_filter(string_split_regex(lower(text), '\s+'),
      |    x -> len(x) > 0) AS toks
      | FROM documents),
      |d AS (SELECT doc_id, coalesce(len(toks), 0) AS dl, toks FROM tk),
      |st AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM d),
      |p AS (SELECT doc_id, dl, unnest(toks) AS term FROM d),
      |f AS (SELECT doc_id, dl, term, count(*) AS tf FROM p
      | WHERE term IN (SELECT term FROM qt) GROUP BY 1, 2, 3),
      |dfs AS (SELECT term, count(*) AS df FROM f GROUP BY 1),
      |sc AS (SELECT query_id, doc_id,
      |  floor(sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
      |      * tf * (1.2 + 1.0)
      |      / (tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl)))
      |    * 1e6 + 0.5) / 1e6 AS score
      | FROM f JOIN qt USING (term) JOIN dfs USING (term) CROSS JOIN st
      | GROUP BY query_id, doc_id),
      |r AS (SELECT query_id, doc_id, score,
      |  row_number() OVER (PARTITION BY query_id
      |    ORDER BY score DESC, doc_id) AS rank FROM sc)
      |SELECT CAST(query_id AS BIGINT) AS query_id,
      | CAST(rank AS BIGINT) AS rank, doc_id, score
      |FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  // ---------------------------------------------------------------- q115
  // Hybrid retrieval by reciprocal-rank fusion (Retrieval.rrfFuse):
  // the BM25 arm and an independent token-Jaccard arm rank the same
  // query batch; fusion happens in RANK space (1/(60+rank) per arm),
  // so incomparable score scales combine without calibration — the
  // hybrid-search shape of modern vector stores, on the engine's own
  // operators. DuckDB replays both arms and the fusion arithmetic.
  private[queries] def q115(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val queries = Seq(
      (1L, Seq("spark", "dup")),
      (2L, Seq("window", "shuffle")),
      (3L, Seq("dup", "window", "spark"))).toDF("query_id", "terms")
    val docs = t(s, dir, "documents")
    val bm = Retrieval.bm25TopKBatch(docs, "doc_id", "text",
      queries, "query_id", "terms", k = 20)
    val ja = Retrieval.tokenJaccardTopK(docs, "doc_id", "text",
      queries, "query_id", "terms", k = 20)
    Retrieval.rrfFuse(Seq(
        bm.select($"query_id", $"doc_id", $"rank"),
        ja.select($"query_id", $"doc_id", $"rank")), rrfK = 60, k = 10)
      .orderBy($"query_id", $"rank")
  }
  private[queries] lazy val q115Sql =
    """WITH qt AS (SELECT DISTINCT query_id, term FROM (VALUES
      |  (1, 'spark'), (1, 'dup'),
      |  (2, 'window'), (2, 'shuffle'),
      |  (3, 'dup'), (3, 'window'), (3, 'spark')) AS v(query_id, term)),
      |tk AS (SELECT doc_id,
      |  list_filter(string_split_regex(lower(text), '\s+'),
      |    x -> len(x) > 0) AS toks
      | FROM documents),
      |d AS (SELECT doc_id, coalesce(len(toks), 0) AS dl, toks FROM tk),
      |st AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM d),
      |p AS (SELECT doc_id, dl, unnest(toks) AS term FROM d),
      |f AS (SELECT doc_id, dl, term, count(*) AS tf FROM p
      | WHERE term IN (SELECT term FROM qt) GROUP BY 1, 2, 3),
      |dfs AS (SELECT term, count(*) AS df FROM f GROUP BY 1),
      |bm AS (SELECT query_id, doc_id,
      |  floor(sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
      |      * tf * (1.2 + 1.0)
      |      / (tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl)))
      |    * 1e6 + 0.5) / 1e6 AS score
      | FROM f JOIN qt USING (term) JOIN dfs USING (term) CROSS JOIN st
      | GROUP BY query_id, doc_id),
      |bma AS (SELECT query_id, doc_id, rank FROM (
      |  SELECT query_id, doc_id,
      |   row_number() OVER (PARTITION BY query_id
      |     ORDER BY score DESC, doc_id) AS rank FROM bm) WHERE rank <= 20),
      |ds AS (SELECT doc_id, len(list_distinct(toks)) AS d_n FROM tk),
      |qs AS (SELECT query_id, count(*) AS q_n FROM qt GROUP BY 1),
      |it AS (SELECT query_id, doc_id, count(*) AS inter
      | FROM (SELECT doc_id, unnest(list_distinct(toks)) AS term FROM tk) p2
      | JOIN qt USING (term) GROUP BY 1, 2),
      |ja AS (SELECT query_id, doc_id,
      |  floor(inter / (q_n + d_n - inter) * 1e6 + 0.5) / 1e6 AS score
      | FROM it JOIN qs USING (query_id) JOIN ds USING (doc_id)),
      |jaa AS (SELECT query_id, doc_id, rank FROM (
      |  SELECT query_id, doc_id,
      |   row_number() OVER (PARTITION BY query_id
      |     ORDER BY score DESC, doc_id) AS rank FROM ja) WHERE rank <= 20),
      |u AS (SELECT query_id, doc_id, 1.0 / (60 + rank) AS part FROM bma
      | UNION ALL
      | SELECT query_id, doc_id, 1.0 / (60 + rank) FROM jaa),
      |fs AS (SELECT query_id, doc_id,
      |  floor(sum(part) * 1e9 + 0.5) / 1e9 AS score
      | FROM u GROUP BY 1, 2),
      |fr AS (SELECT query_id, doc_id, score,
      |  row_number() OVER (PARTITION BY query_id
      |    ORDER BY score DESC, doc_id) AS rank FROM fs)
      |SELECT CAST(query_id AS BIGINT) AS query_id,
      | CAST(rank AS BIGINT) AS rank, doc_id, score
      |FROM fr WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  // ---------------------------------------------------------------- q116
  // BM25 served from a PERSISTED postings index (Retrieval.
  // buildBm25Index → parquet under a term-keyed layout → reload →
  // bm25FromIndex): the corpus is tokenized ONCE at build time and
  // every later query batch probes the index with zero corpus scans —
  // the lexical twin of the persisted ANN/dedup indexes. The round
  // trip through parquet is part of the query; the oracle computes the
  // same ranking from scratch, so index build + persistence + serving
  // must together be value-identical to direct evaluation.
  private[queries] def q116(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tmp = graft.TempDirs.create("graft-q116")
    val (post, stats) = Retrieval.buildBm25Index(
      t(s, dir, "documents"), "doc_id", "text")
    Layout.byKey(post, "term", 4, "doc_id")
      .write.mode("overwrite").parquet(s"$tmp/postings")
    stats.write.mode("overwrite").parquet(s"$tmp/stats")
    val queries = Seq(
      (1L, Seq("spark", "window")),
      (2L, Seq("dup", "shuffle"))).toDF("query_id", "terms")
    Retrieval.bm25FromIndex(
        s.read.parquet(s"$tmp/postings"), s.read.parquet(s"$tmp/stats"),
        queries, "query_id", "terms", k = 8)
      .orderBy($"query_id", $"rank")
  }
  private[queries] lazy val q116Sql =
    """WITH qt AS (SELECT DISTINCT query_id, term FROM (VALUES
      |  (1, 'spark'), (1, 'window'),
      |  (2, 'dup'), (2, 'shuffle')) AS v(query_id, term)),
      |tk AS (SELECT doc_id,
      |  list_filter(string_split_regex(lower(text), '\s+'),
      |    x -> len(x) > 0) AS toks
      | FROM documents),
      |d AS (SELECT doc_id, coalesce(len(toks), 0) AS dl, toks FROM tk),
      |st AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM d),
      |p AS (SELECT doc_id, dl, unnest(toks) AS term FROM d),
      |f AS (SELECT doc_id, dl, term, count(*) AS tf FROM p
      | WHERE term IN (SELECT term FROM qt) GROUP BY 1, 2, 3),
      |dfs AS (SELECT term, count(*) AS df FROM f GROUP BY 1),
      |sc AS (SELECT query_id, doc_id,
      |  floor(sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
      |      * tf * (1.2 + 1.0)
      |      / (tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl)))
      |    * 1e6 + 0.5) / 1e6 AS score
      | FROM f JOIN qt USING (term) JOIN dfs USING (term) CROSS JOIN st
      | GROUP BY query_id, doc_id),
      |r AS (SELECT query_id, doc_id, score,
      |  row_number() OVER (PARTITION BY query_id
      |    ORDER BY score DESC, doc_id) AS rank FROM sc)
      |SELECT CAST(query_id AS BIGINT) AS query_id,
      | CAST(rank AS BIGINT) AS rank, doc_id, score
      |FROM r WHERE rank <= 8 ORDER BY query_id, rank""".stripMargin

  // ---------------------------------------------------------------- q117
  // Full BM25 index LIFECYCLE under the oracle: build → persist →
  // delete (every-7th doc leaves, Retrieval.deleteFromBm25Index's
  // anti-join + additive stats decrement) → in-place update of three
  // surviving docs (Retrieval.updateBm25Index, the reference's $set
  // rewrite shape, summarize_utils.py:84-88) → persist again → serve.
  // The oracle computes the SAME ranking from scratch over the final
  // corpus (documents minus deleted, with updated texts substituted),
  // so delete/update maintenance must be value-identical to a rebuild
  // — the lexical twin of the ANN index's append/delete lifecycle.
  private[queries] def q117(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tmp = graft.TempDirs.create("graft-q117")
    val docs = t(s, dir, "documents")
    val (post, stats) = Retrieval.buildBm25Index(docs, "doc_id", "text")
    Layout.byKey(post, "term", 4, "doc_id")
      .write.mode("overwrite").parquet(s"$tmp/postings")
    stats.write.mode("overwrite").parquet(s"$tmp/stats")
    val deleted = docs.select($"doc_id").filter($"doc_id" % 7 === 3)
    val (p1, s1) = Retrieval.deleteFromBm25Index(
      s.read.parquet(s"$tmp/postings"), s.read.parquet(s"$tmp/stats"),
      deleted, "doc_id")
    val updated = Seq(
      (4L, "spark shuffle window dup spark"),
      (8L, "window dup dup"),
      (12L, "spark spark shuffle")).toDF("doc_id", "text")
    val (p2, s2) = Retrieval.updateBm25Index(p1, s1, updated,
      "doc_id", "text")
    Layout.byKey(p2, "term", 4, "doc_id")
      .write.mode("overwrite").parquet(s"$tmp/postings2")
    s2.write.mode("overwrite").parquet(s"$tmp/stats2")
    val queries = Seq(
      (1L, Seq("spark", "window")),
      (2L, Seq("dup", "shuffle"))).toDF("query_id", "terms")
    Retrieval.bm25FromIndex(
        s.read.parquet(s"$tmp/postings2"), s.read.parquet(s"$tmp/stats2"),
        queries, "query_id", "terms", k = 8)
      .orderBy($"query_id", $"rank")
  }
  private[queries] lazy val q117Sql =
    """WITH qt AS (SELECT DISTINCT query_id, term FROM (VALUES
      |  (1, 'spark'), (1, 'window'),
      |  (2, 'dup'), (2, 'shuffle')) AS v(query_id, term)),
      |upd AS (SELECT * FROM (VALUES
      |  (4, 'spark shuffle window dup spark'),
      |  (8, 'window dup dup'),
      |  (12, 'spark spark shuffle')) AS u(doc_id, text)),
      |corpus AS (SELECT d.doc_id, coalesce(u.text, d.text) AS text
      | FROM documents d LEFT JOIN upd u ON d.doc_id = u.doc_id
      | WHERE d.doc_id % 7 <> 3),
      |tk AS (SELECT doc_id,
      |  list_filter(string_split_regex(lower(text), '\s+'),
      |    x -> len(x) > 0) AS toks
      | FROM corpus),
      |d AS (SELECT doc_id, coalesce(len(toks), 0) AS dl, toks FROM tk),
      |st AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM d),
      |p AS (SELECT doc_id, dl, unnest(toks) AS term FROM d),
      |f AS (SELECT doc_id, dl, term, count(*) AS tf FROM p
      | WHERE term IN (SELECT term FROM qt) GROUP BY 1, 2, 3),
      |dfs AS (SELECT term, count(*) AS df FROM f GROUP BY 1),
      |sc AS (SELECT query_id, doc_id,
      |  floor(sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
      |      * tf * (1.2 + 1.0)
      |      / (tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl)))
      |    * 1e6 + 0.5) / 1e6 AS score
      | FROM f JOIN qt USING (term) JOIN dfs USING (term) CROSS JOIN st
      | GROUP BY query_id, doc_id),
      |r AS (SELECT query_id, doc_id, score,
      |  row_number() OVER (PARTITION BY query_id
      |    ORDER BY score DESC, doc_id) AS rank FROM sc)
      |SELECT CAST(query_id AS BIGINT) AS query_id,
      | CAST(rank AS BIGINT) AS rank, doc_id, score
      |FROM r WHERE rank <= 8 ORDER BY query_id, rank""".stripMargin

  // ---------------------------------------------------------------- q118
  // Hybrid LEXICAL + VECTOR retrieval — the reference's actual
  // related-articles shape (get_relevant_articles.py:64-88 ranks by
  // vector similarity; the BM25 arm is the lexical complement): an
  // index-served BM25 arm (Retrieval.bm25FromIndex over a persisted
  // postings index) fuses with an SQ8 scalar-quantized ANN arm
  // (Similarity.sq8TopK — deterministic encode→reconstruct→rank, the
  // q113 contract) via reciprocal-rank fusion in RANK space. Query ids
  // double as vec ids (the batch's docs ARE its query vectors), so
  // both arms key on the same (query_id, doc_id) and DuckDB replays
  // both arms AND the fusion arithmetic value-for-value.
  private[queries] def q118(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tmp = graft.TempDirs.create("graft-q118")
    val docs = t(s, dir, "documents")
    val (post, stats) = Retrieval.buildBm25Index(docs, "doc_id", "text")
    Layout.byKey(post, "term", 4, "doc_id")
      .write.mode("overwrite").parquet(s"$tmp/postings")
    stats.write.mode("overwrite").parquet(s"$tmp/stats")
    val queries = Seq(
      (3L, Seq("spark", "window")),
      (7L, Seq("dup", "shuffle"))).toDF("query_id", "terms")
    val lex = Retrieval.bm25FromIndex(
      s.read.parquet(s"$tmp/postings"), s.read.parquet(s"$tmp/stats"),
      queries, "query_id", "terms", k = 20)
    val emb = t(s, dir, "embeddings")
    val codes = Similarity.sq8Encode(emb, "vec_id", "embedding")
    val vec = Similarity.sq8TopK(emb.filter($"vec_id".isin(3L, 7L)),
        codes, "vec_id", "embedding", k = 20)
      .select($"q_id".as("query_id"), $"c_id".as("doc_id"), $"rank")
    Retrieval.rrfFuse(Seq(
        lex.select($"query_id", $"doc_id", $"rank"), vec),
        rrfK = 60, k = 10)
      .orderBy($"query_id", $"rank")
  }
  private[queries] lazy val q118Sql =
    """WITH qt AS (SELECT DISTINCT query_id, term FROM (VALUES
      |  (3, 'spark'), (3, 'window'),
      |  (7, 'dup'), (7, 'shuffle')) AS v(query_id, term)),
      |tk AS (SELECT doc_id,
      |  list_filter(string_split_regex(lower(text), '\s+'),
      |    x -> len(x) > 0) AS toks
      | FROM documents),
      |d AS (SELECT doc_id, coalesce(len(toks), 0) AS dl, toks FROM tk),
      |st AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM d),
      |p AS (SELECT doc_id, dl, unnest(toks) AS term FROM d),
      |f AS (SELECT doc_id, dl, term, count(*) AS tf FROM p
      | WHERE term IN (SELECT term FROM qt) GROUP BY 1, 2, 3),
      |dfs AS (SELECT term, count(*) AS df FROM f GROUP BY 1),
      |bm AS (SELECT query_id, doc_id,
      |  floor(sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
      |      * tf * (1.2 + 1.0)
      |      / (tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl)))
      |    * 1e6 + 0.5) / 1e6 AS score
      | FROM f JOIN qt USING (term) JOIN dfs USING (term) CROSS JOIN st
      | GROUP BY query_id, doc_id),
      |bma AS (SELECT query_id, doc_id, rank FROM (
      |  SELECT query_id, doc_id,
      |   row_number() OVER (PARTITION BY query_id
      |     ORDER BY score DESC, doc_id) AS rank FROM bm) WHERE rank <= 20),
      |cv AS (SELECT vec_id AS c_id, embedding::DOUBLE[] AS v
      | FROM embeddings),
      |sq AS (SELECT c_id, v, list_min(v) AS lo,
      |  (list_max(v) - list_min(v)) / 255.0 AS sc FROM cv),
      |rc AS (SELECT c_id,
      |  CASE WHEN sc > 0
      |   THEN list_transform(v, x -> lo + floor((x - lo) / sc + 0.5) * sc)
      |   ELSE list_transform(v, x -> lo) END AS cvv
      | FROM sq),
      |qv AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qvec
      | FROM embeddings WHERE vec_id IN (3, 7)),
      |vs AS (SELECT q_id, c_id,
      |  list_dot_product(qvec, cvv)
      |   / (sqrt(list_dot_product(qvec, qvec))
      |      * sqrt(list_dot_product(cvv, cvv))) AS sim
      | FROM qv, rc WHERE q_id <> c_id),
      |vra AS (SELECT q_id AS query_id, c_id AS doc_id, rank FROM (
      |  SELECT q_id, c_id,
      |   row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id)
      |     AS rank FROM vs) WHERE rank <= 20),
      |u AS (SELECT query_id, doc_id, 1.0 / (60 + rank) AS part FROM bma
      | UNION ALL
      | SELECT query_id, doc_id, 1.0 / (60 + rank) FROM vra),
      |fs AS (SELECT query_id, doc_id,
      |  floor(sum(part) * 1e9 + 0.5) / 1e9 AS score
      | FROM u GROUP BY 1, 2),
      |fr AS (SELECT query_id, doc_id, score,
      |  row_number() OVER (PARTITION BY query_id
      |    ORDER BY score DESC, doc_id) AS rank FROM fs)
      |SELECT CAST(query_id AS BIGINT) AS query_id,
      | CAST(rank AS BIGINT) AS rank, doc_id, score
      |FROM fr WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  // ---------------------------------------------------------------- q123
  // CCNet perplexity filtering (Wenzek et al., LREC 2020 — the quality
  // gate the major web corpora actually apply): fit an add-one-
  // smoothed bigram LM on the even-id half of the corpus (the "clean
  // reference" role), score the odd-id half by mean transition NLL and
  // perplexity, and partition it into head/middle/tail tiers at the
  // p33/p66 perplexity percentiles (exact at oracle accuracy — the
  // q98 sketch contract). Counts are exact integers; ln/exp happen
  // once per transition/doc and both score columns carry the 6-decimal
  // floor guard, so DuckDB replays fit + score + tier end to end.
  private[queries] def q123(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents")
    val lm = LangModel.fitBigramLm(docs.filter($"doc_id" % 2 === 0),
      "text")
    val scored = LangModel.perplexity(docs.filter($"doc_id" % 2 === 1),
      "doc_id", "text", lm)
    LangModel.perplexityTiers(scored).orderBy($"doc_id")
  }
  private[queries] lazy val q123Sql =
    """WITH ref AS (
      | SELECT list_filter(string_split_regex(lower(text), '\s+'),
      |   x -> len(x) > 0) AS tk
      | FROM documents WHERE doc_id % 2 = 0),
      |uni AS (
      | SELECT tok, count(*) AS c1
      | FROM (SELECT unnest(tk) AS tok FROM ref) GROUP BY 1),
      |v AS (SELECT count(*) AS vocab FROM uni),
      |bi AS (
      | SELECT tok1, tok2, count(*) AS c12 FROM (
      |  SELECT tk[p+1] AS tok1, tk[p+2] AS tok2 FROM (
      |   SELECT tk, unnest(range(len(tk) - 1)) AS p
      |   FROM ref WHERE len(tk) >= 2))
      | GROUP BY 1, 2),
      |cand AS (
      | SELECT doc_id, list_filter(string_split_regex(lower(text),
      |   '\s+'), x -> len(x) > 0) AS tk
      | FROM documents WHERE doc_id % 2 = 1),
      |ct AS (
      | SELECT doc_id, tok1, tok2, count(*) AS m FROM (
      |  SELECT doc_id, tk[p+1] AS tok1, tk[p+2] AS tok2 FROM (
      |   SELECT doc_id, tk, unnest(range(len(tk) - 1)) AS p
      |   FROM cand WHERE len(tk) >= 2))
      | GROUP BY 1, 2, 3),
      |sc AS (
      | SELECT doc_id, sum(m) AS n_trans,
      |  sum(m * ln((coalesce(c12, 0) + 1.0)
      |    / (coalesce(c1, 0) + vocab))) AS ll
      | FROM ct
      | LEFT JOIN bi USING (tok1, tok2)
      | LEFT JOIN uni ON ct.tok1 = uni.tok
      | CROSS JOIN v
      | GROUP BY doc_id),
      |scored AS (
      | SELECT c.doc_id, CAST(coalesce(len(c.tk), 0) AS BIGINT) AS tokens,
      |  CAST(coalesce(s.n_trans, 0) AS BIGINT) AS n_trans,
      |  floor(-s.ll / s.n_trans * 1e6 + 0.5) / 1e6 AS avg_nll,
      |  floor(exp(-s.ll / s.n_trans) * 1e6 + 0.5) / 1e6 AS ppl
      | FROM cand c LEFT JOIN sc s USING (doc_id)),
      |cuts AS (
      | SELECT quantile_disc(ppl, [1.0/3, 2.0/3]) AS qs
      | FROM scored WHERE ppl IS NOT NULL)
      |SELECT doc_id, tokens, n_trans, avg_nll, ppl,
      | CASE WHEN ppl IS NULL THEN 'na'
      |  WHEN ppl <= qs[1] THEN 'head'
      |  WHEN ppl <= qs[2] THEN 'middle'
      |  ELSE 'tail' END AS tier
      |FROM scored CROSS JOIN cuts
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q125
  // Modern-pipeline capstone: the two big session additions COMPOSED —
  // exact substring dedup feeding CCNet perplexity filtering, the
  // Lee-et-al → Wenzek-et-al sequence real refineries run (strip
  // repeated passages FIRST so boilerplate can't poison the LM fit or
  // deflate candidate perplexity, then tier on the cleaned text and
  // keep head+middle). One oracled query pins the composition: q122's
  // planted-boilerplate corpus → stripDuplicateSpans → fit the bigram
  // LM on the even-id CLEAN half → score/tier the odd-id clean half →
  // survivors. The DuckDB oracle replays the entire chain (grams →
  // spans → strip → fit → score → cuts → tier → filter) so stage
  // composition can't drift the way separately-green stages could.
  private[queries] def q125(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val corpus = t(s, dir, "documents").filter($"doc_id" < 400)
      .select($"doc_id", when($"doc_id" % 3 === 0,
          concat($"text", lit(" " + q122Boiler)))
        .otherwise($"text").as("text"))
    val spans = Dedup.duplicateSpans(corpus, "doc_id", "text", k = 6,
      hash = Dedup.Md5)
    // Materialize: clean feeds BOTH the LM fit and the scoring branch
    val clean = Materialize(
      Dedup.stripDuplicateSpans(corpus, "doc_id", "text", spans)
        .select($"doc_id", $"clean_text".as("text")))
    val lm = LangModel.fitBigramLm(clean.filter($"doc_id" % 2 === 0),
      "text")
    val scored = LangModel.perplexity(clean.filter($"doc_id" % 2 === 1),
      "doc_id", "text", lm)
    LangModel.perplexityTiers(scored)
      .filter($"tier" === "head" || $"tier" === "middle")
      .select($"doc_id", $"tokens", $"ppl", $"tier")
      .orderBy($"doc_id")
  }
  private[queries] lazy val q125Sql = {
    val gram = (1 to 6).map(j => s"tk[p+$j]").mkString(" || ' ' || ")
    s"""WITH corpus AS (
      | SELECT doc_id,
      |  CASE WHEN doc_id % 3 = 0 THEN text || ' $q122Boiler'
      |   ELSE text END AS text
      | FROM documents WHERE doc_id < 400),
      |toks AS (
      | SELECT doc_id, list_filter(string_split_regex(lower(text),
      |   '\\s+'), x -> len(x) > 0) AS tk
      | FROM corpus),
      |gp AS (
      | SELECT doc_id, tk, unnest(range(len(tk) - 5)) AS p
      | FROM toks WHERE len(tk) >= 6),
      |grams AS (
      | SELECT doc_id, p AS pos,
      |  ('0x' || substr(md5($gram), 1, 8))::BIGINT AS fp
      | FROM gp),
      |sites AS (
      | SELECT doc_id, pos,
      |  row_number() OVER (PARTITION BY fp ORDER BY doc_id, pos) AS rn
      | FROM grams),
      |dup AS (
      | SELECT doc_id, pos AS s, pos + 6 AS e FROM sites WHERE rn > 1),
      |flag AS (
      | SELECT doc_id, s, e,
      |  CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id
      |    ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |    -1) THEN 1 ELSE 0 END AS ng
      | FROM dup),
      |grp AS (
      | SELECT doc_id, s, e,
      |  sum(ng) OVER (PARTITION BY doc_id ORDER BY s) AS g
      | FROM flag),
      |spans AS (
      | SELECT doc_id, g, min(s) AS ss, max(e) AS se
      | FROM grp GROUP BY doc_id, g),
      |tpos AS (
      | SELECT doc_id, unnest(tk) AS tok, unnest(range(len(tk))) AS pos
      | FROM toks),
      |keptt AS (
      | SELECT k.doc_id, k.pos, k.tok FROM tpos k
      | WHERE NOT EXISTS (SELECT 1 FROM spans sp
      |   WHERE sp.doc_id = k.doc_id
      |    AND k.pos >= sp.ss AND k.pos < sp.se)),
      |cagg AS (
      | SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text
      | FROM keptt GROUP BY doc_id),
      |clean AS (
      | SELECT c.doc_id, coalesce(a.clean_text, '') AS text
      | FROM corpus c LEFT JOIN cagg a USING (doc_id)),
      |ctk AS (
      | SELECT doc_id, list_filter(string_split_regex(lower(text),
      |   '\\s+'), x -> len(x) > 0) AS tk
      | FROM clean),
      |uni AS (
      | SELECT tok, count(*) AS c1
      | FROM (SELECT unnest(tk) AS tok FROM ctk WHERE doc_id % 2 = 0)
      | GROUP BY 1),
      |v AS (SELECT count(*) AS vocab FROM uni),
      |bi AS (
      | SELECT tok1, tok2, count(*) AS c12 FROM (
      |  SELECT tk[p+1] AS tok1, tk[p+2] AS tok2 FROM (
      |   SELECT tk, unnest(range(len(tk) - 1)) AS p
      |   FROM ctk WHERE doc_id % 2 = 0 AND len(tk) >= 2))
      | GROUP BY 1, 2),
      |cand AS (SELECT doc_id, tk FROM ctk WHERE doc_id % 2 = 1),
      |ct AS (
      | SELECT doc_id, tok1, tok2, count(*) AS m FROM (
      |  SELECT doc_id, tk[p+1] AS tok1, tk[p+2] AS tok2 FROM (
      |   SELECT doc_id, tk, unnest(range(len(tk) - 1)) AS p
      |   FROM cand WHERE len(tk) >= 2))
      | GROUP BY 1, 2, 3),
      |sc AS (
      | SELECT doc_id, sum(m) AS n_trans,
      |  sum(m * ln((coalesce(c12, 0) + 1.0)
      |    / (coalesce(c1, 0) + vocab))) AS ll
      | FROM ct
      | LEFT JOIN bi USING (tok1, tok2)
      | LEFT JOIN uni ON ct.tok1 = uni.tok
      | CROSS JOIN v
      | GROUP BY doc_id),
      |scored AS (
      | SELECT c.doc_id, CAST(coalesce(len(c.tk), 0) AS BIGINT) AS tokens,
      |  floor(exp(-s.ll / s.n_trans) * 1e6 + 0.5) / 1e6 AS ppl
      | FROM cand c LEFT JOIN sc s USING (doc_id)),
      |cuts AS (
      | SELECT quantile_disc(ppl, [1.0/3, 2.0/3]) AS qs
      | FROM scored WHERE ppl IS NOT NULL),
      |tiers AS (
      | SELECT doc_id, tokens, ppl,
      |  CASE WHEN ppl IS NULL THEN 'na'
      |   WHEN ppl <= qs[1] THEN 'head'
      |   WHEN ppl <= qs[2] THEN 'middle'
      |   ELSE 'tail' END AS tier
      | FROM scored CROSS JOIN cuts)
      |SELECT doc_id, tokens, ppl, tier FROM tiers
      |WHERE tier IN ('head', 'middle')
      |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q126
  // Per-language CCNet filtering — the paper's ACTUAL design, which
  // q123 simplifies away: one LM and one set of percentile cuts PER
  // LANGUAGE, because perplexity is not comparable across languages.
  // All languages fit in a single pair of aggregations (lang is just
  // another grouping key), every doc scores against its own language's
  // model, and the head/middle/tail cuts come from a GROUPED sketch
  // (q98's exact-at-oracle-accuracy contract per group). A language
  // present only in the candidate half has no model → null vocab →
  // unscorable 'na', a row property. DuckDB replays fit, per-lang
  // scoring, grouped cuts, and tier assignment end to end.
  private[queries] def q126(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents")
    val lm = LangModel.fitBigramLmPerLang(
      docs.filter($"doc_id" % 2 === 0), "lang", "text")
    val scored = LangModel.perplexityPerLang(
      docs.filter($"doc_id" % 2 === 1), "doc_id", "lang", "text", lm)
    LangModel.perplexityTiersPerLang(scored)
      .select($"doc_id", $"lang", $"tokens", $"n_trans", $"avg_nll",
        $"ppl", $"tier")
      .orderBy($"doc_id")
  }
  private[queries] lazy val q126Sql =
    """WITH ref AS (
      | SELECT lang, list_filter(string_split_regex(lower(text),
      |   '\s+'), x -> len(x) > 0) AS tk
      | FROM documents WHERE doc_id % 2 = 0),
      |uni AS (
      | SELECT lang, tok, count(*) AS c1
      | FROM (SELECT lang, unnest(tk) AS tok FROM ref) GROUP BY 1, 2),
      |v AS (SELECT lang, count(*) AS vocab FROM uni GROUP BY 1),
      |bi AS (
      | SELECT lang, tok1, tok2, count(*) AS c12 FROM (
      |  SELECT lang, tk[p+1] AS tok1, tk[p+2] AS tok2 FROM (
      |   SELECT lang, tk, unnest(range(len(tk) - 1)) AS p
      |   FROM ref WHERE len(tk) >= 2))
      | GROUP BY 1, 2, 3),
      |cand AS (
      | SELECT doc_id, lang, list_filter(string_split_regex(lower(text),
      |   '\s+'), x -> len(x) > 0) AS tk
      | FROM documents WHERE doc_id % 2 = 1),
      |ct AS (
      | SELECT doc_id, lang, tok1, tok2, count(*) AS m FROM (
      |  SELECT doc_id, lang, tk[p+1] AS tok1, tk[p+2] AS tok2 FROM (
      |   SELECT doc_id, lang, tk, unnest(range(len(tk) - 1)) AS p
      |   FROM cand WHERE len(tk) >= 2))
      | GROUP BY 1, 2, 3, 4),
      |sc AS (
      | SELECT doc_id, sum(m) AS n_trans,
      |  sum(m * ln((coalesce(c12, 0) + 1.0)
      |    / (coalesce(c1, 0) + vocab))) AS ll
      | FROM ct
      | LEFT JOIN bi USING (lang, tok1, tok2)
      | LEFT JOIN uni ON ct.lang = uni.lang AND ct.tok1 = uni.tok
      | LEFT JOIN v ON ct.lang = v.lang
      | GROUP BY doc_id),
      |scored AS (
      | SELECT c.doc_id, c.lang,
      |  CAST(coalesce(len(c.tk), 0) AS BIGINT) AS tokens,
      |  CAST(coalesce(s.n_trans, 0) AS BIGINT) AS n_trans,
      |  floor(-s.ll / s.n_trans * 1e6 + 0.5) / 1e6 AS avg_nll,
      |  floor(exp(-s.ll / s.n_trans) * 1e6 + 0.5) / 1e6 AS ppl
      | FROM cand c LEFT JOIN sc s USING (doc_id)),
      |cuts AS (
      | SELECT lang, quantile_disc(ppl, [1.0/3, 2.0/3]) AS qs
      | FROM scored WHERE ppl IS NOT NULL GROUP BY lang)
      |SELECT s.doc_id, s.lang, s.tokens, s.n_trans, s.avg_nll, s.ppl,
      | CASE WHEN s.ppl IS NULL THEN 'na'
      |  WHEN s.ppl <= qs[1] THEN 'head'
      |  WHEN s.ppl <= qs[2] THEN 'middle'
      |  ELSE 'tail' END AS tier
      |FROM scored s LEFT JOIN cuts USING (lang)
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q145
  // MMR diversification rerank (Retrieval.mmrRerank): brute-force
  // cosine top-12 recall per query, then four unrolled greedy picks at
  // λ=0.7 / penalty 0.3. Oracle mode floors rel and every pairwise
  // cosine at 6dp FIRST, so both engines run the greedy argmax on
  // bit-identical doubles; the SQL unrolls the four steps as CTE
  // layers (s1 = argmax rel; s_{i+1} = argmax 0.7·rel −
  // 0.3·max(sim to picked)), the Spark side runs the general k-loop
  // kernel. penaltyWeight is passed as the literal 0.3 on both sides
  // (1.0−0.7 is one ulp off 0.3 in binary64 — parity demands the
  // same constant, not the same formula).
  private[queries] def q145(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = t(s, dir, "embeddings")
    val cand = Similarity.bruteForceTopK(emb.filter($"vec_id" < 8), emb,
        "vec_id", "embedding", 12)
      .select($"q_id",
        (floor($"sim" * 1000000.0 + 0.5) / 1000000.0).as("rel"), $"c_id")
      .join(emb.select($"vec_id".as("c_id"), $"embedding"), Seq("c_id"))
    Retrieval.mmrRerank(cand, "q_id", "c_id", "rel", "embedding",
        k = 4, lambda = 0.7, penaltyWeight = 0.3, roundDigits = 6)
      .select($"q_id", $"mmr_rank", $"c_id", $"mmr_score")
      .orderBy($"q_id", $"mmr_rank")
  }
  private[queries] lazy val q145Sql =
    """WITH qv AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS v
      |  FROM embeddings WHERE vec_id < 8),
      |cv AS (SELECT vec_id AS c_id, embedding::DOUBLE[] AS v
      |  FROM embeddings),
      |sc AS (
      | SELECT q_id, c_id,
      |  list_dot_product(qv.v, cv.v)
      |   / (sqrt(list_dot_product(qv.v, qv.v))
      |      * sqrt(list_dot_product(cv.v, cv.v))) AS sim
      | FROM qv, cv WHERE q_id <> c_id),
      |cand AS (
      | SELECT q_id, c_id,
      |  floor(sim * 1000000.0 + 0.5) / 1000000.0 AS rel
      | FROM (SELECT q_id, c_id, sim, row_number() OVER
      |    (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rn FROM sc)
      | WHERE rn <= 12),
      |p AS (
      | SELECT a.q_id, a.c_id AS a, b.c_id AS b,
      |  floor(list_dot_product(va.v, vb.v)
      |   / (sqrt(list_dot_product(va.v, va.v))
      |      * sqrt(list_dot_product(vb.v, vb.v)))
      |   * 1000000.0 + 0.5) / 1000000.0 AS sim
      | FROM cand a JOIN cand b
      |   ON a.q_id = b.q_id AND a.c_id <> b.c_id
      | JOIN cv va ON va.c_id = a.c_id
      | JOIN cv vb ON vb.c_id = b.c_id),
      |s1 AS (
      | SELECT q_id, c_id, 0.7 * rel AS score FROM (
      |  SELECT q_id, c_id, rel, row_number() OVER
      |   (PARTITION BY q_id ORDER BY rel DESC, c_id) AS rn FROM cand)
      | WHERE rn = 1),
      |c2 AS (
      | SELECT cand.q_id, cand.c_id,
      |  0.7 * cand.rel - 0.3 * p.sim AS score
      | FROM cand
      | JOIN s1 ON s1.q_id = cand.q_id
      | JOIN p ON p.q_id = cand.q_id AND p.a = cand.c_id
      |   AND p.b = s1.c_id),
      |s2 AS (SELECT q_id, c_id, score FROM (
      |  SELECT q_id, c_id, score, row_number() OVER
      |   (PARTITION BY q_id ORDER BY score DESC, c_id) AS rn FROM c2)
      | WHERE rn = 1),
      |c3 AS (
      | SELECT cand.q_id, cand.c_id,
      |  0.7 * cand.rel - 0.3 * greatest(p1.sim, p2.sim) AS score
      | FROM cand
      | JOIN s1 ON s1.q_id = cand.q_id
      | JOIN s2 ON s2.q_id = cand.q_id
      | JOIN p p1 ON p1.q_id = cand.q_id AND p1.a = cand.c_id
      |   AND p1.b = s1.c_id
      | JOIN p p2 ON p2.q_id = cand.q_id AND p2.a = cand.c_id
      |   AND p2.b = s2.c_id),
      |s3 AS (SELECT q_id, c_id, score FROM (
      |  SELECT q_id, c_id, score, row_number() OVER
      |   (PARTITION BY q_id ORDER BY score DESC, c_id) AS rn FROM c3)
      | WHERE rn = 1),
      |c4 AS (
      | SELECT cand.q_id, cand.c_id,
      |  0.7 * cand.rel
      |   - 0.3 * greatest(p1.sim, p2.sim, p3.sim) AS score
      | FROM cand
      | JOIN s1 ON s1.q_id = cand.q_id
      | JOIN s2 ON s2.q_id = cand.q_id
      | JOIN s3 ON s3.q_id = cand.q_id
      | JOIN p p1 ON p1.q_id = cand.q_id AND p1.a = cand.c_id
      |   AND p1.b = s1.c_id
      | JOIN p p2 ON p2.q_id = cand.q_id AND p2.a = cand.c_id
      |   AND p2.b = s2.c_id
      | JOIN p p3 ON p3.q_id = cand.q_id AND p3.a = cand.c_id
      |   AND p3.b = s3.c_id),
      |s4 AS (SELECT q_id, c_id, score FROM (
      |  SELECT q_id, c_id, score, row_number() OVER
      |   (PARTITION BY q_id ORDER BY score DESC, c_id) AS rn FROM c4)
      | WHERE rn = 1),
      |steps AS (
      | SELECT q_id, 1 AS r, c_id, score FROM s1
      | UNION ALL SELECT q_id, 2, c_id, score FROM s2
      | UNION ALL SELECT q_id, 3, c_id, score FROM s3
      | UNION ALL SELECT q_id, 4, c_id, score FROM s4)
      |SELECT q_id, CAST(r AS BIGINT) AS mmr_rank, c_id,
      | floor(score * 1000000.0 + 0.5) / 1000000.0 AS mmr_score
      |FROM steps ORDER BY q_id, mmr_rank""".stripMargin
}
